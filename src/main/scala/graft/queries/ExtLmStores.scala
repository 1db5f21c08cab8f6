package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, Chunking, DataCard, Dedup, Dsir, Events, Graph, LangModel, MediaStore, Multimodal, Pq, Privacy, Profiling, Quantiles, Redaction, Retrieval, SampleStore, Sampling, Scd2, Sharding, Similarity, Sketches, TextAnalysis}
import graft.streaming.Drain

/** x188-x216: SCD2 store, sample/moment/vocab/LM stores, zipf/heaps, rebuild/repair.
  * Mechanical slice of the former single-object ExtQueries (r14);
  * see ExtQueries.scala for the shared determinism conventions.
  */
private[graft] trait ExtLmStores extends ExtSkipIndexes {
  import CoreQueries.t
  // --- x188: maintained SCD2 dimension-history store ------------------------
  // x91's history as a persisted store fed day by day — with the days
  // sliced by event_id % 3, so every append delivers LATE changes that
  // re-thread existing interval chains (the hard case). Affected keys
  // rebuild from their pruned buckets; a day-1 replay must leave the
  // store row-identical. Oracle = the one-shot batch build (x91).
  /** The purchase-feed change rows shared by the SCD2 store gates. */
  protected def scd2Feed(spark: SparkSession, dir: String): DataFrame =
    ProtoStores.df(dir, "scd2feed") {
      val ev = t(spark, dir, "events")
      ev.filter(col("event_type") === "purchase")
        .withColumn("ts_us", Events.epochMicros(ev))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
    }

  /** The x188 3-day SCD2 store as a build-once prototype (d1 replay +
    * row accounting ride the build) — shared by x188 (reads it), x190
    * and x217 (clone it, then forget).
    */
  protected def scd2Proto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "scd2store") { root =>
      import graft.ext.Scd2Store
      val feed = scd2Feed(spark, dir)
      def day(d: Int) = feed.filter(pmod(col("event_id"), lit(3L)) === d.toLong)
      (0 until 3).foreach { d =>
        Scd2Store.appendDay(spark, root, day(d),
          "user_id", "ts_us", "event_id", Seq("value"))
      }
      val before = graft.sources.ManifestStore.read(spark, root).count()
      Scd2Store.appendDay(spark, root, day(1),
        "user_id", "ts_us", "event_id", Seq("value")) // replay: replace
      val after = graft.sources.ManifestStore.read(spark, root).count()
      require(after == before,
        s"x188: replay changed the store ($before -> $after rows)")
    }

  def x188Scd2Store(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Scd2Store.history(spark, scd2Proto(spark, dir))

  val x188Sql: String = x91Sql

  // --- x189: STREAMING SCD2 store maintenance (≡ x188 ≡ x91) ----------------
  // The dimension-history store joins the streaming matrix: the change
  // feed drains through foreachBatch appendDay one day per micro-batch,
  // one day re-delivered post-drain with row accounting, and the final
  // history is the batch build through the streaming door.
  def x189StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.ext.Scd2Store
    val ev = t(spark, dir, "events")
    val feed = Dedup.materialize(ev.filter(col("event_type") === "purchase")
      .withColumn("ts_us", Events.epochMicros(ev))
      .withColumn("day", pmod(col("event_id"), lit(3L)))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"),
        col("day")))
    val table = FreshTables.next(spark, dir, "sscd2store")
    val base = FreshTables.next(spark, dir, "sscd2in")
    (0 until 3).foreach { d =>
      feed.filter(col("day") === d.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Scd2Store.appendDay(spark, table, batch.drop("day"),
          "user_id", "ts_us", "event_id", Seq("value"))
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x189", 300000)
    val before = graft.sources.ManifestStore.read(spark, table).count()
    Scd2Store.appendDay(spark, table, feed.filter(col("day") === 1L),
      "user_id", "ts_us", "event_id", Seq("value"))
    val after = graft.sources.ManifestStore.read(spark, table).count()
    require(after == before,
      s"x189: replay changed the store ($before -> $after rows)")
    Scd2Store.history(spark, table)
  }

  val x189Sql: String = x91Sql

  // --- x190: SCD2 store forget (whole-key + change-level) -------------------
  // The forget matrix closes over the dimension store: doomed KEYS
  // vanish in one pruned delete commit, doomed individual CHANGES
  // re-thread their survivors' interval chains (predecessor re-opens
  // onto successor, versions renumber) via the affected-key rebuild.
  // Both re-run idempotently (the crash-recovery path); oracle = x91
  // over the surviving change rows.
  def x190Scd2Forget(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Scd2Store
    val feed = scd2Feed(spark, dir)
    val root = FreshTables.next(spark, dir, "scd2forget")
    ProtoStores.cloneTo(spark, scd2Proto(spark, dir), root)
    val doomedKeys = feed.filter(col("user_id") % 7 === 3)
    val doomedChanges = feed.filter(col("event_id") % 13 === 5)
    require(doomedKeys.count() > 0 && doomedChanges.count() > 0,
      "x190: empty doomed slice")
    def runForgets(): Unit = {
      Scd2Store.forget(spark, root, doomedKeys, "user_id")
      Scd2Store.forgetChanges(spark, root, doomedChanges,
        "user_id", "event_id", "ts_us", Seq("value"))
    }
    runForgets()
    val rows = graft.sources.ManifestStore.read(spark, root)
    require(rows.filter(col("user_id") % 7 === 3).count() == 0L,
      "x190: doomed keys survived")
    require(rows.filter(col("__seq") % 13 === 5).count() == 0L,
      "x190: doomed changes survived")
    runForgets() // idempotent re-run — the recovery path
    Scd2Store.history(spark, root)
  }

  val x190Sql: String = {
    val anchor = "WHERE event_type = 'purchase'"
    require(x91Sql.contains(anchor), "x190: x91Sql anchor moved")
    x91Sql.replace(anchor,
      anchor + " AND user_id % 7 <> 3 AND event_id % 13 <> 5")
  }

  // --- x191: aspect-ratio bucketing + budgeted batch packing ----------------
  // The multimodal batch shaper (SDXL-style public recipe) over the
  // stubbed decode: snap each media row to the nearest ladder ratio via
  // explicit midpoint boundaries (no argmin, no ties — the same IEEE
  // comparisons in both engines), then pack each bucket into <= 20000-
  // byte batches by exclusive-prefix-cost div budget in id order. The
  // decode stub's dims are deterministic functions of the byte length,
  // so the WHOLE pipeline — mapPartitions decode included — oracles.
  def x191AspectBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("blob"))
      .as[Multimodal.MediaBlob]
    val feats = Multimodal.decodeStub(media).toDF()
    Multimodal.aspectBatches(feats, "media_id", "width", "height", "byte_len",
      ladder = x191Ladder, budgetCost = 20000L)
  }

  protected val x191Ladder = Seq(0.5, 0.75, 1.0, 4.0 / 3.0, 2.0)

  val x191Sql: String = {
    val mids = x191Ladder.sliding(2).collect { case Seq(a, b) => (a + b) / 2.0d }.toSeq
    val cases = mids.zip(x191Ladder)
      .map { case (m, b) => s"WHEN ratio < $m THEN CAST($b AS DOUBLE)" }
      .mkString("\n           ")
    s"""WITH m AS (SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS len
       FROM documents WHERE text IS NOT NULL),
       d AS (SELECT media_id, len,
           CAST(len % 640 + 1 AS DOUBLE) / CAST(len % 480 + 1 AS DOUBLE) AS ratio
         FROM m),
       b AS (SELECT media_id, len,
           CASE $cases
           ELSE CAST(${x191Ladder.last} AS DOUBLE) END AS ratio_bucket
         FROM d),
       c AS (SELECT media_id, ratio_bucket, len,
           coalesce(sum(len) OVER (PARTITION BY ratio_bucket ORDER BY media_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM b)
       SELECT media_id, ratio_bucket, CAST(len AS BIGINT) AS cost,
         CAST(cum // 20000 AS BIGINT) AS batch_seq
       FROM c"""
  }

  // --- x192: store-fed KMV source-overlap (zero-pass read) ------------------
  // x182's pair algebra fed from the MAINTAINED x148-style store: the
  // day-sliced bigram feed folds into per-(source, day) min arrays, and
  // the overlap matrix reads O(sources × days × k) sketch state — no
  // token pass at all at question time. Store merge ≡ batch sketch
  // bit-for-bit (the kmvAppendDay law), so the oracle is x182's.
  def x192KmvOverlapStore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = t(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = Dedup.materialize(ws.withColumn("__w1", lead(col("w"), 1).over(byDoc))
      .filter(col("__w1").isNotNull)
      .select(col("source"), concat_ws(" ", col("w"), col("__w1")).as("bg"),
        pmod(col("doc_id"), lit(3L)).as("day")))
    val table = FreshTables.next(spark, dir, "kmvoverlap")
    (0 until 3).foreach { d =>
      Sketches.kmvAppendDay(spark, bg.filter(col("day") === d.toLong),
        "source", "bg", s"d$d", table, k = 64)
    }
    Sketches.kmvOverlap(
      Sketches.kmvMinsFromStore(spark, table, "source", k = 64), "source")
  }

  val x192Sql: String = x182Sql

  // --- x193: personalized PageRank seed expansion ---------------------------
  // Rank the near-dup pair graph by relatedness to a seed set (teleport
  // returns to the seeds, not uniform) — the model-free corpus-expansion
  // primitive. Exact 1e-9 fixed-point integer arithmetic throughout
  // (x85's discipline), 3 rounds unrolled in the oracle.
  def x193PprExpand(spark: SparkSession, dir: String): DataFrame =
    Graph.pagerankFrom(
      allPairs(spark, dir),
      "id_a", "id_b", "doc_id",
      t(spark, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 2 === 0),
      "doc_id", iters = 3)

  protected def pprCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""m$i AS (SELECT ud.v, CAST(sum(r${i - 1}.r // ud.deg) AS BIGINT) AS s
           FROM ud JOIN r${i - 1} USING (u) GROUP BY 1),
         r$i AS (SELECT deg.u,
             CASE WHEN deg.is_seed THEN 15000000000 // (100 * ns) ELSE 0 END
               + (85 * coalesce(s, 0)) // 100 AS r
           FROM deg LEFT JOIN m$i ON m$i.v = deg.u CROSS JOIN ns)"""
    }.mkString(",\n       ")

  val x193Sql: String =
    s"""WITH ${jaccardCtes(3)},
       e AS (SELECT id_a, id_b
         FROM inter JOIN sizes na ON na.doc_id = id_a
         JOIN sizes nb ON nb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.7),
       und AS (SELECT id_a AS u, id_b AS v FROM e
               UNION ALL SELECT id_b, id_a FROM e),
       deg0 AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       deg AS (SELECT u, deg, (u % 2 = 0) AS is_seed FROM deg0),
       ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM deg WHERE is_seed),
       ud AS (SELECT und.u, und.v, deg.deg FROM und JOIN deg USING (u)),
       r0 AS (SELECT u, CASE WHEN is_seed THEN 1000000000 // ns ELSE 0 END AS r
         FROM deg CROSS JOIN ns),
       ${pprCtes(3)}
       SELECT deg.u AS doc_id, deg.deg AS deg, r3.r AS rank9, deg.is_seed AS is_seed
       FROM r3 JOIN deg USING (u)"""

  // --- x194: ε-DP quantile (exponential mechanism) --------------------------
  // DP median doc length per source, selecting over the DATA-INDEPENDENT
  // integer domain [0, 100000] (a data-dependent support is not ε-DP —
  // removing a value's only holder zeroes its probability): the domain
  // compresses into runs sharing (below, eq), utility = negative rank
  // distance, per-integer weights 1e-9 fixed-point, seeded integer draw
  // + in-run integer division — both engines select the identical value.
  def x194DpQuantile(spark: SparkSession, dir: String): DataFrame =
    Privacy.dpQuantile(t(spark, dir, "documents"), "source", "n_chars",
      q = 0.5, epsilon = 0.1, seed = DpFixtureSeed, lo = 0L, hi = 100000L)

  val x194Sql: String =
    s"""WITH c AS (SELECT source AS g,
           least(greatest(CAST(n_chars AS BIGINT), 0), 100000) AS v,
           CAST(count(*) AS BIGINT) AS cnt
         FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1, 2),
       r AS (SELECT g, v, cnt,
           coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
           coalesce(lead(v) OVER (PARTITION BY g ORDER BY v), 100001) AS next_v,
           sum(cnt) OVER (PARTITION BY g) AS n
         FROM c),
       runs AS (
         SELECT g, v AS start, CAST(1 AS BIGINT) AS width, below, cnt AS eq, n FROM r
         UNION ALL
         SELECT g, v + 1, next_v - v - 1, below + cnt, 0, n FROM r WHERE next_v - v - 1 > 0
         UNION ALL
         SELECT g, 0, v, 0, 0, n FROM r WHERE below = 0 AND v > 0),
       wt AS (SELECT g, start, width,
           CAST(round(exp(-0.1 / 4.0 * greatest(
             CAST(below AS DOUBLE) - 0.5 * CAST(n AS DOUBLE),
             0.5 * CAST(n AS DOUBLE) - CAST(below + eq AS DOUBLE),
             0.0)) * 1000000000.0) AS BIGINT) AS w19
         FROM runs),
       cum AS (SELECT g, start, w19, width * w19 AS rw,
           sum(width * w19) OVER (PARTITION BY g ORDER BY start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           sum(width * w19) OVER (PARTITION BY g) AS tw
         FROM wt),
       dr AS (SELECT g, start, w19, rw, cw,
           CAST(floor(((${duckHex48(s"md5('$DpFixtureSeed' || '|' || g)")}
             + 0.5) / 281474976710656.0) * CAST(tw AS DOUBLE)) AS BIGINT) AS draw
         FROM cum)
       SELECT g AS source,
         CAST(min_by(CASE WHEN w19 > 0 THEN start + (draw - (cw - rw)) // w19
                          ELSE start END, start) AS BIGINT) AS dp_quantile
       FROM dr WHERE cw > draw GROUP BY 1"""

  // --- x195: maintained weighted-sample store (A-Res joins the store matrix)
  // x39's Efraimidis-Spirakis sample as a day-over-day store: per-day
  // top-(k+slack) priority summaries merge losslessly (any global
  // k-largest priority is within its own day's k largest), day replay
  // replaces, and the slack buys exact-after-forget headroom. The gate
  // appends 3 hash-split days, replays one (row accounting), forgets
  // the global top-8 (erasure requests for the most prominent
  // samples — within slack), and reads the top-100: the oracle ranks
  // the full corpus, skips the 8 doomed, and re-ranks.
  def x195SampleStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordCount(col("text")).as("wc"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "samplestore")
    (0 until 3).foreach { b =>
      SampleStore.appendDay(spark, docs.filter(col("day") === b.toLong),
        "doc_id", col("wc"), s"d$b", k = 100, slack = 8, table = table)
    }
    // replay day 1: the (key, day) merge must REPLACE its rows
    SampleStore.appendDay(spark, docs.filter(col("day") === 1L),
      "doc_id", col("wc"), "d1", k = 100, slack = 8, table = table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    val expected = docs.groupBy(col("day")).agg(count(lit(1)).as("n"))
      .agg(sum(least(col("n"), lit(108L)))).head().getLong(0)
    require(stored == expected,
      s"x195: store holds $stored sample rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    val doomed = SampleStore.sampleFromStore(spark, table, "doc_id", 8)
      .select(col("doc_id"))
    SampleStore.forget(spark, table, "doc_id", doomed, forgetSeq = 1L)
    SampleStore.sampleFromStore(spark, table, "doc_id", 100)
  }

  val x195Sql: String =
    s"""WITH w AS (SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS wc,
         md5(CAST(doc_id AS VARCHAR)) AS hx
       FROM documents),
       h AS (SELECT doc_id, wc, ${duckHex48("hx")} AS h48 FROM w),
       k AS (SELECT doc_id,
             round(ln((CAST(h48 AS DOUBLE) + 0.5) / 281474976710656.0)
                   / greatest(CAST(wc AS DOUBLE), 1.0), 6) AS es_key FROM h),
       r AS (SELECT doc_id, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rn FROM k),
       s AS (SELECT doc_id, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rn2
         FROM r WHERE rn > 8)
       SELECT doc_id, CAST(rn2 AS BIGINT) AS sample_rank, es_key
       FROM s WHERE rn2 <= 100"""

  // --- x196: STREAMING sample-store maintenance ------------------------------
  // x195's store fed by a STREAM (the x161/x162 door): document days
  // arrive as micro-batches, each folded by SampleStore.appendDay in
  // foreachBatch; one day re-delivered post-drain with row accounting.
  // Day summaries merge losslessly, so the stream-fed store read is
  // the batch A-Res sample — x39's oracle verbatim.
  def x196StreamSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.wordCount(col("text")).as("wc"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "ssamplestore")
    val base = FreshTables.next(spark, dir, "ssamplein")
    (0 until 3).foreach { b =>
      docs.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().getLong(0)
        SampleStore.appendDay(spark, batch, "doc_id", col("wc"),
          s"d$d", k = 100, slack = 8, table = table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x196", 300000)
    // at-least-once: re-deliver day 1 — the (key, day) merge replaces
    SampleStore.appendDay(spark, docs.filter(col("day") === 1L),
      "doc_id", col("wc"), "d1", k = 100, slack = 8, table = table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    val expected = docs.groupBy(col("day")).agg(count(lit(1)).as("n"))
      .agg(sum(least(col("n"), lit(108L)))).head().getLong(0)
    require(stored == expected,
      s"x196: store holds $stored sample rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    SampleStore.sampleFromStore(spark, table, "doc_id", 100)
  }

  // the stream-fed store read IS the batch sample (priority summaries
  // merge losslessly), so the oracle is x39's
  val x196Sql: String = x39Sql

  // --- x197: dominant-direction projection (all-but-the-top audit) ----------
  // The spectral primitive of Mu & Viswanath 2018's embedding fix, in
  // the x85 exact-integer discipline: quantized shifted inputs,
  // integral-div centering, 3 power-iteration rounds with
  // sign*(abs*SCALE div max) normalization — the oracle unrolls every
  // round bit-for-bit. Output: per-id exact-integer projection onto
  // the dominant direction (the anisotropy magnitude all-but-the-top
  // removes; extreme |proj| rows are the common-direction outliers).
  def x197DominantProj(spark: SparkSession, dir: String): DataFrame =
    graft.ext.EmbedPost.dominantProjection(
      spark, t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, iters = 3)

  // one power round: s from the previous direction, normalize, push
  // through c, normalize — CTE suffix r; prev is the previous x CTE
  // (pos, x)
  protected def pirRound(r: Int, prev: String): String =
    s"""s$r AS (SELECT c.vec_id, CAST(sum(c.c * p.x) AS BIGINT) AS s
         FROM c JOIN $prev p USING (pos) GROUP BY 1),
       m$r AS (SELECT greatest(CAST(max(abs(s)) // 10000 AS BIGINT), 1) AS m FROM s$r),
       n$r AS (SELECT vec_id,
           CAST(sign(s) AS BIGINT) * CAST(abs(s) // m AS BIGINT) AS sn
         FROM s$r, m$r),
       y$r AS (SELECT c.pos, CAST(sum(c.c * n.sn) AS BIGINT) AS y
         FROM c JOIN n$r n USING (vec_id) GROUP BY 1),
       w$r AS (SELECT greatest(CAST(max(abs(y)) // 10000 AS BIGINT), 1) AS m FROM y$r),
       x$r AS (SELECT pos,
           CAST(sign(y) AS BIGINT) * CAST(abs(y) // m AS BIGINT) AS x
         FROM y$r, w$r)"""

  val x197Sql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       e AS (SELECT vec_id, i AS pos,
           CAST(round(ve[i + 1] * 1000000.0) AS BIGINT) + 1000000 AS vq
         FROM v, unnest(range(0, 64)) AS u(i)),
       mu AS (SELECT pos, CAST(sum(vq) // count(*) AS BIGINT) AS mu
         FROM e GROUP BY 1),
       c AS (SELECT vec_id, pos, vq - mu AS c FROM e JOIN mu USING (pos)),
       x0 AS (SELECT i AS pos, CAST(10000 AS BIGINT) AS x
         FROM unnest(range(0, 64)) AS u(i)),
       ${pirRound(1, "x0")},
       ${pirRound(2, "x1")},
       ${pirRound(3, "x2")}
       SELECT c.vec_id, CAST(sum(c.c * p.x) AS BIGINT) AS proj
       FROM c JOIN x3 p USING (pos) GROUP BY 1"""

  // --- x198: pairwise mutual-information column profile ----------------------
  // fdProfile's association complement, fused into the SAME one-scan
  // grouping-sets Expand: MI/NMI for (lang, source), (lang,
  // len_bucket), (source, len_bucket) over documents — the leakage /
  // redundant-metadata panel. Exact counts, 1e-9 fixed-point ln terms
  // summed order-free, NMI one division of two exact sums.
  def x198MiProfile(spark: SparkSession, dir: String): DataFrame =
    Profiling.miProfile(
      t(spark, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 256L")),
      Seq(("lang", "source"), ("lang", "len_bucket"), ("source", "len_bucket")))

  // one pair's CTE chain + final row; a/b must be canonical (a < b)
  protected def miPairSql(tag: String, a: String, b: String): String =
    s"""j$tag AS (SELECT $a AS va, $b AS vb, CAST(count(*) AS BIGINT) AS c
         FROM base GROUP BY 1, 2),
       ma$tag AS (SELECT va, CAST(sum(c) AS BIGINT) AS na FROM j$tag GROUP BY 1),
       mb$tag AS (SELECT vb, CAST(sum(c) AS BIGINT) AS nb FROM j$tag GROUP BY 1),
       t$tag AS (SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS cells FROM j$tag),
       mi$tag AS (SELECT t.n, t.cells,
           CAST(sum(CAST(round((CAST(j.c AS DOUBLE) / CAST(t.n AS DOUBLE))
             * ln((CAST(t.n AS DOUBLE) * CAST(j.c AS DOUBLE))
                  / (CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE)))
             * 1000000000.0) AS BIGINT)) AS BIGINT) AS mi9
         FROM j$tag j
         JOIN ma$tag ma ON j.va IS NOT DISTINCT FROM ma.va
         JOIN mb$tag mb ON j.vb IS NOT DISTINCT FROM mb.vb, t$tag t
         GROUP BY 1, 2),
       ha$tag AS (SELECT CAST(coalesce(sum(CAST(round(
             (CAST(na AS DOUBLE) / CAST(t.n AS DOUBLE))
             * ln(CAST(na AS DOUBLE) / CAST(t.n AS DOUBLE))
             * 1000000000.0) AS BIGINT)), 0) AS BIGINT) AS h9
         FROM ma$tag, t$tag t),
       hb$tag AS (SELECT CAST(coalesce(sum(CAST(round(
             (CAST(nb AS DOUBLE) / CAST(t.n AS DOUBLE))
             * ln(CAST(nb AS DOUBLE) / CAST(t.n AS DOUBLE))
             * 1000000000.0) AS BIGINT)), 0) AS BIGINT) AS h9
         FROM mb$tag, t$tag t),
       r$tag AS (SELECT '$a' AS col_a, '$b' AS col_b, mi.n AS n_rows,
           mi.cells AS n_cells,
           round(CAST(mi.mi9 AS DOUBLE) / 1000000000.0, 6) AS mi,
           CASE WHEN -ha.h9 <= 0 OR -hb.h9 <= 0 THEN 0.0
                ELSE round(CAST(mi.mi9 AS DOUBLE)
                  / CAST(least(-ha.h9, -hb.h9) AS DOUBLE), 6) END AS nmi
         FROM mi$tag mi, ha$tag ha, hb$tag hb)"""

  val x198Sql: String =
    s"""WITH base AS (SELECT lang, source, n_chars // 256 AS len_bucket
         FROM documents),
       ${miPairSql("LS", "lang", "source")},
       ${miPairSql("LB", "lang", "len_bucket")},
       ${miPairSql("SB", "len_bucket", "source")}
       SELECT * FROM rLS UNION ALL SELECT * FROM rLB UNION ALL SELECT * FROM rSB"""

  // --- x199: maintained embedding-moment store -------------------------------
  // The spectral family joins the store matrix: per-day exact quantized
  // first/second moments (mergeable by SUM — the centered Gram derives
  // at read via the integral-div mean, bit-identical however history
  // was sliced), then a corpus-free dense power iteration on the
  // O(dim^2) collected matrix. Three day appends + a replay (cell
  // accounting), direction out; the oracle rebuilds the moments and
  // unrolls the matrix rounds.
  def x199MomentStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Dedup.materialize(t(spark, dir, "embeddings")
      .withColumn("day", pmod(col("vec_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "momstore")
    (0 until 3).foreach { b =>
      graft.ext.EmbedPost.momentsAppendDay(spark,
        emb.filter(col("day") === b.toLong), "embedding", 64, s"d$b", table)
    }
    // replay day 1: the day-keyed merges must REPLACE their rows
    graft.ext.EmbedPost.momentsAppendDay(spark,
      emb.filter(col("day") === 1L), "embedding", 64, "d1", table)
    val m1Rows = graft.sources.ManifestStore.read(spark, s"$table/m1").count()
    val m2Rows = graft.sources.ManifestStore.read(spark, s"$table/m2").count()
    require(m1Rows == 64L * 3 && m2Rows == 2080L * 3,
      s"x199: store holds $m1Rows m1 / $m2Rows m2 rows, expected 192/6240 — " +
        "the d1 replay duplicated instead of replacing")
    val x = graft.ext.EmbedPost.directionFromMoments(spark, table, 64, iters = 3)
    x.zipWithIndex.map { case (c, p) => (p, c) }.toSeq
      .toDF("pos", "comp")
  }

  // shared x199/x205/x211/x214 oracle CTEs: moments -> centered Gram ->
  // shrink -> 3 dense power rounds, over an optionally-filtered
  // embeddings base; x214 appends a projection over held-out rows
  protected def momentsSql(where: String): String =
    s"""WITH ${momentsCtes(where)}
       SELECT CAST(pos AS INTEGER) AS pos, x AS comp FROM x3"""

  protected def momentsCtes(where: String): String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
         FROM embeddings $where),
       e AS (SELECT vec_id, i AS pos,
           CAST(round(ve[i + 1] * 1000000.0) AS BIGINT) + 1000000 AS vq
         FROM v, unnest(range(0, 64)) AS u(i)),
       m1 AS (SELECT pos, CAST(sum(vq) AS BIGINT) AS sv,
           CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
       m2 AS (SELECT a.pos AS i, b.pos AS j, CAST(sum(a.vq * b.vq) AS BIGINT) AS svv
         FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos
         GROUP BY 1, 2),
       mu AS (SELECT pos, CAST(sv // n AS BIGINT) AS mu, sv, n FROM m1),
       g0 AS (SELECT m2.i, m2.j,
           CAST(m2.svv - a.mu * b.sv - b.mu * a.sv + a.n * a.mu * b.mu AS BIGINT) AS g
         FROM m2 JOIN mu a ON m2.i = a.pos JOIN mu b ON m2.j = b.pos),
       g AS (SELECT i, j, g FROM g0
         UNION ALL SELECT j AS i, i AS j, g FROM g0 WHERE i <> j),
       dg AS (SELECT greatest(CAST(max(abs(g)) // 32768 AS BIGINT), 1) AS d FROM g),
       gn AS (SELECT i, j, CAST(g // d AS BIGINT) AS g FROM g, dg),
       x0 AS (SELECT i AS pos, CAST(10000 AS BIGINT) AS x
         FROM unnest(range(0, 64)) AS u(i)),
       ${momRound(1, "x0")},
       ${momRound(2, "x1")},
       ${momRound(3, "x2")}"""

  // one dense matrix power round (prev -> x$r over gn)
  protected def momRound(r: Int, prev: String): String =
    s"""y$r AS (SELECT gn.i AS pos, CAST(sum(gn.g * p.x) AS BIGINT) AS y
         FROM gn JOIN $prev p ON gn.j = p.pos GROUP BY 1),
       w$r AS (SELECT greatest(CAST(max(abs(y)) // 10000 AS BIGINT), 1) AS m FROM y$r),
       x$r AS (SELECT pos,
           CAST(sign(y) AS BIGINT) * CAST(abs(y) // m AS BIGINT) AS x
         FROM y$r, w$r)"""

  val x199Sql: String = momentsSql("")

  // --- x200: STREAMING moment-store maintenance ------------------------------
  // x199 through the streaming door (the x161/x162/x196 pattern):
  // embedding days arrive as micro-batches, each folded by
  // momentsAppendDay in foreachBatch; one day re-delivered post-drain
  // with cell accounting. Moments merge by SUM, so the stream-fed
  // direction is x199's oracle verbatim.
  def x200StreamMoments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val emb = Dedup.materialize(t(spark, dir, "embeddings")
      .withColumn("day", pmod(col("vec_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "smomstore")
    val base = FreshTables.next(spark, dir, "smomin")
    (0 until 3).foreach { b =>
      emb.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().getLong(0)
        graft.ext.EmbedPost.momentsAppendDay(spark, batch, "embedding", 64,
          s"d$d", table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x200", 300000)
    // at-least-once: re-deliver day 1 — the day-keyed merges replace
    graft.ext.EmbedPost.momentsAppendDay(spark,
      emb.filter(col("day") === 1L), "embedding", 64, "d1", table)
    val m2Rows = graft.sources.ManifestStore.read(spark, s"$table/m2").count()
    require(m2Rows == 2080L * 3,
      s"x200: store holds $m2Rows m2 rows, expected 6240 — " +
        "the d1 replay duplicated instead of replacing")
    val x = graft.ext.EmbedPost.directionFromMoments(spark, table, 64, iters = 3)
    x.zipWithIndex.map { case (c, p) => (p, c) }.toSeq
      .toDF("pos", "comp")
  }

  // moments merge by SUM, so the stream-fed store read is x199's
  val x200Sql: String = x199Sql

  // --- x201: tokenizer APPLICATION (learned BPE over held-out docs) ---------
  // The production pass x100's trainer exists for: learn 8 merges on
  // the even-doc_id half, tokenize the odd half (unseen words included)
  // — per-doc word/token counts. Application is the trainer's own
  // space-padded replace chain (Java String.replace ≡ UTF8String ≡
  // DuckDB replace), one nested projection over the test vocabulary;
  // the oracle replays learning (x100's CTEs, 8 rounds) and the chain.
  def x201BpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val merges = graft.ext.Bpe
      .learnMerges(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", rounds = 8)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.ext.Bpe.tokenize(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", merges)
  }

  // one learning round over the train vocab (s0 seeded below)
  protected def bpeLearnRound(r: Int): String =
    s"""i${r - 1} AS (SELECT cnt, l, unnest(generate_series(1, len(l) - 1)) AS i
         FROM (SELECT cnt, string_split(seq, ' ') AS l FROM s${r - 1})),
       p$r AS (SELECT l[i] AS a, l[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
         FROM i${r - 1} GROUP BY 1, 2),
       m$r AS (SELECT a, b, pc FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
       s$r AS (SELECT s.w, s.cnt,
           trim(replace(' ' || s.seq || ' ',
             ' ' || m$r.a || ' ' || m$r.b || ' ',
             ' ' || m$r.a || m$r.b || ' ')) AS seq
         FROM s${r - 1} s CROSS JOIN m$r)"""

  // one application step of merge r on the test vocab encodings
  protected def bpeApplyStep(r: Int): String =
    s"""tenc$r AS (SELECT w,
         replace(seq, ' ' || m$r.a || ' ' || m$r.b || ' ',
           ' ' || m$r.a || m$r.b || ' ') AS seq
       FROM tenc${r - 1} CROSS JOIN m$r)"""

  val x201Sql: String =
    s"""WITH toks AS (SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       FROM documents WHERE doc_id % 2 = 0),
       vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
       s0 AS (SELECT w, cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq FROM vocab),
       ${(1 to 8).map(bpeLearnRound).mkString(",\n       ")},
       ttoks AS (SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       FROM documents WHERE doc_id % 2 = 1),
       tvocab AS (SELECT DISTINCT w FROM ttoks),
       tenc0 AS (SELECT w,
           ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS seq
         FROM tvocab),
       ${(1 to 8).map(bpeApplyStep).mkString(",\n       ")},
       tcount AS (SELECT w,
           CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS toks
         FROM tenc8)
       SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(c.toks) AS BIGINT) AS n_tokens
       FROM ttoks t JOIN tcount c USING (w) GROUP BY 1"""

  // --- x202: maintained BPE vocabulary store ---------------------------------
  // The trainer's corpus pass as a day-keyed store: word counts SUM
  // across days (losslessly — a count is insensitive to slicing), so
  // learnMergesFromStore trains with NO corpus rescan. 3 day appends +
  // a replay (row accounting), 2 merges out — x100's oracle verbatim.
  def x202VocabStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "vocabstore")
    (0 until 3).foreach { b =>
      graft.ext.Bpe.vocabAppendDay(spark,
        docs.filter(col("day") === b.toLong), "doc_id", "text", s"d$b", table)
    }
    // replay day 1: the (w, day) merge must REPLACE its rows
    graft.ext.Bpe.vocabAppendDay(spark,
      docs.filter(col("day") === 1L), "doc_id", "text", "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    val expected = graft.ext.LangModel.tokenRows(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"), col("day")), Seq("id"))
      .select(col("w"), col("day")).distinct().count()
    require(stored == expected,
      s"x202: store holds $stored vocab rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    graft.ext.Bpe.learnMergesFromStore(spark, table, rounds = 2)
  }

  // day word counts sum losslessly, so training from the store is the
  // batch trainer — x100's oracle verbatim
  val x202Sql: String = x100Sql

  // --- x203: STREAMING vocabulary-store maintenance --------------------------
  // x202 fed by a stream (the x161/x196/x200 door): document days
  // arrive as micro-batches, each folded by vocabAppendDay in
  // foreachBatch; one day re-delivered post-drain with row accounting.
  def x203StreamVocab(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "svocabstore")
    val base = FreshTables.next(spark, dir, "svocabin")
    (0 until 3).foreach { b =>
      docs.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().getLong(0)
        graft.ext.Bpe.vocabAppendDay(spark, batch, "doc_id", "text",
          s"d$d", table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x203", 300000)
    // at-least-once: re-deliver day 1 — the (w, day) merge replaces
    graft.ext.Bpe.vocabAppendDay(spark,
      docs.filter(col("day") === 1L), "doc_id", "text", "d1", table)
    graft.ext.Bpe.learnMergesFromStore(spark, table, rounds = 2)
  }

  val x203Sql: String = x100Sql

  // --- x204: Zipf-law vocabulary-health fit ----------------------------------
  // OLS of ln(freq) on ln(rank) over each language's top-500 ranks —
  // slope ≈ -1 on natural text; boilerplate/synthetic corpora bend the
  // line. Exact ranks, 1e-6 fixed-point ln terms, exact LONG sums,
  // pinned-order double combinations.
  def x204ZipfFit(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(t(spark, dir, "documents"),
      "doc_id", "text", "lang", topK = 500)

  // --- x205: moment-store forget (the forget matrix reaches spectral) -------
  // Moments are exact sums, so erasure is SUBTRACTION: the doomed
  // vectors land as ONE negative correction day and the read-time sum
  // yields exactly the survivors' moments — the direction is
  // bit-identical to a from-scratch build over the surviving corpus,
  // which is what the oracle computes.
  /** The 3-day moment store (x199's exact content) as a build-once
    * prototype — the scaffold the moment-family MUTATING gates (x205
    * forget, x211 streaming forget, x225 compaction) clone; x199/x200
    * keep building their own, because the append + replay accounting IS
    * their subject (r15 bench diet, the cm3Proto/lm3Proto convention).
    */
  protected def mom3Proto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "mom3day") { root =>
      val emb = t(spark, dir, "embeddings")
        .withColumn("day", pmod(col("vec_id"), lit(3)).cast("long"))
      (0 until 3).foreach { b =>
        graft.ext.EmbedPost.momentsAppendDay(spark,
          emb.filter(col("day") === b.toLong), "embedding", 64, s"d$b", root)
      }
    }

  def x205MomentForget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Dedup.materialize(t(spark, dir, "embeddings")
      .withColumn("day", pmod(col("vec_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "momforget")
    ProtoStores.cloneTo(spark, mom3Proto(spark, dir), table)
    // erasure: every 7th vector; re-issue the forget (tag replay) —
    // the tag-keyed merge must REPLACE, not double-subtract
    val doomed = emb.filter(col("vec_id") % 7 === 0)
    graft.ext.EmbedPost.momentsForget(spark, doomed, "embedding", 64, "f1", table)
    graft.ext.EmbedPost.momentsForget(spark, doomed, "embedding", 64, "f1", table)
    val x = graft.ext.EmbedPost.directionFromMoments(spark, table, 64, iters = 3)
    x.zipWithIndex.map { case (c, p) => (p, c) }.toSeq
      .toDF("pos", "comp")
  }

  val x205Sql: String = momentsSql("WHERE vec_id % 7 <> 0")

  // --- x206: Zipf fit FROM the maintained vocabulary store -------------------
  // x204's analysis fed by x202's store (grouped by lang): day folds
  // build the per-language vocabulary, the fit reads O(vocab) store
  // state with NO corpus pass at question time — counts sum
  // losslessly, so the oracle is x204's verbatim.
  def x206ZipfFromStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "zipfvocab")
    (0 until 3).foreach { b =>
      graft.ext.Bpe.vocabAppendDay(spark, docs.filter(col("day") === b.toLong),
        "doc_id", "text", s"d$b", table, byCols = Seq("lang"))
    }
    // replay day 0: the (lang, w, day) merge must REPLACE its rows
    graft.ext.Bpe.vocabAppendDay(spark, docs.filter(col("day") === 0L),
      "doc_id", "text", "d0", table, byCols = Seq("lang"))
    TextAnalysis.zipfFitFromCounts(
      graft.ext.Bpe.vocabFromStore(spark, table, byCols = Seq("lang")),
      "lang", topK = 500)
  }

  val x204Sql: String =
    """WITH w AS (SELECT lang,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       FROM documents),
       c AS (SELECT lang AS g, w, CAST(count(*) AS BIGINT) AS cnt
         FROM w GROUP BY 1, 2),
       r AS (SELECT g, cnt,
           row_number() OVER (PARTITION BY g ORDER BY cnt DESC, w) AS rnk
         FROM c QUALIFY rnk <= 500),
       t6 AS (SELECT g,
           CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x6,
           CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS y6
         FROM r),
       s AS (SELECT g, CAST(count(*) AS BIGINT) AS n_ranks,
           CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
           CAST(sum(x6 * x6) AS BIGINT) AS sxx,
           CAST(sum(x6 * y6) AS BIGINT) AS sxy,
           CAST(sum(y6 * y6) AS BIGINT) AS syy
         FROM t6 GROUP BY 1),
       f AS (SELECT g, n_ranks,
           CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
           CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
           CAST(n_ranks AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den2,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
         FROM s)
       SELECT g AS lang, n_ranks,
         CASE WHEN n_ranks >= 2 AND den <> 0.0
              THEN round(num / den, 6) END AS zipf_slope,
         CASE WHEN n_ranks >= 2 AND den <> 0.0
              THEN round((syd - (num / den) * sxd)
                / CAST(n_ranks AS DOUBLE) / 1000000.0, 6) END AS intercept,
         CASE WHEN n_ranks >= 2 AND den <> 0.0 AND den2 <> 0.0
              THEN round((num * num) / (den * den2), 6) END AS r2
       FROM f"""

  // vocabulary counts sum losslessly across days, so the store-fed fit
  // is x204's (must follow x204Sql: vals initialize in order)
  val x206Sql: String = x204Sql

  // --- x207: maintained bigram-LM store --------------------------------------
  // x58's reference model as a day-keyed store: the "known good" slice
  // (doc_id % 7 = 0) arrives in 3 day folds (+ a replay with row
  // accounting), then the WHOLE corpus scores against the store —
  // bigram counts sum and V is distinct-stored-unigrams, so the scores
  // are x58's oracle verbatim, with no reference rescan at question
  // time.
  def x207LmStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val ref = Dedup.materialize(docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "lmstore")
    (0 until 3).foreach { b =>
      LangModel.lmAppendDay(spark, ref.filter(col("day") === b.toLong),
        "doc_id", "text", s"d$b", table)
    }
    // replay day 1: the (w1, w2, day) merge must REPLACE its rows
    LangModel.lmAppendDay(spark, ref.filter(col("day") === 1L),
      "doc_id", "text", "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, s"$table/bg").count()
    val expected = LangModel.bigramRowsBy(ref, "doc_id", "text", Seq("day"))
      .select(col("w1"), col("w2"), col("day")).distinct().count()
    require(stored == expected,
      s"x207: store holds $stored bigram rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    LangModel.perplexityFromStore(spark, table, docs, "doc_id", "text")
  }

  val x207Sql: String = x58Sql

  // --- x208: STREAMING bigram-LM store maintenance ---------------------------
  // x207 fed by a stream: reference days arrive as micro-batches, each
  // folded by lmAppendDay in foreachBatch; one day re-delivered
  // post-drain. Scores ≡ x58's oracle through the streaming door.
  def x208StreamLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = t(spark, dir, "documents")
    val ref = Dedup.materialize(docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "slmstore")
    val base = FreshTables.next(spark, dir, "slmin")
    (0 until 3).foreach { b =>
      ref.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(ref.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().getLong(0)
        LangModel.lmAppendDay(spark, batch, "doc_id", "text", s"d$d", table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x208", 300000)
    // at-least-once: re-deliver day 1 — the day-keyed merges replace
    LangModel.lmAppendDay(spark, ref.filter(col("day") === 1L),
      "doc_id", "text", "d1", table)
    LangModel.perplexityFromStore(spark, table, docs, "doc_id", "text")
  }

  val x208Sql: String = x58Sql

  // --- x209: nDCG@10 retrieval-quality audit (IVF vs brute force) ------------
  // The position-sensitive sibling of x144's recall audit: graded gains
  // from the exact ranking (11 - rank), log2 discounts at approx
  // positions, 1e-9 fixed-point terms, one division per query. The
  // 0.6931... literal is Java's Math.log(2.0) rendered exactly so both
  // engines divide by the identical double.
  def x209NdcgAudit(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val queries = data.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(data, queries,
      "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val cents = data.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(data, cents, "vec_id", "embedding")
    val approx = Similarity.ivfTopK(assigned, cents, queries,
      "vec_id", "embedding", k = 10, nprobe = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    Retrieval.ndcgAtK(exact, approx, "neighbor_id", k = 10)
  }

  protected def ndcgTerm(g: String, p: String): String =
    s"""CAST(round(CAST($g AS DOUBLE) * (1000000000.0
       / (ln(CAST($p AS DOUBLE) + 1.0) / 0.6931471805599453)), 0) AS BIGINT)"""

  val x209Sql: String =
    s"""WITH $ivfCtes,
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       sce AS (SELECT q.query_id, c2.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c2.ve[i])) / (q.qn * c2.nrm) AS cos
         FROM n c2 JOIN q ON c2.vec_id <> q.query_id),
       rex AS (SELECT query_id, neighbor_id, rn FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sce) WHERE rn <= 10),
       pr0 AS (SELECT q.query_id, c.centroid_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i])) / (q.qn * c.cn) AS sim
         FROM q CROSS JOIN c),
       pr AS (SELECT query_id, centroid_id FROM (
           SELECT query_id, centroid_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, centroid_id) AS rn
           FROM pr0) WHERE rn <= 3),
       sca AS (SELECT q.query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * n.ve[i])) / (q.qn * n.nrm) AS cos
         FROM n JOIN asg ON n.vec_id = asg.vec_id
         JOIN pr ON asg.centroid_id = pr.centroid_id
         JOIN q ON pr.query_id = q.query_id
         WHERE n.vec_id <> q.query_id),
       ra AS (SELECT query_id, neighbor_id, rn FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sca) WHERE rn <= 10),
       rel AS (SELECT query_id, neighbor_id, 11 - rn AS g, rn AS er FROM rex),
       idcg AS (SELECT query_id,
           CAST(sum(${ndcgTerm("g", "er")}) AS BIGINT) AS idcg9
         FROM rel GROUP BY 1),
       dcg AS (SELECT ra.query_id,
           CAST(count(rel.g) AS BIGINT) AS n_hit,
           CAST(coalesce(sum(${ndcgTerm("coalesce(rel.g, 0)", "ra.rn")}), 0) AS BIGINT) AS dcg9
         FROM ra LEFT JOIN rel ON ra.query_id = rel.query_id
           AND ra.neighbor_id = rel.neighbor_id
         GROUP BY 1)
       SELECT d.query_id, d.n_hit,
         round(CAST(d.dcg9 AS DOUBLE) / CAST(i.idcg9 AS DOUBLE), 6) AS ndcg
       FROM dcg d JOIN idcg i USING (query_id)"""

  // --- x210: Heaps'-law vocabulary growth from the vocab store ---------------
  // Zipf's companion panel (x204): V(N) ≈ K·N^β fitted over the
  // maintained vocabulary store's day-ordered growth curve — β near 1
  // flags template-id/hash/spam vocabularies. 6 day folds (+ a
  // replay), then the O(vocab) first-seen pass and the shared log-log
  // OLS; the oracle rebuilds the curve and the fit.
  def x210HeapsFit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("day", pmod(col("doc_id"), lit(6)).cast("long")))
    val table = FreshTables.next(spark, dir, "heapsvocab")
    (0 until 6).foreach { b =>
      graft.ext.Bpe.vocabAppendDay(spark, docs.filter(col("day") === b.toLong),
        "doc_id", "text", s"d$b", table)
    }
    // replay day 3: the (w, day) merge must REPLACE its rows
    graft.ext.Bpe.vocabAppendDay(spark, docs.filter(col("day") === 3L),
      "doc_id", "text", "d3", table)
    TextAnalysis.heapsFit(graft.sources.ManifestStore.read(spark, table))
  }

  val x210Sql: String =
    """WITH toks AS (SELECT doc_id % 6 AS day,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       FROM documents),
       vc AS (SELECT day, w, CAST(count(*) AS BIGINT) AS cnt
         FROM toks GROUP BY 1, 2),
       tk AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS t FROM vc GROUP BY 1),
       tc AS (SELECT day, CAST(sum(t) OVER (ORDER BY day) AS BIGINT) AS n_cum FROM tk),
       fs AS (SELECT w, min(day) AS day FROM vc GROUP BY 1),
       fv AS (SELECT day, CAST(count(*) AS BIGINT) AS v FROM fs GROUP BY 1),
       cv AS (SELECT tc.day, tc.n_cum,
           CAST(sum(coalesce(fv.v, 0)) OVER (ORDER BY tc.day) AS BIGINT) AS v_cum
         FROM tc LEFT JOIN fv USING (day)),
       pts AS (SELECT
           CAST(round(ln(CAST(n_cum AS DOUBLE)) * 1000000.0) AS BIGINT) AS x6,
           CAST(round(ln(CAST(v_cum AS DOUBLE)) * 1000000.0) AS BIGINT) AS y6
         FROM cv),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
           CAST(sum(x6 * x6) AS BIGINT) AS sxx,
           CAST(sum(x6 * y6) AS BIGINT) AS sxy,
           CAST(sum(y6 * y6) AS BIGINT) AS syy
         FROM pts),
       f AS (SELECT n_points,
           CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
           CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
           CAST(n_points AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den2,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
         FROM s)
       SELECT n_points,
         CASE WHEN n_points >= 2 AND den <> 0.0
              THEN round(num / den, 6) END AS heaps_beta,
         CASE WHEN n_points >= 2 AND den <> 0.0
              THEN round((syd - (num / den) * sxd)
                / CAST(n_points AS DOUBLE) / 1000000.0, 6) END AS intercept,
         CASE WHEN n_points >= 2 AND den <> 0.0 AND den2 <> 0.0
              THEN round((num * num) / (den * den2), 6) END AS r2
       FROM f"""

  // --- x211: STREAMING erasure feed over the moment store --------------------
  // The forget matrix through the streaming door: erasure REQUESTS
  // arrive as micro-batches (the shape of a production right-to-be-
  // forgotten queue) and each batch folds by momentsForget under a
  // batch-derived tag; one batch re-delivered post-drain proves the
  // tag-keyed replace (no double subtraction). The surviving-corpus
  // direction is x205's oracle verbatim.
  def x211StreamForget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val emb = Dedup.materialize(t(spark, dir, "embeddings")
      .withColumn("day", pmod(col("vec_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "smomforget")
    // scaffold: the 3-day store clones from the shared prototype; the
    // gate's subject — the streaming erasure feed below — stays per-pass
    ProtoStores.cloneTo(spark, mom3Proto(spark, dir), table)
    // the erasure queue: every 7th vector, split into 2 request batches
    val doomed = Dedup.materialize(emb.filter(col("vec_id") % 7 === 0)
      .withColumn("req", pmod(expr("vec_id div 7"), lit(2)).cast("long")))
    val base = FreshTables.next(spark, dir, "smomforgetin")
    (0 until 2).foreach { b =>
      doomed.filter(col("req") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(doomed.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = batch.agg(min(col("req"))).head().getLong(0)
        graft.ext.EmbedPost.momentsForget(spark, batch, "embedding", 64,
          s"f$r", table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x211", 300000)
    // at-least-once: re-deliver request batch 1 — the tag-keyed merge
    // must REPLACE, not subtract twice
    graft.ext.EmbedPost.momentsForget(spark,
      doomed.filter(col("req") === 1L), "embedding", 64, "f1", table)
    val x = graft.ext.EmbedPost.directionFromMoments(spark, table, 64, iters = 3)
    x.zipWithIndex.map { case (c, p) => (p, c) }.toSeq
      .toDF("pos", "comp")
  }

  // the erasure feed converges on the survivors' moments, so the
  // oracle is x205's
  val x211Sql: String = momentsSql("WHERE vec_id % 7 <> 0")

  // --- x212: STRATIFIED maintained sample store -------------------------------
  // x195 per language: each stratum keeps its own reproducible k-row
  // weighted sample, day summaries merge per (lang, day), the slack
  // law holds per stratum, and erasing each language's 2 most
  // prominent samples (within slack) keeps every stratum's read exact
  // — the oracle ranks per language, skips the doomed 2, re-ranks.
  def x212StratSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.wordCount(col("text")).as("wc"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "stratsample")
    // scaffold: the 3-day stratified store as a build-once prototype
    // (r15 bench diet, the mom3Proto convention); the gate's subject —
    // the d1 REPLAY through the stratified append path, the per-stratum
    // forget, the stratified read — stays per-pass
    ProtoStores.cloneTo(spark, ProtoStores.proto(dir, "strat3day") { root =>
      (0 until 3).foreach { b =>
        SampleStore.appendDay(spark, docs.filter(col("day") === b.toLong),
          "doc_id", col("wc"), s"d$b", k = 40, slack = 4, table = root,
          byCols = Seq("lang"))
      }
    }, table)
    // replay day 1: the (lang, doc_id, day) merge must REPLACE its rows
    SampleStore.appendDay(spark, docs.filter(col("day") === 1L),
      "doc_id", col("wc"), "d1", k = 40, slack = 4, table = table,
      byCols = Seq("lang"))
    val doomed = SampleStore.sampleFromStore(spark, table, "doc_id", 2,
      byCols = Seq("lang")).select(col("doc_id"))
    SampleStore.forget(spark, table, "doc_id", doomed,
      forgetSeq = 1L, byCols = Seq("lang"))
    SampleStore.sampleFromStore(spark, table, "doc_id", 40,
      byCols = Seq("lang"))
  }

  val x212Sql: String =
    s"""WITH w AS (SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS wc,
         md5(CAST(doc_id AS VARCHAR)) AS hx
       FROM documents),
       h AS (SELECT doc_id, lang, wc, ${duckHex48("hx")} AS h48 FROM w),
       k AS (SELECT doc_id, lang,
             round(ln((CAST(h48 AS DOUBLE) + 0.5) / 281474976710656.0)
                   / greatest(CAST(wc AS DOUBLE), 1.0), 6) AS es_key FROM h),
       r AS (SELECT doc_id, lang, es_key,
             row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn
         FROM k),
       s AS (SELECT doc_id, lang, es_key,
             row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn2
         FROM r WHERE rn > 2)
       SELECT lang, doc_id, CAST(rn2 AS BIGINT) AS sample_rank, es_key
       FROM s WHERE rn2 <= 40"""

  // --- x213: tokenizer lifecycle from maintained state -----------------------
  // The x180 composition pattern on the tokenizer: the training corpus
  // (even docs) folds into the vocabulary store day by day, merges
  // TRAIN from the store (no corpus rescan), and the learned tokenizer
  // applies to the held-out odd docs — the full production lifecycle
  // with zero training-side corpus rescans. Store counts sum
  // losslessly, so the result is x201's oracle verbatim.
  def x213TokenizerLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val train = Dedup.materialize(docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .withColumn("day", pmod(col("doc_id"), lit(3)).cast("long")))
    val table = FreshTables.next(spark, dir, "tokvocab")
    (0 until 3).foreach { b =>
      graft.ext.Bpe.vocabAppendDay(spark, train.filter(col("day") === b.toLong),
        "doc_id", "text", s"d$b", table)
    }
    val merges = graft.ext.Bpe.learnMergesFromStore(spark, table, rounds = 8)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.ext.Bpe.tokenize(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", merges)
  }

  // store counts merge to the batch vocabulary, so training-from-store
  // + held-out application is x201's
  val x213Sql: String = x201Sql

  // --- x214: spectral scoring of NEW data from the moment store --------------
  // The serving pass of the spectral pipeline: even-id embeddings fold
  // into the moment store (2 days), the dominant direction + store
  // mean derive corpus-free, and every ODD (held-out) vector scores
  // its exact-integer projection — the anisotropy-outlier score for
  // arrivals without touching training history. The oracle derives
  // direction and mean from the even slice and projects the odd rows.
  def x214SpectralScore(spark: SparkSession, dir: String): DataFrame = {
    val emb = Dedup.materialize(t(spark, dir, "embeddings")
      .withColumn("day", pmod(col("vec_id"), lit(2)).cast("long")))
    val train = emb.filter(col("vec_id") % 2 === 0)
    val table = FreshTables.next(spark, dir, "specscore")
    // train days: split the even ids further by vec_id div 2 parity
    (0 until 2).foreach { b =>
      graft.ext.EmbedPost.momentsAppendDay(spark,
        train.filter(pmod(expr("vec_id div 2"), lit(2)) === b.toLong),
        "embedding", 64, s"d$b", table)
    }
    graft.ext.EmbedPost.projectFromStore(spark, table,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", 64)
  }

  val x214Sql: String =
    s"""WITH ${momentsCtes("WHERE vec_id % 2 = 0")},
       pv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
         FROM embeddings WHERE vec_id % 2 = 1),
       pe AS (SELECT vec_id, i AS pos,
           CAST(round(ve[i + 1] * 1000000.0) AS BIGINT) + 1000000 AS vq
         FROM pv, unnest(range(0, 64)) AS u(i)),
       proj AS (SELECT pe.vec_id,
           CAST(sum((pe.vq - m.mu) * x.x) AS BIGINT) AS proj
         FROM pe JOIN mu m ON pe.pos = m.pos
         JOIN x3 x ON pe.pos = x.pos
         GROUP BY 1)
       SELECT vec_id, proj FROM proj"""

  // --- x215: cluster-store rebuild from the LSH pair index -------------------
  // The cure for the forget matrix's one documented exactness leak:
  // ClusterStore.forget over-groups by design (the store holds labels,
  // not edges — survivors never split and a survivor whose last partner
  // died lingers as a phantom singleton member), while DedupStores'
  // minhash index stays EXACT over survivors. rebuildFromIndex closes
  // the gap: self-probe the surviving index, recompute components,
  // overwrite twin+main under the rebuild fence. The gate builds both
  // stores, forgets all-but-the-max member of every label%3==0 cluster
  // (guaranteeing phantom singletons), REQUIREs the leak is visible
  // (store rows > exact survivors-components rows), rebuilds, and the
  // final rollup must hash-match the batch components over surviving
  // pairs — the oracle's SECOND recursive CTE pass.
  def x215ClusterRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.{ClusterStore, DedupStores}
    val docs = Dedup.materialize(
      t(spark, dir, "documents").select(col("doc_id"), col("text")))
    val dd = FreshTables.next(spark, dir, "rbdd")
    ProtoStores.cloneTo(spark, dedupAllProto(spark, dir), dd)
    val (fpT, idxT) = (s"$dd/fp", s"$dd/idx")
    val pairs = allPairs(spark, dir)
    val root = FreshTables.next(spark, dir, "rbcl")
    ProtoStores.cloneTo(spark, clusterAllProto(spark, dir), root)
    // doomed: every member EXCEPT the max id of clusters labeled %3==0 —
    // their survivor is a guaranteed phantom singleton after forget
    val labels = Dedup.materialize(ClusterStore.readLabels(spark, root))
    val mx = labels.groupBy(col("label")).agg(max(col("id")).as("__mx"))
    val doomed = Dedup.materialize(labels.join(mx, Seq("label"))
      .filter(col("label") % 3 === 0 && col("id") =!= col("__mx"))
      .select(col("id")))
    require(doomed.count() > 0L, "x215: empty doomed slice — adjust the rule")
    // forget from BOTH stores: the index forget is exact over survivors,
    // the label forget is the documented conservative form
    DedupStores.forget(spark,
      docs.join(doomed, docs("doc_id") === doomed("id"), "left_semi"),
      "doc_id", "text", fpT, idxT)
    ClusterStore.forget(spark, doomed, "id", root, partitions = 8)
    // the leak, demonstrated: exact survivors-components vs the store
    val survPairs = pairs
      .join(doomed.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(doomed.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
    val exactN = Dedup.duplicateClusters(survPairs).count()
    val storeN = ClusterStore.readLabels(spark, root).count()
    require(storeN > exactN,
      s"x215: over-grouping not demonstrated (store $storeN vs exact $exactN)")
    // the cure — after it the store equals build() over the survivors
    ClusterStore.rebuildFromIndex(spark, idxT, root, threshold = 0.7, partitions = 8)
    ClusterStore.readLabels(spark, root)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
  }

  // full components → doomed rule → surviving pairs → components AGAIN
  // over the survivor edge set (the rebuilt store's exact semantics)
  val x215Sql: String =
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)},
       cl AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       mx AS (SELECT comp, max(id) AS mx FROM cl GROUP BY comp),
       doomed AS (SELECT id FROM cl JOIN mx USING (comp)
                  WHERE comp % 3 = 0 AND id <> mx),
       sp AS (SELECT id_a, id_b FROM pairs
              WHERE id_a NOT IN (SELECT id FROM doomed)
                AND id_b NOT IN (SELECT id FROM doomed)),
       edges2 AS (SELECT id_a AS src, id_b AS dst FROM sp
                  UNION SELECT id_b, id_a FROM sp),
       nodes2 AS (SELECT DISTINCT src AS id FROM edges2),
       reach2 AS (
         SELECT id, id AS r FROM nodes2
         UNION
         SELECT e.src AS id, reach2.r AS r FROM reach2 JOIN edges2 e ON e.dst = reach2.id),
       cl2 AS (SELECT id, min(r) AS label FROM reach2 GROUP BY id)
       SELECT label, CAST(count(*) AS BIGINT) AS n_members
       FROM cl2 GROUP BY 1"""

  // --- x216: BM25 index repair (postings GC after a divergent forget) --------
  // The lexical sibling of x215's rebuild cure: IndexStore.forget with
  // text that DIVERGES from the ingested bytes deletes the lens row but
  // strands the true terms' postings cells, inflating df (deflating
  // every survivor's idf) until repair. The gate ingests x172's 3-day
  // layout, forgets doc_id % 7 == 2 under a fully divergent text,
  // REQUIREs the leak (orphan cells exist AND the probe's scores differ
  // from the repaired ones), runs IndexStore.repair (postings anti-join
  // lens ids, keyed term-bucket delete), REQUIREs zero orphans, and
  // probes: scores must hash-match batch BM25 over the survivors —
  // x172's oracle verbatim.
  def x216IndexRepair(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.IndexStore
    import graft.sources.ManifestStore
    val docs = t(spark, dir, "documents")
    val root = FreshTables.next(spark, dir, "bmrepair")
    ProtoStores.cloneTo(spark, bm25Proto(spark, dir), root)
    val doomed = docs.filter(col("doc_id") % 7 === 2)
    require(doomed.count() > 0L, "x216: empty doomed slice")
    // the divergent request: none of the ingested terms are supplied,
    // so EVERY true posting cell of the doomed docs is stranded
    IndexStore.forget(spark,
      doomed.withColumn("text", lit("qqdivergentzz")),
      "doc_id", "text", root, forgetSeq = 1L)
    def orphanCells(): Long = ManifestStore.read(spark, s"$root/postings")
      .join(ManifestStore.read(spark, s"$root/lens").select(col("id")),
        Seq("id"), "left_anti").count()
    val leaked = orphanCells()
    require(leaked > 0L, "x216: divergent forget stranded no postings")
    val qs = Seq(
      ("q_hash_join", Seq("hash", "join")),
      ("q_stream", Seq("stream", "window", "batch")),
      ("q_vector", Seq("vector", "data"))).toDF("query_id", "terms")
    val inflated = Dedup.materialize(
      IndexStore.bm25Probe(spark, root, qs, "doc_id", topK = 15, partitions = 8))
    IndexStore.repair(spark, root, partitions = 8)
    require(orphanCells() == 0L, "x216: repair left orphan cells")
    // idempotent re-run — a repair with nothing to do is a no-op
    IndexStore.repair(spark, root, partitions = 8)
    val fixed = IndexStore.bm25Probe(spark, root, qs, "doc_id",
      topK = 15, partitions = 8)
    require(inflated.except(fixed).count() > 0L,
      "x216: df inflation never showed in the probe — the leak demo is dead")
    fixed
  }

  // the repaired probe is batch BM25 over the survivors — x172's oracle
  val x216Sql: String = x172Sql

}
