package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, Chunking, DataCard, Dedup, Dsir, Events, Graph, LangModel, MediaStore, Multimodal, Pq, Privacy, Profiling, Quantiles, Redaction, Retrieval, SampleStore, Sampling, Scd2, Sharding, Similarity, Sketches, TextAnalysis}
import graft.streaming.Drain

/** x138-x162: HLL/KMV stores, recall audits, trained codebooks, index stores, drift.
  * Mechanical slice of the former single-object ExtQueries (r14);
  * see ExtQueries.scala for the shared determinism conventions.
  */
private[graft] trait ExtVectorStores extends ExtSketchStores {
  import CoreQueries.t
  // --- x138: HyperLogLog distinct counts (verified sketch) ----------------
  // The constant-state sketch completing the quartet (KMV x40, MG x70,
  // CM x96/x98): 256 one-byte registers per group regardless of
  // cardinality. The gate unions a LOW-cardinality slice (150 users per
  // event type — the linear-counting correction branch) with a HIGH one
  // (distinct orderkeys per returnflag — the raw-estimate branch), so
  // both estimator paths are exercised and gated; n_exact rides along
  // for the accuracy audit. rho comes from bin()-string bit length —
  // never floating log2, whose ulp wobble at exact powers of two could
  // cross the floor boundary between engines.
  /** The shared HLL gate source (x138 / x143 / x146): a LOW-cardinality
    * slice (150 users per event type — the linear-counting branch)
    * unioned with a HIGH one (distinct orderkeys per returnflag — the
    * raw-estimate branch), null values excluded up front (they sketch
    * to nothing and must not count in exact counts or store accounting
    * either). ONE definition, because all three gates share x138's
    * oracle — a drifting copy would silently break that equivalence.
    */
  protected def hllSource(spark: SparkSession, dir: String): DataFrame =
    // memoized per JVM: a deterministic fixture slice shared by the
    // HLL gates and the ingest capstone — one materialization, many reads
    ProtoStores.df(dir, "hllsource") {
      val ev = t(spark, dir, "events")
        .select(concat(lit("ev_"), col("event_type")).as("grp"),
          col("user_id").cast("string").as("v"))
      val li = t(spark, dir, "lineitem")
        .select(concat(lit("li_"), col("l_returnflag")).as("grp"),
          col("l_orderkey").cast("string").as("v"))
      ev.unionByName(li).filter(col("v").isNotNull)
    }

  def x138HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val u = hllSource(spark, dir)
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(u, "grp", "v", p = 8), "grp", p = 8)
    est.join(u.groupBy(col("grp")).agg(count_distinct(col("v")).as("n_exact")),
      Seq("grp"))
  }

  val x138Sql: String = {
    val hex48 = duckHex48("md5(v)")
    s"""WITH src AS (SELECT 'ev_' || event_type AS grp, CAST(user_id AS VARCHAR) AS v FROM events
         UNION ALL
         SELECT 'li_' || l_returnflag, CAST(l_orderkey AS VARCHAR) FROM lineitem),
       dv AS (SELECT DISTINCT grp, v FROM src WHERE v IS NOT NULL),
       b AS (SELECT grp, $hex48 AS h48 FROM dv),
       r0 AS (SELECT grp, h48 // 1099511627776 AS idx, h48 % 1099511627776 AS w FROM b),
       r AS (SELECT grp, idx,
           CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END AS rho FROM r0),
       reg AS (SELECT grp, idx, max(rho) AS rho FROM r GROUP BY 1, 2),
       ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_registers,
           sum(power(2.0, -rho)) AS zsum FROM reg GROUP BY 1),
       e0 AS (SELECT grp, n_registers, CAST(256 - n_registers AS BIGINT) AS n_zero,
           (0.7213 / (1 + 1.079 / 256)) * 256.0 * 256.0
             / (zsum + CAST(256 - n_registers AS DOUBLE)) AS raw
         FROM ag),
       ex AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_exact FROM dv GROUP BY 1)
       SELECT e0.grp, n_registers, n_zero,
         round(CASE WHEN raw <= 640.0 AND n_zero > 0
               THEN 256.0 * ln(256.0 / CAST(n_zero AS DOUBLE)) ELSE raw END, 4) AS hll_est,
         n_exact
       FROM e0 JOIN ex ON e0.grp = ex.grp"""
  }

  // --- x139: per-column profile -------------------------------------------
  // The promote-gate datasheet next to x130's declared checks and x136's
  // dependency profile: ONE aggregation pass (multi-distinct via Expand,
  // one shuffle) + stack over the 1-row result — no per-column scans.
  def x139ColumnProfile(spark: SparkSession, dir: String): DataFrame =
    Profiling.columnProfile(t(spark, dir, "documents"),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  val x139Sql: String = {
    def one(c: String): String =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         CAST(min($c) AS VARCHAR) AS min_v, CAST(max($c) AS VARCHAR) AS max_v
       FROM documents"""
    Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(one).mkString("\n       UNION ALL ")
  }

  // --- x140: dedup-weighted sampling --------------------------------------
  // The soft alternative to dropping duplicates (keep everything, weight
  // down duplicated content — the Dolma/RedPajama "dedup by weighting"
  // option): each doc's A-Res weight is 1000 / near-dup-cluster size, so
  // a 5-doc cluster carries ~1 doc of expected mass. Rides x04's pairs,
  // x23's components, and x39's exact-k machinery end to end.
  def x140DedupWeighted(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = allPairs(spark, dir)
    val clusters = Dedup.duplicateClusters(pairs)
    val sizes = clusters.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
    val keyed = docs.select(col("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .join(broadcast(sizes), Seq("label"), "left")
      .withColumn("n_dupes", coalesce(col("__sz"), lit(1L)))
      .select(col("doc_id"), col("n_dupes"))
    Sampling.weightedTopK(keyed, "doc_id",
      lit(1000.0d) / col("n_dupes").cast("double"), k = 100)
      .select(col("doc_id"), col("n_dupes"), col("sample_rank"), col("es_key"))
  }

  val x140Sql: String = {
    val hex48 = duckHex48("hx")
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)},
       cl AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY id),
       csz AS (SELECT label, CAST(count(*) AS BIGINT) AS sz FROM cl GROUP BY 1),
       kd AS (SELECT d.doc_id, coalesce(csz.sz, 1) AS n_dupes
         FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
         LEFT JOIN csz ON csz.label = cl.label),
       h AS (SELECT doc_id, n_dupes, md5(CAST(doc_id AS VARCHAR)) AS hx FROM kd),
       k AS (SELECT doc_id, n_dupes,
             round(ln((CAST($hex48 AS DOUBLE) + 0.5) / 281474976710656.0)
                   / greatest(1000.0 / CAST(n_dupes AS DOUBLE), 1.0), 6) AS es_key FROM h),
       r AS (SELECT doc_id, n_dupes, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rn FROM k)
       SELECT doc_id, CAST(n_dupes AS BIGINT) AS n_dupes,
         CAST(rn AS BIGINT) AS sample_rank, es_key
       FROM r WHERE rn <= 100"""
  }

  // --- x141: session path mining ------------------------------------------
  // The "what do users actually do" product question: top-10 in-session
  // event-type trigrams. Paths are per-session lead windows (one user
  // shuffle, reusing the session partitioning); the rollup collapses to
  // O(|types|^3) path rows before the only global window (<= 125 rows —
  // the justified tiny-input class).
  def x141SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(spark, dir, "events")
    val sess = Events.sessionizeBatch(
      e.withColumn("ts_us", Events.epochMicros(e)),
      "user_id", "ts_us", gap = 30L * 60 * 1000000L)
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_us"), col("event_id"))
    val tri = sess
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
    val counts = tri.groupBy(col("path")).agg(count(lit(1)).as("n_occurrences"))
    val rw = Window.orderBy(col("n_occurrences").desc, col("path"))
    counts.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("path"), col("n_occurrences"))
  }

  val x141Sql: String =
    """WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS e FROM events),
       s AS (SELECT user_id, event_id, event_type, e,
           CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800000000
                THEN 1 ELSE 0 END AS ns
         FROM x WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
       g AS (SELECT user_id, event_id, event_type, e,
           sum(ns) OVER (PARTITION BY user_id ORDER BY e, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq FROM s),
       t0 AS (SELECT event_type AS e1, lead(event_type, 1) OVER w2 AS e2,
           lead(event_type, 2) OVER w2 AS e3
         FROM g WINDOW w2 AS (PARTITION BY user_id, seq ORDER BY e, event_id)),
       tri AS (SELECT e1 || '>' || e2 || '>' || e3 AS path FROM t0
         WHERE e3 IS NOT NULL),
       c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM tri GROUP BY 1),
       r AS (SELECT path, n_occurrences,
           row_number() OVER (ORDER BY n_occurrences DESC, path) AS rank FROM c)
       SELECT CAST(rank AS BIGINT) AS rank, path, n_occurrences
       FROM r WHERE rank <= 10"""

  // --- x142: STREAMING drift monitor --------------------------------------
  // x77's JS divergence as the per-ingest-day production monitor: each
  // micro-batch (file-per-batch replay, day-keyed) compares its
  // distribution of the JSON `props.k` metric against the full reference
  // per event_type, and the result lands in a day-partitioned
  // ManifestStore merge — replay-idempotent (one day is deliberately
  // re-delivered after the drain). The metric goes through JSON
  // extraction to an exact integer in BOTH engines (double casts would
  // hit the round-vs-truncate divergence).
  def x142StreamDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.ManifestStore
    val e = t(spark, dir, "events")
    val ev = Dedup.materialize(e.select(col("event_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      concat(lit("d"), pmod(col("event_id"), lit(3)).cast("string")).as("day")))
    val base = FreshTables.next(spark, dir, "sdrift_in")
    (0 until 3).foreach { b =>
      ev.filter(col("day") === s"d$b").repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val resT = FreshTables.next(spark, dir, "sdrift_res")
    def fold(batch: DataFrame): Unit = {
      val d = batch.agg(min(col("day"))).head().getString(0)
      if (d != null) {
        val js = graft.ext.Drift.jsDivergence(ev, batch, "event_type", "k",
          bins = 16).withColumn("day", lit(d))
        ManifestStore.mergeOrCreate(spark, resT, js,
          Seq("day", "event_type"), "day")
      }
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => fold(batch) }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x142", 300000)
    // at-least-once: re-deliver day d1 — the keyed merge must replace
    fold(ev.filter(col("day") === "d1"))
    ManifestStore.read(spark, resT)
      .select(col("day"), col("event_type"), col("n_a"), col("n_b"), col("js"))
  }

  val x142Sql: String =
    """WITH ev AS (SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           'd' || CAST(event_id % 3 AS VARCHAR) AS day FROM events),
       days AS (SELECT DISTINCT day FROM ev),
       u AS (SELECT d.day, e.event_type AS g, e.k AS v, 0 AS side
             FROM ev e CROSS JOIN days d
         UNION ALL
         SELECT e.day, e.event_type, e.k, 1 FROM ev e),
       bd AS (SELECT CAST(min(k) AS BIGINT) AS mn, CAST(max(k) AS BIGINT) AS mx
         FROM ev WHERE k IS NOT NULL),
       bn AS (SELECT day, g, side, ((v - mn) * 16) // (mx - mn + 1) AS bin
         FROM u CROSS JOIN bd WHERE v IS NOT NULL),
       h AS (SELECT day, g, bin,
           CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         FROM bn GROUP BY 1, 2, 3),
       tt AS (SELECT day, g, CAST(sum(ca) AS BIGINT) AS na,
           CAST(sum(cb) AS BIGINT) AS nb FROM h GROUP BY 1, 2
         HAVING sum(ca) > 0 AND sum(cb) > 0),
       terms AS (SELECT h.day, h.g,
           CASE WHEN ca > 0 THEN CAST(round(
             (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
             * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                 / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
             * 1000000000.0) AS BIGINT) ELSE 0 END AS ta,
           CASE WHEN cb > 0 THEN CAST(round(
             (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
             * 1000000000.0) AS BIGINT) ELSE 0 END AS tb,
           na, nb
         FROM h JOIN tt ON tt.day = h.day AND tt.g = h.g)
       SELECT day, g AS event_type, max(na) AS n_a, max(nb) AS n_b,
         round((CAST(sum(ta) AS DOUBLE) / 1000000000.0
              + CAST(sum(tb) AS DOUBLE) / 1000000000.0) / 2.0, 6) AS js
       FROM terms GROUP BY 1, 2"""

  // --- x143: maintained HLL store (day-over-day distinct counts) ----------
  // x114's day-keyed-subtotal pattern on the DISTINCT sketch: registers
  // merge by MAX, so the store read across any day slicing is EXACTLY
  // the batch sketch — and because max is idempotent, a replayed day
  // cannot even in principle corrupt the estimate (the in-gate row
  // accounting still proves the partition-pruned merge REPLACED d1's
  // rows rather than duplicating store rows). Oracle = x138's: the
  // maintained store must reproduce the one-shot sketch bit for bit.
  def x143HllStore(spark: SparkSession, dir: String): DataFrame = {
    val u = Dedup.materialize(hllSource(spark, dir)
      .withColumn("day",
        concat(lit("d"), pmod(TextAnalysis.md5Bucket(col("v")), lit(3)))))
    val table = FreshTables.next(spark, dir, "hllstore")
    (0 until 3).foreach { b =>
      Sketches.hllAppendDay(spark, u.filter(col("day") === s"d$b"),
        "grp", "v", s"d$b", table)
    }
    // replay day d1: the day-partitioned merge must REPLACE its rows
    Sketches.hllAppendDay(spark, u.filter(col("day") === "d1"),
      "grp", "v", "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    val expected = u
      .select(col("grp"), col("day"),
        shiftright(org.apache.spark.sql.graftfn.HashExpressions
          .md5Prefix48(col("v")), 40).as("idx"))
      .distinct().count()
    require(stored == expected,
      s"x143: store holds $stored register rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    Sketches.hllEstimate(
      Sketches.hllRegistersFromStore(spark, table, "grp"), "grp")
      .join(u.groupBy(col("grp")).agg(count_distinct(col("v")).as("n_exact")),
        Seq("grp"))
  }

  // the maintained store read IS the batch sketch (max-mergeable
  // registers), so the oracle is x138's
  val x143Sql: String = x138Sql

  // --- x144: ANN recall audit (IVF vs brute force) ------------------------
  // The approximation-quality measurement every deployed ANN index
  // ships with: per-query recall@10 of the IVF bucket-pruned search
  // (x11) against the exact brute-force top-10 (x07). Both pipelines
  // are deterministic, so the recall numbers themselves are exact and
  // fully oracled — the nprobe dial's quality cost, measured rather
  // than assumed. At scale the audit runs on a FIXED query sample, so
  // its cost is the brute-force pass over that sample only.
  /** Per-query recall@k of `approx` against `exact` (both (query_id,
    * `idName`) top-k lists) — the shared rollup of the x144/x145
    * approximation audits, so the recall definition lives once.
    */
  protected def recallRollup(
      exact: DataFrame, approx: DataFrame, idName: String): DataFrame =
    exact.join(approx.withColumn("__h", lit(1)),
        Seq("query_id", idName), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), count(col("__h")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("k").cast("double"), 6))

  def x144AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val queries = data.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(data, queries,
      "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val cents = data.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(data, cents, "vec_id", "embedding")
    val approx = Similarity.ivfTopK(assigned, cents, queries,
      "vec_id", "embedding", k = 10, nprobe = 3)
      .select(col("query_id"), col("neighbor_id"))
    recallRollup(exact, approx, "neighbor_id")
  }

  val x144Sql: String =
    s"""WITH $ivfCtes,
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       sce AS (SELECT q.query_id, c2.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c2.ve[i])) / (q.qn * c2.nrm) AS cos
         FROM n c2 JOIN q ON c2.vec_id <> q.query_id),
       rex AS (SELECT query_id, neighbor_id FROM (
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
       ra AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sca) WHERE rn <= 10),
       j AS (SELECT rex.query_id,
           CASE WHEN ra.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM rex LEFT JOIN ra ON ra.query_id = rex.query_id
           AND ra.neighbor_id = rex.neighbor_id)
       SELECT query_id, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(hit) AS BIGINT) AS n_hit,
         round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       FROM j GROUP BY 1"""

  // --- x145: PQ rank-distortion audit -------------------------------------
  // x144's sibling for the COMPRESSION side: within the SAME probed
  // candidate set, recall@10 of the ADC (code-approximated) ranking
  // against the exact-distance ranking — isolating quantization error
  // from IVF pruning error (x144 measures that one). Exact distances
  // use the same a·a + b·b − 2·a·b form and 1e-9 grid as the PQ LUT,
  // through the codegen'd dot product.
  def x145PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val data = t(spark, dir, "embeddings")
    val cents = data.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(data, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
    val queries = data.filter(col("vec_id") < 8)
    val probes = Similarity.probeCentroids(queries, cents,
      "vec_id", "embedding", nprobe = 3)
    val candidates = Dedup.materialize(probes
      .join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")))
    val cb = Pq.codebook(data, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, stride = 3)
    val codes = Pq.encode(data, cb, "vec_id", "embedding", dim = 64, m = 4)
    val adc = Pq.adcTopKCandidates(queries, candidates, codes, cb,
      "vec_id", "embedding", dim = 64, m = 4, k = 10)
      .select(col("query_id"), col("vec_id"))
    val dot = Similarity.dot _
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__q"))
    val dv = data.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__d"))
    val d9 = round((dot(col("__q"), col("__q")) + dot(col("__d"), col("__d")) -
      lit(2.0d) * dot(col("__q"), col("__d"))) * lit(1e9d), 0).cast("long")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d9").asc, col("vec_id").asc)
    val exact = candidates.join(qv, Seq("query_id")).join(dv, Seq("vec_id"))
      .withColumn("d9", d9)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id"))
    recallRollup(exact, adc, "vec_id")
  }

  // --- x146: STREAMING HyperLogLog maintenance ----------------------------
  // x111's bounded-state claim for the DISTINCT sketch: hllRegisters IS
  // a native streaming aggregation (groupBy (grp, idx) max(rho)), so
  // streaming state stays ≤ groups × 2^p rows for ANY stream length —
  // the register table after the drain is the batch sketch exactly
  // (max is order- and batching-insensitive), proven by sharing x138's
  // oracle. Drained in genuine multi-batch increments
  // (maxFilesPerTrigger = 1 over a 4-file stage).
  def x146StreamHll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val u = hllSource(spark, dir)
    val base = FreshTables.next(spark, dir, "shll_in")
    u.repartition(4).write.parquet(s"$base/in")
    val qname = s"x146_shll_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    spark.catalog.dropTempView(qname)
    val regs = Sketches.hllRegisters(
      spark.readStream.schema(u.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "grp", "v", p = 8)
    val q = regs.writeStream.format("memory").queryName(qname)
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x146", 300000)
    val regTable = spark.table(qname)
    require(regTable.count() <= 13L * 256L,
      "x146: streaming state exceeded the groups x 2^p register bound")
    Sketches.hllEstimate(regTable, "grp")
      .join(u.groupBy(col("grp")).agg(count_distinct(col("v")).as("n_exact")),
        Seq("grp"))
  }

  // the drained register table IS the batch sketch (max-mergeable,
  // batching-insensitive), so the oracle is x138's
  val x146Sql: String = x138Sql

  // --- x147: maintained near-dup cluster store ----------------------------
  // The dedup-store capstone (ext/ClusterStore): persisted (id, label)
  // components that a day's NEW pairs fold into by recomputing only the
  // affected subgraph (new edges + member->old-label edges) — never the
  // historical pair list. The gate splits the corpus's LSH pair set
  // into two "days", builds from day 0, folds day 1 in (require:
  // relabeling actually cascaded — at least one stored id changed
  // label), replays day 1 (require: row accounting proves replace, not
  // duplicate), and the final labels must equal the batch components
  // over ALL pairs — the oracle's recursive CTE.
  def x147ClusterStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.ClusterStore
    val docs = t(spark, dir, "documents")
    val pairs = allPairs(spark, dir)
    // label-aware day split: day 0 gets the edges NOT touching their
    // cluster's min member, day 1 the min-touching ones — so every ≥3
    // cluster (a clique in this fixture at all SFs) is seeded on day 0
    // under a LARGER min and day 1's arrival of the true min forces the
    // relabel cascade the store exists to handle
    val full = Dedup.duplicateClusters(pairs)
      .select(col("id").as("id_a"), col("label").as("__l"))
    val pairsL = Dedup.materialize(pairs.join(full, Seq("id_a")))
    val day0 = pairsL.filter(col("id_a") =!= col("__l")).drop("__l")
    val day1 = pairsL.filter(col("id_a") === col("__l")).drop("__l")
    val root = FreshTables.next(spark, dir, "clstore")
    ClusterStore.build(spark, day0, root, partitions = 8)
    val pre = Dedup.materialize(ClusterStore.readLabels(spark, root))
    ClusterStore.appendPairs(spark, day1, root, partitions = 8)
    val mid = Dedup.materialize(ClusterStore.readLabels(spark, root))
    val changed = pre.withColumnRenamed("label", "l0")
      .join(mid, Seq("id")).filter(col("l0") =!= col("label")).count()
    require(changed > 0L,
      "x147: day 1 must exercise relabeling — adjust the pair split")
    // replay day 1: the keyed delete + merge must REPLACE, not duplicate
    ClusterStore.appendPairs(spark, day1, root, partitions = 8)
    val labels = ClusterStore.readLabels(spark, root)
    val nIds = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct().count()
    require(labels.count() == nIds,
      s"x147: store holds ${labels.count()} rows for $nIds clustered ids")
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
  }

  val x147Sql: String =
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)},
       cl AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY id)
       SELECT label, CAST(count(*) AS BIGINT) AS n_members
       FROM cl GROUP BY 1"""

  // --- x148: maintained KMV store (day-over-day distinct sketch) ----------
  // The fourth and last sketch family member gets its maintained gate
  // (CM x114, histogram x123, HLL x143): day-keyed (group, mins) rows,
  // merged at read by union -> distinct -> k smallest. Any of the
  // GLOBAL k smallest hashes is within its own day's k smallest, so
  // the store read is bit-identical to the one-shot sketch — x40's
  // oracle applies unchanged, kth-hash order statistic included.
  def x148KmvStore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = Dedup.materialize(ws.withColumn("__w1", lead(col("w"), 1).over(byDoc))
      .filter(col("__w1").isNotNull)
      .select(col("lang"), concat_ws(" ", col("w"), col("__w1")).as("bg"))
      .withColumn("day",
        concat(lit("d"), pmod(TextAnalysis.md5Bucket(col("bg")), lit(3)))))
    val table = FreshTables.next(spark, dir, "kmvstore")
    (0 until 3).foreach { b =>
      Sketches.kmvAppendDay(spark, bg.filter(col("day") === s"d$b"),
        "lang", "bg", s"d$b", table)
    }
    // replay day d1: the day-partitioned merge must REPLACE its rows
    Sketches.kmvAppendDay(spark, bg.filter(col("day") === "d1"),
      "lang", "bg", "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    val expected = bg.select(col("lang"), col("day")).distinct().count()
    require(stored == expected,
      s"x148: store holds $stored sketch rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    Sketches.kmvDistinctFromStore(spark, table, "lang")
  }

  // the maintained store read IS the batch sketch (k-smallest arrays
  // merge losslessly), so the oracle is x40's
  val x148Sql: String = x40Sql

  // --- x149: k-means-trained PQ codebook ----------------------------------
  // Closes the Pq scaladoc's production promise: the codebook is now
  // TRAINED (2 per-subspace Lloyd steps under fixed-point squared L2,
  // all subspaces in one pass per iteration), not just stride-sampled.
  // The gate measures both codebooks' total quantization distortion on
  // the same corpus and REQUIRES trained ≤ seed per subspace (Lloyd's
  // guarantee, on the grid); the oracle replicates seed, both Lloyd
  // iterations, and both distortion rollups on the identical
  // fixed-point conventions, so every centroid component and every
  // argmin must agree bit-for-bit.
  def x149PqTrainedCodebook(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val seed = Pq.codebook(data, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, stride = 3)
    val trained = Pq.codebookKmeans(data, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, stride = 3, iters = 2)
    val ds = Pq.distortion(data, seed, "vec_id", "embedding", dim = 64, m = 4)
      .select(col("sub"), col("d9_total").as("seed_d9"))
    val dt = Pq.distortion(data, trained, "vec_id", "embedding", dim = 64, m = 4)
      .select(col("sub"), col("n_codes"), col("d9_total").as("trained_d9"))
    val out = Dedup.materialize(ds.join(dt, Seq("sub"))
      .select(col("sub"), col("n_codes"), col("seed_d9"), col("trained_d9")))
    val worse = out.filter(col("trained_d9") > col("seed_d9")).count()
    require(worse == 0L,
      s"x149: $worse subspaces regressed vs the seed codebook — " +
        "Lloyd must not raise distortion")
    out
  }

  /** Two unrolled per-subspace Lloyd iterations from the sampled seed
    * `cb` (of [[pqCtes]]) to the trained codebook `t2` — each is argmin
    * assignment then fixed-point per-(sub, code, pos) means, the
    * kmeansCtes conventions under the PQ metric. Shared by the x149
    * (distortion) and x151 (trained store end-to-end) oracles.
    */
  protected val pqTrainCtes: String = {
    def iter(i: Int, prev: String): String =
      s"""a$i AS (SELECT vec_id, sub, code, sv FROM (
           SELECT vs.vec_id, vs.sub, cb.code, vs.sv,
             row_number() OVER (PARTITION BY vs.vec_id, vs.sub
               ORDER BY ${pqD2("vs.sv", "cb.cv")}, cb.code) AS rn
           FROM vsub vs JOIN $prev cb ON vs.sub = cb.sub) WHERE rn = 1),
         e$i AS (SELECT sub, code, p.p AS pos, sv[p.p] AS x
           FROM a$i CROSS JOIN (SELECT unnest(range(1, 17)) AS p) p),
         s$i AS (SELECT sub, code, pos,
             CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS s,
             count(*) AS c
           FROM e$i GROUP BY 1, 2, 3),
         t$i AS (SELECT sub, code,
             list(CAST(s AS DOUBLE) / CAST(c AS DOUBLE) / 1000000.0 ORDER BY pos) AS cv
           FROM s$i GROUP BY 1, 2)"""
    s"""${iter(1, "cb")},
       ${iter(2, "t1")}"""
  }

  val x149Sql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       $pqCtes,
       $pqTrainCtes,
       smin AS (SELECT vec_id, sub, code, d9 FROM (
           SELECT vec_id, sub, code, d9,
             row_number() OVER (PARTITION BY vec_id, sub ORDER BY d9, code) AS rn
           FROM pqdist) WHERE rn = 1),
       sd AS (SELECT sub, CAST(sum(d9) AS BIGINT) AS seed_d9 FROM smin GROUP BY 1),
       tdist AS (SELECT vs.vec_id, vs.sub, cb.code,
           ${pqD2("vs.sv", "cb.cv")} AS d9
         FROM vsub vs JOIN t2 cb ON vs.sub = cb.sub),
       tmin AS (SELECT vec_id, sub, code, d9 FROM (
           SELECT vec_id, sub, code, d9,
             row_number() OVER (PARTITION BY vec_id, sub ORDER BY d9, code) AS rn
           FROM tdist) WHERE rn = 1),
       td AS (SELECT sub, CAST(count(DISTINCT code) AS BIGINT) AS n_codes,
           CAST(sum(d9) AS BIGINT) AS trained_d9
         FROM tmin GROUP BY 1)
       SELECT sd.sub, td.n_codes, sd.seed_d9, td.trained_d9
       FROM sd JOIN td ON sd.sub = td.sub"""

  // --- x150: auto-sized probe — the nprobe law wired into the store -------
  // Closes the r10 integration gap: production probes no longer hand-
  // pick nprobe. The gate builds the VectorStore, MEASURES the sizing
  // law against the stored routing table (writeNprobeLaw → the
  // persisted rank-CDF histogram), resolves nprobe for a DECLARED
  // target recall (autoNprobe — pure histogram read, no corpus work),
  // and probes at the resolved width (probeAuto). The oracle replicates
  // the measurement (brute-force truth → neighbor-centroid ranks →
  // CDF), resolves the SAME nprobe as a scalar subquery, and replays
  // the IVF+PQ probe at that width — so the law's resolution itself is
  // hash-checked, not just the probe it feeds.
  def x150AutoProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.VectorStore
    val data = t(spark, dir, "embeddings")
    val root = FreshTables.next(spark, dir, "autoprobe")
    ProtoStores.cloneTo(spark, vecStoreProto(spark, dir), root)
    val queries = data.filter(col("vec_id") < 8)
    VectorStore.writeNprobeLaw(spark, data, queries, "vec_id", "embedding",
      root, k = 10)
    val np90 = VectorStore.autoNprobe(spark, root, k = 10, targetRecall = 0.9)
    val np50 = VectorStore.autoNprobe(spark, root, k = 10, targetRecall = 0.5)
    require(np90 >= np50 && np50 >= 1,
      s"x150: stored law not monotone: np90=$np90 np50=$np50")
    VectorStore.probeAuto(spark, queries, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, targetRecall = 0.9, topK = 10)
  }

  val x150Sql: String =
    s"""WITH $ivfCtes,
       $pqCtes,
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       sce AS (SELECT q.query_id, c2.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c2.ve[i])) / (q.qn * c2.nrm) AS cos
         FROM n c2 JOIN q ON c2.vec_id <> q.query_id),
       rex AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sce) WHERE rn <= 10),
       pr0 AS (SELECT q.query_id, c.centroid_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i])) / (q.qn * c.cn) AS sim
         FROM q CROSS JOIN c),
       prr AS (SELECT query_id, centroid_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, centroid_id) AS c_rank
         FROM pr0),
       ranks AS (SELECT prr.c_rank
         FROM rex JOIN asg ON rex.neighbor_id = asg.vec_id
         JOIN prr ON prr.query_id = rex.query_id
           AND prr.centroid_id = asg.centroid_id),
       np AS (SELECT min(c_rank) AS v FROM (
           SELECT c_rank,
             CAST(count(*) OVER (ORDER BY c_rank) AS DOUBLE)
               / CAST((SELECT count(*) FROM ranks) AS DOUBLE) AS cdf
           FROM ranks) WHERE cdf >= 0.9),
       pr AS (SELECT query_id, centroid_id FROM prr
         WHERE c_rank <= (SELECT v FROM np)),
       cand AS (SELECT pr.query_id, asg.vec_id
         FROM pr JOIN asg USING (centroid_id)
         WHERE asg.vec_id <> pr.query_id),
       scored AS (SELECT ca.query_id, ca.vec_id, CAST(sum(l.pd9) AS BIGINT) AS est_d9
         FROM cand ca JOIN codes cd ON ca.vec_id = cd.vec_id
         JOIN lut l ON l.query_id = ca.query_id
           AND l.sub = cd.sub AND l.code = cd.code
         GROUP BY 1, 2),
       r AS (SELECT query_id, vec_id, est_d9,
           row_number() OVER (PARTITION BY query_id ORDER BY est_d9, vec_id) AS rank
         FROM scored)
       SELECT query_id, rank, vec_id, est_d9 FROM r WHERE rank <= 10"""

  // --- x151: the production store config, end to end -----------------------
  // x129's store with BOTH production dials engaged at once: the
  // codebook is k-means-TRAINED at build (x149's machinery, frozen in
  // the store and geometry-guarded by the sidecar's iters field) and
  // the probe width comes from the PERSISTED sizing law at a declared
  // target recall (x150's machinery) — no sampled codebook, no
  // hand-picked nprobe anywhere on the path. The oracle composes the
  // trained-codebook Lloyd CTEs with the law resolution and replays
  // the ADC probe against trained codes + trained LUT.
  def x151TrainedStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.VectorStore
    val data = t(spark, dir, "embeddings")
    val cents = data.filter(col("vec_id") % 50 === 0)
    val root = FreshTables.next(spark, dir, "trainstore")
    VectorStore.build(spark, data, cents, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, trainIters = 2)
    val queries = data.filter(col("vec_id") < 8)
    VectorStore.writeNprobeLaw(spark, data, queries, "vec_id", "embedding",
      root, k = 10)
    VectorStore.probeAuto(spark, queries, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, targetRecall = 0.9, topK = 10,
      trainIters = 2)
  }

  val x151Sql: String =
    s"""WITH $ivfCtes,
       $pqCtes,
       $pqTrainCtes,
       tcodes AS (SELECT vec_id, sub, code FROM (
           SELECT vs.vec_id, vs.sub, cb.code,
             row_number() OVER (PARTITION BY vs.vec_id, vs.sub
               ORDER BY ${pqD2("vs.sv", "cb.cv")}, cb.code) AS rn
           FROM vsub vs JOIN t2 cb ON vs.sub = cb.sub) WHERE rn = 1),
       tlut AS (SELECT q.vec_id AS query_id, cb.sub, cb.code,
           ${pqD2("q.sv", "cb.cv")} AS pd9
         FROM vsub q JOIN t2 cb ON q.sub = cb.sub WHERE q.vec_id < 8),
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       sce AS (SELECT q.query_id, c2.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c2.ve[i])) / (q.qn * c2.nrm) AS cos
         FROM n c2 JOIN q ON c2.vec_id <> q.query_id),
       rex AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sce) WHERE rn <= 10),
       pr0 AS (SELECT q.query_id, c.centroid_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i])) / (q.qn * c.cn) AS sim
         FROM q CROSS JOIN c),
       prr AS (SELECT query_id, centroid_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, centroid_id) AS c_rank
         FROM pr0),
       ranks AS (SELECT prr.c_rank
         FROM rex JOIN asg ON rex.neighbor_id = asg.vec_id
         JOIN prr ON prr.query_id = rex.query_id
           AND prr.centroid_id = asg.centroid_id),
       np AS (SELECT min(c_rank) AS v FROM (
           SELECT c_rank,
             CAST(count(*) OVER (ORDER BY c_rank) AS DOUBLE)
               / CAST((SELECT count(*) FROM ranks) AS DOUBLE) AS cdf
           FROM ranks) WHERE cdf >= 0.9),
       pr AS (SELECT query_id, centroid_id FROM prr
         WHERE c_rank <= (SELECT v FROM np)),
       cand AS (SELECT pr.query_id, asg.vec_id
         FROM pr JOIN asg USING (centroid_id)
         WHERE asg.vec_id <> pr.query_id),
       scored AS (SELECT ca.query_id, ca.vec_id, CAST(sum(l.pd9) AS BIGINT) AS est_d9
         FROM cand ca JOIN tcodes cd ON ca.vec_id = cd.vec_id
         JOIN tlut l ON l.query_id = ca.query_id
           AND l.sub = cd.sub AND l.code = cd.code
         GROUP BY 1, 2),
       r AS (SELECT query_id, vec_id, est_d9,
           row_number() OVER (PARTITION BY query_id ORDER BY est_d9, vec_id) AS rank
         FROM scored)
       SELECT query_id, rank, vec_id, est_d9 FROM r WHERE rank <= 10"""

  // --- x152: KS drift matrix (exact, all source pairs) ---------------------
  // The exact-CDF complement of x77's binned JS divergence: two-sample
  // Kolmogorov–Smirnov D over every source pair's doc-length
  // distribution — no bin dial, sensitive where a fixed grid blurs.
  // After one (source, length) count pass the whole computation lives
  // on the O(sources × distinct lengths) grid, row-count-independent.
  def x152KsMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Drift.ksMatrix(t(spark, dir, "documents"), "source", "n_chars")

  val x152Sql: String =
    """WITH c AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v, count(*) AS c
         FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
         GROUP BY 1, 2),
       t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
       vg AS (SELECT DISTINCT v FROM c),
       grid AS (SELECT t.g, vg.v FROM t CROSS JOIN vg),
       cum0 AS (SELECT grid.g, grid.v,
           CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY grid.g ORDER BY grid.v) AS BIGINT) AS cum
         FROM grid LEFT JOIN c ON c.g = grid.g AND c.v = grid.v),
       cn AS (SELECT cum0.g, cum0.v, cum0.cum, t.n
         FROM cum0 JOIN t ON t.g = cum0.g),
       d AS (SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
           abs(CAST(a.cum AS DOUBLE) / CAST(a.n AS DOUBLE)
             - CAST(b.cum AS DOUBLE) / CAST(b.n AS DOUBLE)) AS d
         FROM cn a JOIN cn b ON a.v = b.v AND a.g < b.g)
       SELECT group_a, group_b, n_a, n_b, round(max(d), 6) AS ks_d
       FROM d GROUP BY 1, 2, 3, 4"""

  // --- x153: dimension-truncation retrieval audit (MRL-style) --------------
  // The measurement behind Matryoshka-style dimension cuts (Kusupati
  // et al. 2022, public recipe): per-query overlap@10 of brute-force
  // retrieval on the FIRST-16-dim prefix against full-64-dim retrieval
  // — the exact recall price of a 4× embedding storage cut, measured
  // before anyone deploys the cut. Both pipelines are deterministic
  // brute force (the x07 shape), so the audit is fully oracled; cosine
  // renormalizes per slice by construction.
  def x153TruncationAudit(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    def prefix(d: DataFrame) = d.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val queries = data.filter(col("vec_id") < 8)
    val full = Similarity.bruteForceTopK(data, queries,
      "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val cut = Similarity.bruteForceTopK(prefix(data), prefix(queries),
      "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    recallRollup(full, cut, "neighbor_id")
  }

  val x153Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       sce AS (SELECT q.query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.ve[i])) / (q.qn * c.nrm) AS cos
         FROM n c JOIN q ON c.vec_id <> q.query_id),
       rex AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM sce) WHERE rn <= 10),
       p AS (SELECT vec_id, ve[1:16] AS pv,
           sqrt(list_sum(list_transform(ve[1:16], x -> x * x))) AS pn FROM v),
       pq AS (SELECT vec_id AS query_id, pv AS qv, pn AS qn FROM p WHERE vec_id < 8),
       scp AS (SELECT pq.query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 17), i -> pq.qv[i] * c.pv[i])) / (pq.qn * c.pn) AS cos
         FROM p c JOIN pq ON c.vec_id <> pq.query_id),
       rcut AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM scp) WHERE rn <= 10),
       j AS (SELECT rex.query_id,
           CASE WHEN rcut.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM rex LEFT JOIN rcut ON rcut.query_id = rex.query_id
           AND rcut.neighbor_id = rex.neighbor_id)
       SELECT query_id, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(hit) AS BIGINT) AS n_hit,
         round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       FROM j GROUP BY 1"""

  val x145Sql: String = {
    val fullD9 =
      """CAST(round((list_sum(list_transform(range(1, 65), i -> q.ve[i] * q.ve[i]))
       + list_sum(list_transform(range(1, 65), i -> c2.ve[i] * c2.ve[i]))
       - 2 * list_sum(list_transform(range(1, 65), i -> q.ve[i] * c2.ve[i]))) * 1e9)
       AS BIGINT)"""
    s"""WITH $ivfCtes,
       $pqCtes,
       pr0 AS (SELECT q.vec_id AS query_id, c.centroid_id,
           list_sum(list_transform(range(1, len(q.ve) + 1), i -> q.ve[i] * c.cv[i])) / (q.nrm * c.cn) AS sim
         FROM n q CROSS JOIN c WHERE q.vec_id < 8),
       pr AS (SELECT query_id, centroid_id FROM (
           SELECT query_id, centroid_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, centroid_id) AS rn
           FROM pr0) WHERE rn <= 3),
       cand AS (SELECT pr.query_id, asg.vec_id
         FROM pr JOIN asg USING (centroid_id)
         WHERE asg.vec_id <> pr.query_id),
       scored AS (SELECT ca.query_id, ca.vec_id, CAST(sum(l.pd9) AS BIGINT) AS est_d9
         FROM cand ca JOIN codes cd ON ca.vec_id = cd.vec_id
         JOIN lut l ON l.query_id = ca.query_id
           AND l.sub = cd.sub AND l.code = cd.code
         GROUP BY 1, 2),
       ra AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY est_d9, vec_id) AS rn
           FROM scored) WHERE rn <= 10),
       ex0 AS (SELECT ca.query_id, ca.vec_id, $fullD9 AS d9
         FROM cand ca JOIN v q ON q.vec_id = ca.query_id
         JOIN v c2 ON c2.vec_id = ca.vec_id),
       rex AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY d9, vec_id) AS rn
           FROM ex0) WHERE rn <= 10),
       j AS (SELECT rex.query_id,
           CASE WHEN ra.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM rex LEFT JOIN ra ON ra.query_id = rex.query_id
           AND ra.vec_id = rex.vec_id)
       SELECT query_id, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(hit) AS BIGINT) AS n_hit,
         round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       FROM j GROUP BY 1"""
  }

  // --- x154: STREAMING KS drift monitor ------------------------------------
  // Completes the drift-family matrix (batch JS x77 / stream JS x142 /
  // batch KS x152 / stream KS here): x142's file-per-batch replay
  // harness with the exact-CDF statistic — each day-batch's props.k
  // distribution scored per event_type against the full reference by
  // two-sample Kolmogorov–Smirnov D, landing in a day-partitioned
  // replay-idempotent ManifestStore merge (day d1 deliberately
  // re-delivered after the drain). Per batch the work lives on the
  // O(types × distinct k × 2) grid after one count pass.
  def x154StreamKs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.ManifestStore
    val e = t(spark, dir, "events")
    val ev = Dedup.materialize(e.select(col("event_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      concat(lit("d"), pmod(col("event_id"), lit(3)).cast("string")).as("day")))
    val base = FreshTables.next(spark, dir, "sks_in")
    (0 until 3).foreach { b =>
      ev.filter(col("day") === s"d$b").repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val resT = FreshTables.next(spark, dir, "sks_res")
    def fold(batch: DataFrame): Unit = {
      val d = batch.agg(min(col("day"))).head().getString(0)
      if (d != null) {
        val ks = graft.ext.Drift.ksTwoSample(ev, batch, "event_type", "k")
          .withColumn("day", lit(d))
        ManifestStore.mergeOrCreate(spark, resT, ks,
          Seq("day", "event_type"), "day")
      }
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => fold(batch) }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x154", 300000)
    // at-least-once: re-deliver day d1 — the keyed merge must replace
    fold(ev.filter(col("day") === "d1"))
    ManifestStore.read(spark, resT)
      .select(col("day"), col("event_type"), col("n_a"), col("n_b"), col("ks_d"))
  }

  // per (day, event_type): D between the day's k distribution and the
  // full reference. The batch is a subset of the reference, so the
  // pooled value set per group IS the reference's — the grid mirrors
  // ksTwoSample's dense per-group pooling exactly.
  val x154Sql: String =
    """WITH ev AS (SELECT event_type AS g,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS v,
           'd' || CAST(event_id % 3 AS VARCHAR) AS day FROM events),
       e AS (SELECT * FROM ev WHERE v IS NOT NULL AND g IS NOT NULL),
       days AS (SELECT DISTINCT day FROM e),
       ca AS (SELECT g, v, count(*) AS c FROM e GROUP BY 1, 2),
       cb AS (SELECT day, g, v, count(*) AS c FROM e GROUP BY 1, 2, 3),
       ta AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_a FROM ca GROUP BY 1),
       tb AS (SELECT day, g, CAST(sum(c) AS BIGINT) AS n_b FROM cb GROUP BY 1, 2),
       grid AS (SELECT d.day, p.g, p.v
         FROM days d CROSS JOIN (SELECT DISTINCT g, v FROM e) p),
       cuma AS (SELECT g, v,
           CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cav
         FROM ca),
       cumb AS (SELECT grid.day, grid.g, grid.v,
           CAST(sum(coalesce(cb.c, 0)) OVER (
             PARTITION BY grid.day, grid.g ORDER BY grid.v) AS BIGINT) AS cbv
         FROM grid LEFT JOIN cb ON cb.day = grid.day
           AND cb.g = grid.g AND cb.v = grid.v),
       d AS (SELECT cumb.day, cumb.g, ta.n_a, tb.n_b,
           abs(CAST(cuma.cav AS DOUBLE) / CAST(ta.n_a AS DOUBLE)
             - CAST(cumb.cbv AS DOUBLE) / CAST(tb.n_b AS DOUBLE)) AS d
         FROM cumb JOIN cuma ON cuma.g = cumb.g AND cuma.v = cumb.v
         JOIN ta ON ta.g = cumb.g
         JOIN tb ON tb.day = cumb.day AND tb.g = cumb.g)
       SELECT day, g AS event_type, n_a, n_b, round(max(d), 6) AS ks_d
       FROM d GROUP BY 1, 2, 3, 4"""

  // --- x155: STREAMING cluster-store maintenance --------------------------
  // The last maintained store joins the streaming matrix (vector x137,
  // CM x111/x114, HLL x146, KMV x148, drift x142/x154): the corpus's
  // LSH pair set arrives as micro-batched "days" (file-per-batch
  // replay), each folded into ext/ClusterStore by appendPairs inside
  // foreachBatch — incremental min-member relabeling, O(affected +
  // batch pairs) per batch, the replay fence's started/completed
  // fingerprints recorded along the way. foreachBatch runs batches
  // sequentially, which is exactly the ordering the fence's one-step
  // prev_label breadcrumb needs. After the drain one batch is
  // re-appended (at-least-once): no open window, so the fence lets the
  // stale replay through, and keyed merges make it converge without
  // duplicates. Final labels == batch components over ALL pairs —
  // x147's recursive-CTE oracle, reached through the streaming door.
  def x155StreamCluster(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.ClusterStore
    import org.apache.spark.sql.streaming.Trigger
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.materialize(allPairs(spark, dir)
      .withColumn("day", pmod(xxhash64(col("id_a").cast("string")), lit(3L))))
    val root = FreshTables.next(spark, dir, "sclstore")
    // geometry + empty tables up front; every pair arrives via a batch
    ClusterStore.build(spark, pairs.limit(0).drop("day"), root, partitions = 8)
    val base = FreshTables.next(spark, dir, "sclin")
    (0 until 3).foreach { b =>
      pairs.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(pairs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ClusterStore.appendPairs(spark, batch.drop("day"), root, partitions = 8)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x155", 300000)
    // at-least-once: re-deliver one already-folded batch — keyed
    // merges must replace, never duplicate
    ClusterStore.appendPairs(spark,
      pairs.filter(col("day") === 1L).drop("day"), root, partitions = 8)
    val labels = ClusterStore.readLabels(spark, root)
    val nIds = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct().count()
    require(labels.count() == nIds,
      s"x155: store holds ${labels.count()} rows for $nIds clustered ids")
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
  }

  // final store state == batch components over the union of all
  // streamed pair batches — x147's oracle verbatim
  val x155Sql: String = x147Sql

  // --- x156: maintained BM25 inverted-index store --------------------------
  // The lexical retrieval index becomes a MAINTAINED store
  // (ext/IndexStore), completing the maintained-store matrix on the
  // retrieval side (vector x129, dedup x65, cluster x147, sketches
  // x114/x123/x143/x148): the corpus ingests as three hash-split
  // "days" (postings keyed (term, doc) in term-hash buckets, lengths
  // in id-hash buckets, per-day corpus-stat subtotals), day d1 is
  // re-delivered (at-least-once — keyed merges must replace, row
  // accounting require'd), and the closing probe reads ONLY the query
  // vocabulary's buckets + matched ids' buckets yet must score
  // bit-identically to the one-shot Retrieval.bm25TopK pass — x69's
  // fixed queries, k, and oracle verbatim.
  /** The x156 3-day BM25 index as a build-once prototype (d1 replay +
    * accounting REQUIREs ride the build) — shared by x156 (reads it),
    * x172 and x216 (clone it, then forget/repair).
    */
  protected def bm25Proto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "bm25idx") { root =>
      import graft.ext.IndexStore
      val docs = t(spark, dir, "documents")
      val dayKey = pmod(xxhash64(col("doc_id").cast("string")), lit(3L))
      (0 until 3).foreach { b =>
        IndexStore.appendDay(spark, docs.filter(dayKey === b.toLong),
          "doc_id", "text", s"d$b", root, partitions = 8)
      }
      // at-least-once: re-deliver day d1 — every table must replace
      IndexStore.appendDay(spark, docs.filter(dayKey === 1L),
        "doc_id", "text", "d1", root, partitions = 8)
      val storedLens = graft.sources.ManifestStore.read(spark, s"$root/lens").count()
      require(storedLens == docs.count(),
        s"x156: lens holds $storedLens rows for ${docs.count()} docs — " +
          "the d1 replay duplicated instead of replacing")
      val statRows = graft.sources.ManifestStore.read(spark, s"$root/stats").count()
      require(statRows == 3L,
        s"x156: stats holds $statRows day subtotals, expected 3")
    }

  def x156IndexStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.IndexStore
    val qs = Seq(
      ("q_hash_join", Seq("hash", "join")),
      ("q_stream", Seq("stream", "window", "batch")),
      ("q_vector", Seq("vector", "data"))).toDF("query_id", "terms")
    IndexStore.bm25Probe(spark, bm25Proto(spark, dir), qs, "doc_id",
      topK = 15, partitions = 8)
  }

  // the maintained index scores the same corpus the batch pass scans,
  // so x69's oracle applies verbatim
  val x156Sql: String = x69Sql

  // --- x157: right-to-be-forgotten over the ANN index ----------------------
  // The privacy family (x52 lakehouse delete, x94 k-anonymity, x104 DP)
  // reaches the vector side: VectorStore.forget removes a subject's
  // code + assignment rows via the id-bucketed assign twin — O(doomed
  // buckets + their centroid partitions) I/O, never a codes scan. The
  // gate builds the full-corpus store, forgets vec_id % 7 == 2
  // (accounting: zero surviving code/assign rows), re-runs the same
  // forget (the crash-recovery path must converge), and probes: the
  // result is the one-shot IVF+PQ pass with the forgotten ids excluded
  // from the candidate set — the frozen model is unchanged (deletion
  // does not unlearn the codebook; rebuild is the documented cure), so
  // x128's oracle with one exclusion predicate is exact.
  def x157VectorForget(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.VectorStore
    val data = t(spark, dir, "embeddings")
    val root = FreshTables.next(spark, dir, "vforget")
    ProtoStores.cloneTo(spark, vecStoreProto(spark, dir), root)
    val doomed = data.filter(col("vec_id") % 7 === 2).select(col("vec_id"))
    VectorStore.forget(spark, doomed, "vec_id", root)
    val ms = graft.sources.ManifestStore
    val leftCodes = ms.read(spark, s"$root/codes")
      .join(doomed, Seq("vec_id"), "left_semi").count()
    val leftAsg = ms.read(spark, s"$root/assign")
      .join(doomed, Seq("vec_id"), "left_semi").count()
    require(leftCodes == 0L && leftAsg == 0L,
      s"x157: $leftCodes code / $leftAsg assign rows survived the forget")
    // idempotent re-run — the recovery path after a crash between the
    // codes delete and the twin delete
    VectorStore.forget(spark, doomed, "vec_id", root)
    VectorStore.probe(spark, data.filter(col("vec_id") < 8),
      "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, nprobe = 3, topK = 10)
  }

  // x128's pipeline with the forgotten ids excluded from the candidate
  // set (the model CTEs are untouched — frozen model contract)
  val x157Sql: String = {
    val anchor = "WHERE asg.vec_id <> pr.query_id"
    require(x128Sql.contains(anchor), "x157: x128Sql anchor moved")
    x128Sql.replace(anchor, anchor + " AND asg.vec_id % 7 <> 2")
  }

  // --- x158: c-TF-IDF cluster labeling -------------------------------------
  // The human-readable names the x67 semantic clusters get in a data
  // card (Grootendorst 2022's class-based TF-IDF, the public BERTopic
  // labeling recipe): k-means assignments (vec_id ≡ doc_id per the x81
  // referential audit) join the documents' tokens, and each cluster's
  // top-5 most DISTINCTIVE terms rank by tf(t,c) · ln(1 + A/f(t)) in
  // fixed-point. The oracle unrolls the identical Lloyd iterations
  // (x67's CTEs) plus the scoring rollups, so every assignment and
  // every score must agree bit-for-bit.
  def x158ClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val assign = graft.ext.Clustering.kmeansAssign(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      stride = 50L, iters = 2)
      .withColumnRenamed("vec_id", "doc_id")
    TextAnalysis.classTopTerms(t(spark, dir, "documents"), assign,
      "doc_id", "text", "cid", topK = 5)
  }

  val x158Sql: String =
    s"""WITH $kmeansCtes,
       toks AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
         FROM documents),
       ct AS (SELECT af.cid, t.w FROM toks t JOIN af ON af.id = t.doc_id),
       tfc AS (SELECT cid, w, CAST(count(*) AS BIGINT) AS tf FROM ct GROUP BY 1, 2),
       ft AS (SELECT w, CAST(sum(tf) AS BIGINT) AS ft FROM tfc GROUP BY 1),
       aw AS (SELECT CAST(sum(cw) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgw
         FROM (SELECT cid, CAST(sum(tf) AS BIGINT) AS cw FROM tfc GROUP BY 1)),
       sc AS (SELECT cid, w,
           CAST(round(CAST(tf AS DOUBLE) * ln(1.0 + avgw / CAST(ft AS DOUBLE))
             * 1000000000.0) AS BIGINT) AS s9
         FROM tfc JOIN ft USING (w) CROSS JOIN aw),
       r AS (SELECT cid, w, s9,
           row_number() OVER (PARTITION BY cid ORDER BY s9 DESC, w) AS rank
         FROM sc)
       SELECT cid, rank, w AS term,
         round(CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS ctfidf
       FROM r WHERE rank <= 5"""

  // --- x159: STREAMING BM25 index maintenance ------------------------------
  // x156's maintained inverted index fed by a STREAM: document "days"
  // arrive as micro-batches (file-per-batch replay), each folded in by
  // IndexStore.appendDay inside foreachBatch — three keyed merges per
  // batch, all replay-idempotent, so the final index is micro-batch-
  // invariant AND at-least-once-safe (one batch re-appended after the
  // drain, row accounting require'd). The closing pruned probe must
  // score bit-identically to the one-shot batch BM25 — x69's oracle,
  // reached through the streaming door (the x137/x155 pattern).
  def x159StreamIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.IndexStore
    import org.apache.spark.sql.streaming.Trigger
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .withColumn("day", pmod(xxhash64(col("doc_id").cast("string")), lit(3L))))
    val root = FreshTables.next(spark, dir, "sidxstore")
    val base = FreshTables.next(spark, dir, "sidxin")
    (0 until 3).foreach { b =>
      docs.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().getLong(0)
        IndexStore.appendDay(spark, batch.drop("day"),
          "doc_id", "text", s"d$d", root, partitions = 8)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x159", 300000)
    // at-least-once: re-deliver day 1 — all three tables must replace
    IndexStore.appendDay(spark, docs.filter(col("day") === 1L).drop("day"),
      "doc_id", "text", "d1", root, partitions = 8)
    val ms = graft.sources.ManifestStore
    require(ms.read(spark, s"$root/lens").count() == docs.count(),
      "x159: the d1 replay duplicated lens rows")
    require(ms.read(spark, s"$root/stats").count() == 3L,
      "x159: the d1 replay duplicated stats rows")
    val qs = Seq(
      ("q_hash_join", Seq("hash", "join")),
      ("q_stream", Seq("stream", "window", "batch")),
      ("q_vector", Seq("vector", "data"))).toDF("query_id", "terms")
    IndexStore.bm25Probe(spark, root, qs, "doc_id", topK = 15, partitions = 8)
  }

  val x159Sql: String = x69Sql

  // --- x160: drift matrix FROM the maintained histogram store --------------
  // The monitor consumes the STORE, not the raw data: four event "days"
  // ingest their props.k histograms via Sketches.histAppendDay
  // (bucketWidth 1 → exact value cells), day d1 is re-delivered
  // (day-keyed merge must replace), and the all-pairs day-drift KS
  // matrix is computed from the store's O(cells) rows by
  // Drift.ksMatrixFromCounts — the count shuffle was paid once at
  // ingest, so day-over-day drift monitoring never rescans events. The
  // oracle recomputes the per-day counts and the exact-CDF pair matrix
  // from the raw table.
  def x160StoreDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Dedup.materialize(t(spark, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        concat(lit("d"), pmod(col("event_id"), lit(4)).cast("string")).as("day")))
    val table = FreshTables.next(spark, dir, "histdrift")
    (0 until 4).foreach { b =>
      Sketches.histAppendDay(spark, ev.filter(col("day") === s"d$b"),
        "k", bucketWidth = 1L, s"d$b", table)
    }
    // replay day d1: the (bucket, day)-keyed merge must replace
    Sketches.histAppendDay(spark, ev.filter(col("day") === "d1"),
      "k", bucketWidth = 1L, "d1", table)
    val cells = graft.sources.ManifestStore.read(spark, table)
    val expected = ev.filter(col("k").isNotNull)
      .select(col("day"), col("k")).distinct().count()
    require(cells.count() == expected,
      s"x160: store holds ${cells.count()} cells, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    graft.ext.Drift.ksMatrixFromCounts(cells, "day", "bucket", "cnt")
  }

  val x160Sql: String =
    """WITH ev AS (SELECT 'd' || CAST(event_id % 4 AS VARCHAR) AS g,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS v FROM events),
       c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM ev
         WHERE v IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
       vg AS (SELECT DISTINCT v FROM c),
       grid AS (SELECT t.g, vg.v FROM t CROSS JOIN vg),
       cum0 AS (SELECT grid.g, grid.v,
           CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY grid.g ORDER BY grid.v) AS BIGINT) AS cum
         FROM grid LEFT JOIN c ON c.g = grid.g AND c.v = grid.v),
       cn AS (SELECT cum0.g, cum0.v, cum0.cum, t.n
         FROM cum0 JOIN t ON t.g = cum0.g),
       d AS (SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
           abs(CAST(a.cum AS DOUBLE) / CAST(a.n AS DOUBLE)
             - CAST(b.cum AS DOUBLE) / CAST(b.n AS DOUBLE)) AS d
         FROM cn a JOIN cn b ON a.v = b.v AND a.g < b.g)
       SELECT group_a, group_b, n_a, n_b, round(max(d), 6) AS ks_d
       FROM d GROUP BY 1, 2, 3, 4"""

  // --- x161: STREAMING histogram-store maintenance --------------------------
  // The histogram store (x123) joins the streaming matrix, closing the
  // sketch-store stream column next to CM (x111) and HLL (x146):
  // document days arrive as micro-batches, each day's n_chars cells
  // folded by Sketches.histAppendDay in foreachBatch (day-keyed
  // subtotal merge, replay-idempotent; one batch re-delivered after
  // the drain with cell accounting). The store read merges day
  // subtotals losslessly, so the closing quantile estimates are
  // x123's — its oracle verbatim, through the streaming door.
  def x161StreamHist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = Dedup.materialize(t(spark, dir, "documents")
      .select(col("n_chars"), pmod(col("doc_id"), lit(3)).cast("long").as("day")))
    val table = FreshTables.next(spark, dir, "shiststore")
    val base = FreshTables.next(spark, dir, "shistin")
    (0 until 3).foreach { b =>
      docs.filter(col("day") === b.toLong).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().getLong(0)
        Sketches.histAppendDay(spark, batch, "n_chars",
          bucketWidth = 32L, day = s"day$d", table = table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x161", 300000)
    // at-least-once: re-deliver day 1 — the (bucket, day) merge replaces
    Sketches.histAppendDay(spark, docs.filter(col("day") === 1L), "n_chars",
      bucketWidth = 32L, day = "day1", table = table)
    val cells = graft.sources.ManifestStore.read(spark, table).count()
    val expected = docs.filter(col("n_chars").isNotNull)
      .select(col("day"), expr("n_chars div 32L")).distinct().count()
    require(cells == expected,
      s"x161: store holds $cells cells, expected $expected — " +
        "the day1 replay duplicated instead of replacing")
    Sketches.histQuantiles(
      Sketches.histCellsFromStore(spark, table), bucketWidth = 32L,
      qs = Seq(0.5, 0.9, 0.99))
  }

  // day subtotals merge losslessly, so the stream-fed store read is the
  // batch histogram — x123's oracle verbatim
  val x161Sql: String = x123Sql

  // --- x162: STREAMING KMV-store maintenance --------------------------------
  // The last sketch store joins the streaming matrix (CM x111, HLL
  // x146, histogram x161): x148's per-language bigram sketch fed by a
  // STREAM — each micro-batch's day folded by Sketches.kmvAppendDay in
  // foreachBatch ((group, day)-keyed min-array merge), one batch
  // re-delivered post-drain with row accounting. Any global k-minimum
  // hash is within its own day's k minima, so the store read is
  // bit-identical to the one-shot sketch — x40's oracle, kth-hash
  // order statistic included, through the streaming door.
  def x162StreamKmv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val ws = t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = Dedup.materialize(ws.withColumn("__w1", lead(col("w"), 1).over(byDoc))
      .filter(col("__w1").isNotNull)
      .select(col("lang"), concat_ws(" ", col("w"), col("__w1")).as("bg"))
      .withColumn("day", pmod(TextAnalysis.md5Bucket(col("bg")), lit(3))))
    val table = FreshTables.next(spark, dir, "skmvstore")
    val base = FreshTables.next(spark, dir, "skmvin")
    (0 until 3).foreach { b =>
      bg.filter(col("day") === b).repartition(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val stream = spark.readStream.schema(bg.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch.agg(min(col("day"))).head().get(0).toString
        Sketches.kmvAppendDay(spark, batch, "lang", "bg", s"d$d", table)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    Drain(q, "x162", 300000)
    // at-least-once: re-deliver day d1 — the (lang, day) merge replaces
    Sketches.kmvAppendDay(spark, bg.filter(col("day") === 1), "lang", "bg",
      "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    val expected = bg.select(col("lang"), col("day")).distinct().count()
    require(stored == expected,
      s"x162: store holds $stored sketch rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    Sketches.kmvDistinctFromStore(spark, table, "lang")
  }

  val x162Sql: String = x40Sql

}
