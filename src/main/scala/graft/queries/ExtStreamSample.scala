package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, Chunking, DataCard, Dedup, Dsir, Events, Graph, LangModel, MediaStore, Multimodal, Pq, Privacy, Profiling, Quantiles, Redaction, Retrieval, SampleStore, Sampling, Scd2, Sharding, Similarity, Sketches, TextAnalysis}
import graft.streaming.{Drain, Replay}

/** x32-x64: quality gates, streaming drains, sampling, corpus funnels, mixture plans.
  * Mechanical slice of the former single-object ExtQueries (r14);
  * see ExtQueries.scala for the shared determinism conventions.
  */
private[graft] trait ExtStreamSample extends ExtFoundations {
  import CoreQueries.t
  // --- x33: STATEFUL STREAMING sessionization ≡ batch oracle --------------
  // The flatMapGroupsWithState path end-to-end in the gate: events replay
  // through a real Structured Streaming query (parquet source →
  // StatefulSessions.sessionize → memory sink, drained by Replay) and
  // must produce exactly the batch gaps-and-islands sessions. Append mode
  // only emits CLOSED sessions, so a per-user SENTINEL event at
  // max(ts) + gap + 1 closes each user's final session deterministically
  // (the sentinel's own session stays open and is never emitted). The
  // input is one sorted file → one micro-batch → no cross-batch
  // out-of-order hazard; state is O(users), the bounded-state shape that
  // scales to an unbounded stream where the batch window query cannot run.
  def x33StreamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulSessions
    val gap = 30L * 60 * 1000000L // 30 min in micros, same as x08
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val ev = t(spark, dir, "events")
      .transform(e => e.select(col("user_id"), Events.epochMicros(e).as("ts")))
    val sentinels = ev.groupBy("user_id").agg((max(col("ts")) + gap + 1).as("ts"))
    StatefulSessions.replayedSessionize(spark,
      ev.unionByName(sentinels.select(col("user_id"), col("ts"))), gap,
      graft.Scratch.path(s"ssess_$tag"), s"x33_sessions_$tag")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
  }

  // The batch oracle: identical gaps-and-islands sessions (x08 without
  // the session_seq column — streaming state has no global sequence).
  val x33Sql: String =
    """WITH x AS (SELECT user_id, epoch_us(ts) AS e FROM events),
       s AS (SELECT user_id, e,
         CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
                OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > 1800000000
              THEN 1 ELSE 0 END AS ns FROM x),
       g AS (SELECT user_id, e,
         sum(ns) OVER (PARTITION BY user_id ORDER BY e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM s)
       SELECT user_id, min(e) AS session_start, max(e) AS session_end,
              count(*) AS n_events
       FROM g GROUP BY user_id, session_seq"""

  // --- x34: STREAMING incremental dedup (stream-static join) --------------
  // The second core streaming pattern after x33's stateful path: the daily
  // increment arrives as a STREAM and joins the STATIC historical
  // fingerprint store — Spark's stream-static join, stateless and
  // deterministic regardless of micro-batching, so the result must equal
  // the batch x28 oracle exactly. At 100 TB the static side is the
  // keys-only fingerprint store (broadcast or bucket-joined), never the
  // corpus.
  def x34StreamingIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"sdedup_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh replay per run
    val (inc, seen) = incrementalDedupInputs(spark, dir)
    inc.write.parquet(s"$base/in")
    Replay.memory(spark.readStream.schema(inc.schema).parquet(s"$base/in")
      .join(seen, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("__seen").isNotNull.as("is_dup")),
      s"x34_sdedup_$tag", "append")
  }

  val x34Sql: String = x28Sql

  // --- x35: temperature mixture sampling (alpha=0.5 source balancing) -----
  // The data-mixture step of corpus construction: sources re-weighted to
  // sqrt-proportional shares (up-weights low-resource sources), then
  // hash-sampled at the per-source rate that hits ~300 docs total. Every
  // arithmetic step is engineered bit-identical (integer-quantized
  // weights, exact integer sums, single divisions) so the sampled SET
  // reproduces on any engine.
  def x35MixtureSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixture(t(spark, dir, "documents"), "source", "doc_id", 300L)
      .select(col("doc_id"), col("source"), col("sample_rate"))

  val x35Sql: String =
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
       w AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w FROM c),
       t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
       r AS (SELECT source, least(1.0, CAST(300 * w AS DOUBLE) / CAST(tw * n AS DOUBLE)) AS sample_rate FROM w, t),
       b AS (SELECT d.doc_id, d.source, r.sample_rate,
           (SELECT CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS BIGINT)
            FROM (SELECT md5(CAST(d.doc_id AS VARCHAR)) AS hx)) AS bucket
         FROM documents d JOIN r USING (source))
       SELECT doc_id, source, sample_rate FROM b
       WHERE bucket < CAST(floor(sample_rate * 65536) AS BIGINT)"""

  // --- x32: composite quality gate (C4/Gopher rule mask) ------------------
  // The actual FILTERING step of a training-data pipeline: five rules,
  // per-rule fail bits (auditable kill distribution), keep = mask 0. Rule
  // 4 cross-checks marker-vote language ID against the declared lang
  // column — mislabeled language is a top corpus defect.
  def x32QualityGate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityGate(t(spark, dir, "documents"), "text", "lang")
      .select(col("doc_id"), col("lang"), col("fail_mask"), col("keep"))

  /** Shared CTE chain ending in `f` (one row per doc with source, lang,
    * wc/awl/pr/swr metrics and lang_pred) — the relational twin of
    * [[TextAnalysis.qualityGate]]'s rule inputs; reused by the x32 gate
    * and x87's per-source funnel rollup.
    */
  protected val qgCtes: String =
    """t AS (SELECT doc_id, source, lang, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       FROM documents),
       m AS (SELECT doc_id, source, lang,
         CAST(len(toks) AS BIGINT) AS wc,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS awl,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS pr,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','as','by','at','be','this','that','it','from','or','are','was'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS swr
       FROM t),
       sc AS (
         SELECT doc_id, 'en' AS plang, len(list_filter(['the','and','of','to','is','that','for','with','this','are'], x -> list_contains(toks, x))) AS score FROM t
         UNION ALL SELECT doc_id, 'es', len(list_filter(['el','la','de','que','los','una','por','del','las','es'], x -> list_contains(toks, x))) FROM t
         UNION ALL SELECT doc_id, 'fr', len(list_filter(['le','les','des','une','est','dans','pour','que','sur','avec'], x -> list_contains(toks, x))) FROM t
         UNION ALL SELECT doc_id, 'de', len(list_filter(['der','die','das','und','ist','nicht','mit','ein','für','auf'], x -> list_contains(toks, x))) FROM t
         UNION ALL SELECT doc_id, 'zh', 0 FROM t),
       lp AS (SELECT doc_id,
             CASE WHEN score > 0 THEN plang ELSE 'und' END AS lang_pred,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang DESC) AS rn
           FROM sc),
       f AS (SELECT m.*, lp.lang_pred FROM m JOIN lp ON m.doc_id = lp.doc_id AND lp.rn = 1)"""

  protected val qgMask: String =
    """CASE WHEN NOT (wc BETWEEN 10 AND 5000) THEN 1 ELSE 0 END
            + CASE WHEN swr < 0.05 THEN 2 ELSE 0 END
            + CASE WHEN pr > 0.2 THEN 4 ELSE 0 END
            + CASE WHEN NOT (awl BETWEEN 2.0 AND 12.0) THEN 8 ELSE 0 END
            + CASE WHEN lang_pred IS DISTINCT FROM lang THEN 16 ELSE 0 END"""

  val x32Sql: String =
    s"""WITH $qgCtes
       SELECT doc_id, lang,
         CAST($qgMask AS BIGINT) AS fail_mask,
         ($qgMask) = 0 AS keep
       FROM f"""

  // --- x36: late-data watermark gate (deterministic multi-batch replay) ---
  // Event-time correctness under out-of-order arrival: rows are assigned
  // an arrival batch (6 time-slices; a reproducible md5-chosen ~15% of
  // rows arrive TWO batches late), replayed file-per-batch, and aggregated
  // into 1-hour tumbling windows behind a 30-minute watermark. The oracle
  // replays the calibrated watermark algebra relationally — see the
  // LateData scaladoc for the W_{j-2} filter / W_{j-1} eviction rules.
  /** Replay-spec bounds (events min/max tu) for [[x36LateWatermark]] and
    * [[x42StreamJoin]], computed once per JVM per data dir: the
    * batch-assignment scalars are part of the replay SPEC, not something
    * each invocation should re-derive with a full scan (the bench's
    * warm-up + 3 passes share one pass).
    */
  protected val x36Bounds =
    new java.util.concurrent.ConcurrentHashMap[String, Option[(Long, Long)]]()

  def x36LateWatermark(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.LateData
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nBatches = 6
    val ev = t(spark, dir, "events")
      .transform(e => e.select(col("event_id"), Events.epochMicros(e).as("tu")))
    val bounds = x36Bounds.computeIfAbsent(dir, _ => {
      val r = ev.agg(min("tu"), max("tu")).collect().head
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    })
    if (bounds.isEmpty) // empty events table: no batches, no windows
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL("ws BIGINT, n BIGINT"))
    val (mn, mx) = bounds.get
    val assigned = ev
      .withColumn("__nat",
        least(expr(s"((tu - ${mn}L) * $nBatches) div (${mx}L - ${mn}L + 1)"), lit(nBatches - 1L)))
      .withColumn("__ab", least(
        col("__nat") + when(TextAnalysis.md5Bucket(col("event_id")) < 9830L, 2L).otherwise(0L),
        lit(nBatches - 1L)))
    LateData.replayedWindowedCounts(spark, assigned, "tu", "__ab",
      graft.Scratch.path(s"late_$tag"), "1 hour", "30 minutes", s"x36_late_$tag")
  }

  // Watermark algebra, relationally: per-batch max event time -> running
  // max -> W_k = (floor_ms(max) - 30min)*1000; a row is kept iff its
  // window end beats W of two batches earlier (lag 2 = the late-events
  // watermark of its arrival batch); a window is emitted iff its end <=
  // the final watermark. 3600000000 = 1h in micros, 1800000 = 30min in ms.
  val x36Sql: String =
    """WITH e AS (SELECT event_id AS id, epoch_us(ts) AS tu FROM events),
       bounds AS (SELECT min(tu) AS mn, max(tu) AS mx FROM e),
       l AS (SELECT id, tu,
             least(((tu - mn) * 6) // (mx - mn + 1), 5)
           + CASE WHEN CAST((strpos('0123456789abcdef', substr(md5(CAST(id AS VARCHAR)), 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(md5(CAST(id AS VARCHAR)), 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(md5(CAST(id AS VARCHAR)), 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5(CAST(id AS VARCHAR)), 4, 1)) - 1) AS BIGINT) < 9830
             THEN 2 ELSE 0 END AS ab0
         FROM e, bounds),
       a AS (SELECT id, tu, least(ab0, 5) AS ab FROM l),
       pb AS (SELECT ab, max(tu) AS mxb FROM a GROUP BY ab),
       pw AS (SELECT ab, ((max(mxb) OVER (ORDER BY ab)) // 1000 - 1800000) * 1000 AS wnow FROM pb),
       f AS (SELECT ab, coalesce(lag(wnow, 2) OVER (ORDER BY ab), 0) AS fwm FROM pw),
       fin AS (SELECT max(wnow) AS ewm FROM pw),
       kept AS (SELECT tu FROM a JOIN f USING (ab)
                WHERE ((tu // 3600000000) + 1) * 3600000000 > fwm)
       SELECT (tu // 3600000000) * 3600000000 AS ws, count(*) AS n
       FROM kept, fin
       WHERE ((tu // 3600000000) + 1) * 3600000000 <= ewm
       GROUP BY 1"""

  // --- x37: Kafka-shaped wire ingestion through the online-job seam ------
  // The reference's push channel (inline RPC payloads,
  // cubicerpetl/cubicerpetl.py:204-214) modernized as a message bus: rows
  // are rendered as Kafka wire records (key/value binary + topic/partition/
  // offset), replayed hermetically from a parquet drop (this container
  // ships no Kafka connector jar — the adapter is source-agnostic by
  // design), decoded against an explicit payload schema, and drained by
  // the SAME OnlineJob seam as q39: transform + log-state recovery + merge
  // routing per micro-batch. One deliberately malformed payload proves the
  // PERMISSIVE null→error-channel routing claim; bus offsets ride along
  // (`bus_offset`) so at-least-once replays can be fenced downstream.
  def x37KafkaDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{LogStore, MergeRouter}
    import graft.spec.Specs._
    import graft.streaming.{KafkaShaped, OnlineJob}
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"kafka_$tag")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh run: checkpoint must not carry over
    val (inDir, logDir, ckpt, outDir, errDir) =
      (s"$base/in", s"$base/log", s"$base/ckpt", s"$base/out", s"$base/err")

    val subset = t(spark, dir, "orders").filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val wire = KafkaShaped.encode(subset,
      key = col("o_orderkey"),
      topic = "orders",
      partition = pmod(col("o_orderkey"), lit(4)),
      offset = col("o_orderkey"),
      timestamp = to_timestamp(lit("2024-01-01 00:00:00")))
    // one wire record whose value is not JSON: must surface as an all-null
    // payload row (PERMISSIVE decode) and route to the error channel, not
    // kill the stream
    val malformed = spark.range(1).select(
      lit("bad").cast("binary").as("key"),
      lit("{not json").cast("binary").as("value"),
      lit("orders").as("topic"),
      lit(0).as("partition"),
      lit(-1L).as("offset"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("timestamp"),
      lit(0).as("timestampType"))
    wire.unionByName(malformed).write.parquet(inDir)

    // keys already loaded once: must route as updates with the recovered id
    LogStore.append(spark, logDir, subset.filter(col("o_orderkey") % 10 === 0).select(
      lit("kafka_x37").as("job"), col("o_orderkey").cast("string").as("pk"),
      (col("o_orderkey") * 3).as("model_id"), lit("info").as("level"),
      lit("preloaded").as("message"), current_timestamp().as("ts")))

    val job = JobSpec(
      name = "kafka_x37",
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Left(FileResource(inDir, "parquet")),
      transform = TransformSpec(
        fields = Seq(
          FieldSpec("o_orderkey", fieldName = Some("okey"), fieldType = "int"),
          FieldSpec("o_totalprice", fieldName = Some("price"), fieldType = "float"),
          FieldSpec("offset", fieldName = Some("bus_offset"), fieldType = "int")),
        reprocess = ReprocessMode.Update,
        pkField = Some("o_orderkey")))

    val wireStream = spark.readStream.schema(KafkaShaped.wireSchema).parquet(inDir)
    val source = KafkaShaped.decode(wireStream,
      org.apache.spark.sql.types.StructType.fromDDL("o_orderkey long, o_totalprice double"))
    val q = OnlineJob.start(spark, job, source, logDir, ckpt, (routed, _) => {
      routed.filter(col("okey").isNull)
        .select(col("bus_offset"), lit("unparseable payload").as("reason"))
        .write.mode("append").parquet(errDir)
      routed.filter(col("okey").isNotNull).write.mode("append").parquet(outDir)
    })
    // never read partial output from a still-running drain
    Drain(q, "x37", 120000)
    spark.read.parquet(outDir).select(
      col("okey").cast("long").as("okey"),
      col(MergeRouter.ActionCol).as("action"),
      col(MergeRouter.IdCol).cast("long").as("model_id"),
      col("bus_offset").cast("long").as("bus_offset"))
      .unionByName(spark.read.parquet(errDir).select(
        lit(null).cast("long").as("okey"), lit("error").as("action"),
        lit(null).cast("long").as("model_id"), col("bus_offset").cast("long").as("bus_offset")))
  }

  val x37Sql: String =
    """SELECT o_orderkey AS okey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'update' ELSE 'insert' END AS action,
       CASE WHEN o_orderkey % 10 = 0 THEN o_orderkey * 3 END AS model_id,
       o_orderkey AS bus_offset
       FROM orders WHERE o_orderkey % 5 = 0
       UNION ALL
       SELECT CAST(NULL AS BIGINT), 'error', CAST(NULL AS BIGINT), CAST(-1 AS BIGINT)"""

  /** DuckDB SQL fragment parsing the first 12 hex chars of column/expr
    * `hx` into the 48-bit integer they encode — the oracle-side twin of
    * `conv(substring(hx, 1, 12), 16, 10)`. Generated, not hand-typed:
    * twelve strpos terms with exact power-of-16 multipliers.
    */
  protected def duckHex48(hx: String): String =
    (0 until 12).map { i =>
      val mult = 1L << (4 * (11 - i))
      s"(strpos('0123456789abcdef', substr($hx, ${i + 1}, 1)) - 1) * $mult"
    }.mkString("(", "\n             + ", ")")

  // --- x38: PII redaction (emails / IPv4 / phone spans -> placeholders) --
  // The synthetic corpus carries no PII, so the query derives a
  // deterministic raw text (doc_id-keyed PII suffixes) in BOTH engines
  // and gates the operator on it: per-category counts on the raw text
  // (the audit signal) plus the placeholder-redacted text itself.
  def x38PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val did = col("doc_id")
    val raw = concat(col("text"),
      when(pmod(did, lit(4L)) === 0L,
        concat(lit(" contact user"), did.cast("string"), lit("@example.com now")))
      .when(pmod(did, lit(4L)) === 1L,
        concat(lit(" node ip 10."), pmod(did, lit(256L)).cast("string"),
          lit(".0."), pmod(did, lit(100L)).cast("string"), lit(" up")))
      .when(pmod(did, lit(4L)) === 2L,
        concat(lit(" call +1 555 "), lpad(pmod(did, lit(10000L)).cast("string"), 4, "0"),
          lit(" ok")))
      .otherwise(lit("")))
    d.select(
      did,
      Redaction.redact(raw).as("clean"),
      Redaction.piiCount(raw, "email").as("n_email"),
      Redaction.piiCount(raw, "ipv4").as("n_ip"),
      Redaction.piiCount(raw, "phone").as("n_phone"))
  }

  val x38Sql: String =
    """WITH r AS (SELECT doc_id, text ||
         CASE WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              WHEN doc_id % 4 = 1 THEN ' node ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' up'
              WHEN doc_id % 4 = 2 THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok'
              ELSE '' END AS raw
       FROM documents)
       SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(raw,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+\d(?:[ -]?\d){7,14}', '<PHONE>', 'g') AS clean,
         CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
         CAST(len(regexp_extract_all(raw, '\+\d(?:[ -]?\d){7,14}')) AS BIGINT) AS n_phone
       FROM r"""

  // --- x39: weighted sample without replacement (Efraimidis-Spirakis) ----
  // Weight = word count (longer docs favored); k = 100. The oracle
  // replicates the exact key algebra: u from the md5 48-bit prefix,
  // key = round(ln(u)/w, 6), top-k by key desc with doc_id tiebreak.
  def x39WeightedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedTopK(
      t(spark, dir, "documents"), "doc_id", TextAnalysis.wordCount(col("text")), 100)
      .select(col("doc_id"), col("sample_rank"), col("es_key"))

  val x39Sql: String =
    s"""WITH w AS (SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS wc,
         md5(CAST(doc_id AS VARCHAR)) AS hx
       FROM documents),
       h AS (SELECT doc_id, wc, ${duckHex48("hx")} AS h48 FROM w),
       k AS (SELECT doc_id,
             round(ln((CAST(h48 AS DOUBLE) + 0.5) / 281474976710656.0)
                   / greatest(CAST(wc AS DOUBLE), 1.0), 6) AS es_key FROM h),
       r AS (SELECT doc_id, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rn FROM k)
       SELECT doc_id, CAST(rn AS BIGINT) AS sample_rank, es_key
       FROM r WHERE rn <= 100"""

  // --- x40: KMV distinct-count sketch (token bigrams per language) -------
  // The mergeable-sketch answer to count(DISTINCT) at corpus scale; the
  // oracle replicates the sketch bit-for-bit from md5-hex order
  // statistics (k = 64, estimate = (k-1) / normalized kth hash).
  def x40KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bigrams relationally (posexplode + lead over the doc window) — the
    // array-HOF spelling is CodegenFallback and ~5x slower at sf0.1
    val ws = t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = ws.withColumn("__w1", lead(col("w"), 1).over(byDoc))
      .filter(col("__w1").isNotNull)
      .select(col("lang"), concat_ws(" ", col("w"), col("__w1")).as("bg"))
    Sketches.kmvDistinct(bg, "lang", "bg", k = 64)
  }

  val x40Sql: String =
    s"""WITH w AS (SELECT lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
       FROM documents),
       b AS (SELECT lang, unnest(list_transform(generate_series(1, len(ws) - 1),
             i -> ws[i] || ' ' || ws[i + 1])) AS bg
         FROM w WHERE len(ws) >= 2),
       hd AS (SELECT DISTINCT lang, substr(md5(bg), 1, 12) AS hx FROM b),
       r AS (SELECT lang, hx, row_number() OVER (PARTITION BY lang ORDER BY hx) AS rn FROM hd),
       s AS (SELECT lang, count(*) AS nd FROM hd GROUP BY 1),
       kth AS (SELECT lang, hx FROM r WHERE rn = 64)
       SELECT s.lang,
         CAST(least(s.nd, 64) AS BIGINT) AS n_vals,
         kth.hx AS kth_hash,
         CASE WHEN kth.hx IS NOT NULL
              THEN 63.0 / (CAST(${duckHex48("kth.hx")} AS DOUBLE) / 281474976710656.0)
              ELSE CAST(least(s.nd, 64) AS DOUBLE) END AS est_distinct
       FROM s LEFT JOIN kth ON s.lang = kth.lang"""

  // --- x41: overlapping token-window chunking (size 40, stride 20) -------
  def x41DocChunks(spark: SparkSession, dir: String): DataFrame =
    Chunking.tokenChunks(t(spark, dir, "documents"), Seq("doc_id"), "text", 40, 20)

  val x41Sql: String =
    """WITH w AS (SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
       FROM documents),
       s AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1, 20)) AS st
         FROM w WHERE len(ws) > 0)
       SELECT doc_id,
         CAST(st // 20 AS BIGINT) AS chunk_idx,
         CAST(st AS BIGINT) AS start_tok,
         CAST(least(40, len(ws) - st) AS BIGINT) AS n_toks,
         array_to_string(list_slice(ws, st + 1, st + 40), ' ') AS chunk_text
       FROM s"""

  // --- x42: stream-stream interval join (clicks x purchases, <= 6h) ------
  // Arrival batches are assigned in event-time order (nothing droppable),
  // so the watermarked stream-stream join's append result equals the
  // batch interval join — the oracle. What the gate pins is the join
  // plumbing itself: two watermarked sources, bounded join state,
  // min-across-sources watermark, exactly-once match emission.
  def x42StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamJoin
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nBatches = 4
    val ev = t(spark, dir, "events")
      .transform(e => e.select(col("user_id"), col("event_type"), Events.epochMicros(e).as("tu")))
    val bounds = x36Bounds.computeIfAbsent(dir, _ => {
      val r = ev.agg(min("tu"), max("tu")).collect().head
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    })
    if (bounds.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, click_tu BIGINT, purchase_tu BIGINT"))
    val (mn, mx) = bounds.get
    val batch = least(
      expr(s"((tu - ${mn}L) * $nBatches) div (${mx}L - ${mn}L + 1)"), lit(nBatches - 1L))
    def side(tpe: String): DataFrame = ev
      .filter(col("event_type") === tpe)
      .withColumn("__ab", batch)
      .select(col("tu"), col("user_id"), col("__ab"))
    StreamJoin.replayedIntervalJoin(spark,
      side("click"), side("purchase"),
      "tu", "user_id", "__ab",
      graft.Scratch.path(s"sj_$tag"), "1 hour", 21600000000L, s"x42_sj_$tag")
      .select(col("user_id"), col("l_tu").as("click_tu"), col("r_tu").as("purchase_tu"))
  }

  val x42Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
       c AS (SELECT user_id, tu FROM e WHERE event_type = 'click'),
       p AS (SELECT user_id, tu FROM e WHERE event_type = 'purchase')
       SELECT c.user_id, c.tu AS click_tu, p.tu AS purchase_tu
       FROM c JOIN p ON c.user_id = p.user_id
        AND p.tu >= c.tu AND p.tu <= c.tu + 21600000000"""

  /** DuckDB SQL fragment for the Morton interleave of two 16-bit rank
    * expressions — the oracle-side twin of [[ZOrder.zValue]]'s 32
    * shift/mask terms, generated with the same exact powers of two.
    */
  protected def duckZ(x: String, y: String): String =
    (0 until graft.ext.ZOrder.Bits).map { i =>
      s"(($x // ${1L << i}) % 2) * ${1L << (2 * i)} + (($y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", "\n             + ", ")")

  // --- x43: Z-order clustering stats (multi-dim data-skipping layout) ----
  // lineitem clustered on (l_partkey, l_suppkey): per-z-bucket row counts
  // and min/max of BOTH dimensions — the file-level skipping metadata a
  // Z-ordered layout publishes. ScaleSpec asserts the skipping property
  // itself (bounded per-bucket ranges in both dimensions).
  def x43ZOrderStats(spark: SparkSession, dir: String): DataFrame =
    graft.ext.ZOrder.zOrderStats(
      t(spark, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")),
      "l_partkey", "l_suppkey", 16)

  val x43Sql: String =
    s"""WITH b AS (SELECT min(l_partkey) AS xmn, max(l_partkey) AS xmx,
                         min(l_suppkey) AS ymn, max(l_suppkey) AS ymx FROM lineitem),
       r AS (SELECT l_partkey, l_suppkey,
             ((l_partkey - xmn) * 65536) // (xmx - xmn + 1) AS rx,
             ((l_suppkey - ymn) * 65536) // (ymx - ymn + 1) AS ry
         FROM lineitem, b),
       z AS (SELECT l_partkey, l_suppkey, ${duckZ("rx", "ry")} AS zv FROM r)
       SELECT (zv * 16) // 4294967296 AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(min(l_partkey) AS BIGINT) AS x_min, CAST(max(l_partkey) AS BIGINT) AS x_max,
         CAST(min(l_suppkey) AS BIGINT) AS y_min, CAST(max(l_suppkey) AS BIGINT) AS y_max
       FROM z GROUP BY 1"""

  // --- x44: streaming dedup within the watermark horizon -----------------
  // ~10% of events are re-sent 1s later (same id) — the classic at-least-
  // once re-delivery. dropDuplicatesWithinWatermark must drop every
  // re-arrival (both copies sit far inside the 30-minute horizon), so the
  // surviving ids equal the batch distinct — the oracle. The kept row's
  // WHICH-copy is racy within a micro-batch, so the gate emits ids only.
  def x44StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamDedup
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val nBatches = 4
    val ev = t(spark, dir, "events")
      .transform(e => e.select(col("event_id"), Events.epochMicros(e).as("tu")))
    val bounds = x36Bounds.computeIfAbsent(dir, _ => {
      val r = ev.agg(min("tu"), max("tu")).collect().head
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    })
    if (bounds.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT"))
    val (mn, mx) = bounds.get
    val dups = ev.filter(TextAnalysis.md5Bucket(col("event_id")) < 6553L)
      .withColumn("tu", col("tu") + 1000000L)
    val all = ev.unionByName(dups).withColumn("__ab", least(
      expr(s"((tu - ${mn}L) * $nBatches) div (${mx}L - ${mn}L + 1)"), lit(nBatches - 1L)))
    StreamDedup.replayedDedup(spark, all, "tu", "event_id", "__ab",
      graft.Scratch.path(s"sd_$tag"), "30 minutes", s"x44_sd_$tag")
      .select(col("event_id"))
  }

  val x44Sql: String = "SELECT DISTINCT event_id FROM events"

  // --- x45: streaming upsert into the manifest-committed table -----------
  // The lakehouse sink: a base snapshot of orders is written as a
  // ManifestStore table, then a stream of updates (price corrections for
  // okey % 3 = 0) and inserts (new okey % 7 = 0 keys, offset past the key
  // space) replays in 3 micro-batches, each merging atomically. The final
  // table must equal the batch upsert — which is the oracle. Each key
  // appears in exactly one batch, so merge order is immaterial and the
  // at-least-once replay contract (StreamUpsert scaladoc) is convergent.
  def x45StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    import graft.streaming.StreamUpsert
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val orders = t(spark, dir, "orders")
    val outSchema =
      org.apache.spark.sql.types.StructType.fromDDL("okey BIGINT, price DOUBLE, pt BIGINT")
    // empty base table: nothing to write, merge, or read (ManifestStore
    // rejects reading a zero-partition table by contract)
    if (orders.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val base = orders.select(
      col("o_orderkey").as("okey"),
      col("o_totalprice").as("price"),
      pmod(col("o_orderkey"), lit(8L)).as("pt"))
    // the table mutates per run: fresh dir per invocation, previous run's
    // table reclaimed so repeated bench passes don't accumulate in /tmp
    val table = FreshTables.next(spark, dir, "smu")
    ManifestStore.write(spark, base, table, "pt")
    val updates = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("okey"),
        (col("o_totalprice") * 2).as("price"),
        pmod(col("o_orderkey"), lit(8L)).as("pt"))
      .unionByName(orders.filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 100000000L).as("okey"),
          col("o_totalprice").as("price"),
          pmod(col("o_orderkey") + 100000000L, lit(8L)).as("pt")))
      // partition-aligned arrival (the realistic ingest shape): batch b
      // carries only partitions pt ≡ b (mod 3), so each micro-batch merge
      // reads and rewrites ~1/3 of the table — exercising the
      // O(touched partitions) contract instead of touching everything
      .withColumn("__ab", pmod(col("pt"), lit(3L)))
    StreamUpsert.replayedPipeline(spark, updates, Seq("okey", "price", "pt"), "__ab",
      graft.Scratch.path(s"smu_in_$tag"), table, Seq("okey"), Seq("pt"))
    ManifestStore.read(spark, table).select(
      col("okey").cast("long").as("okey"),
      col("price").cast("double").as("price"),
      col("pt").cast("long").as("pt"))
  }

  val x45Sql: String =
    """WITH base AS (SELECT o_orderkey AS okey, o_totalprice AS price FROM orders),
       upd AS (SELECT o_orderkey AS okey, o_totalprice * 2 AS price
               FROM orders WHERE o_orderkey % 3 = 0),
       ins AS (SELECT o_orderkey + 100000000 AS okey, o_totalprice AS price
               FROM orders WHERE o_orderkey % 7 = 0),
       fin AS (SELECT b.okey, coalesce(u.price, b.price) AS price
               FROM base b LEFT JOIN upd u ON b.okey = u.okey
               UNION ALL SELECT okey, price FROM ins)
       SELECT okey, price, CAST(okey % 8 AS BIGINT) AS pt FROM fin"""

  // --- x46: end-to-end corpus funnel (quality -> dedup -> decontaminate) --
  // The whole training-data pipeline as ONE composition of the library's
  // operators, gated on its per-source funnel counts: raw corpus docs
  // (the %50=0 slice stands in for the benchmark set, as in x31) pass the
  // x32 quality gate, survivors dedup to their exact-fingerprint keeper
  // (x26 keeper rule), and keepers are dropped when >=20% of their
  // 6-grams leak from the benchmark set (x31 overlap). Stage flags stay
  // monotone (clean => unique => quality), so the funnel is auditable:
  // n_raw >= n_quality >= n_unique >= n_clean per source.
  def x46CorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val flagged = TextAnalysis.qualityGate(corpus, "text", "lang")
    val kept = flagged.filter(col("keep"))
    val keepers = Dedup.exact(
      kept.withColumn("fp", TextAnalysis.fingerprint(col("text"))),
      Seq("fp"), struct((-length(col("text"))).as("neg_len"), col("doc_id")))
      .select(col("doc_id"), lit(1).as("__keeper"))
    val contam = Dedup.benchmarkOverlap(kept, bench, "doc_id", "text", shingleN = 6)
      .select(col("id").as("doc_id"), col("contamination_ratio"))
    flagged
      .join(keepers, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("__unique", col("keep") && col("__keeper").isNotNull)
      .withColumn("__clean",
        col("__unique") && coalesce(col("contamination_ratio"), lit(0.0d)) < 0.2d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("__unique"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("__clean"), 1L).otherwise(0L)).as("n_clean"))
  }

  val x46Sql: String =
    """WITH t0 AS (SELECT doc_id, lang, source, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       FROM documents WHERE doc_id % 50 <> 0),
       m AS (SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS wc,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS awl,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS pr,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','as','by','at','be','this','that','it','from','or','are','was'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS swr
       FROM t0),
       sc AS (
         SELECT doc_id, 'en' AS plang, len(list_filter(['the','and','of','to','is','that','for','with','this','are'], x -> list_contains(toks, x))) AS score FROM t0
         UNION ALL SELECT doc_id, 'es', len(list_filter(['el','la','de','que','los','una','por','del','las','es'], x -> list_contains(toks, x))) FROM t0
         UNION ALL SELECT doc_id, 'fr', len(list_filter(['le','les','des','une','est','dans','pour','que','sur','avec'], x -> list_contains(toks, x))) FROM t0
         UNION ALL SELECT doc_id, 'de', len(list_filter(['der','die','das','und','ist','nicht','mit','ein','für','auf'], x -> list_contains(toks, x))) FROM t0
         UNION ALL SELECT doc_id, 'zh', 0 FROM t0),
       lp AS (SELECT doc_id,
             CASE WHEN score > 0 THEN plang ELSE 'und' END AS lang_pred,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang DESC) AS rn
           FROM sc),
       fl AS (SELECT t0.doc_id, t0.source, t0.text,
           (CASE WHEN NOT (m.wc BETWEEN 10 AND 5000) THEN 1 ELSE 0 END
          + CASE WHEN m.swr < 0.05 THEN 1 ELSE 0 END
          + CASE WHEN m.pr > 0.2 THEN 1 ELSE 0 END
          + CASE WHEN NOT (m.awl BETWEEN 2.0 AND 12.0) THEN 1 ELSE 0 END
          + CASE WHEN lp.lang_pred IS DISTINCT FROM t0.lang THEN 1 ELSE 0 END) = 0 AS keep
         FROM t0 JOIN m ON t0.doc_id = m.doc_id
         JOIN lp ON t0.doc_id = lp.doc_id AND lp.rn = 1),
       kept AS (SELECT doc_id, source, text FROM fl WHERE keep),
       kd AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           length(text) AS len FROM kept),
       kr AS (SELECT doc_id,
             row_number() OVER (PARTITION BY fp ORDER BY len DESC, doc_id) AS rn FROM kd),
       uniq AS (SELECT doc_id FROM kr WHERE rn = 1),
       kw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM kept),
       ksh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 5, 0) + 1), i -> array_to_string(ws[i:i+5], ' '))) AS sh FROM kw),
       kposts AS (SELECT doc_id, unnest(sh) AS s FROM ksh0 WHERE len(sh) > 0),
       bw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
              FROM documents WHERE doc_id % 50 = 0),
       bsh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 5, 0) + 1), i -> array_to_string(ws[i:i+5], ' '))) AS sh FROM bw),
       bg AS (SELECT DISTINCT s FROM (SELECT unnest(sh) AS s FROM bsh0 WHERE len(sh) > 0)),
       sizes AS (SELECT doc_id, count(*) AS n FROM kposts GROUP BY 1),
       hits AS (SELECT k.doc_id, count(*) AS h FROM kposts k JOIN bg USING (s) GROUP BY 1),
       contam AS (SELECT s.doc_id, CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(s.n AS DOUBLE) AS cr
                  FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id),
       ann AS (SELECT fl.source, fl.keep,
             (fl.keep AND u.doc_id IS NOT NULL) AS uniq_f,
             (fl.keep AND u.doc_id IS NOT NULL AND coalesce(c.cr, 0) < 0.2) AS clean_f
           FROM fl LEFT JOIN uniq u ON fl.doc_id = u.doc_id
           LEFT JOIN contam c ON fl.doc_id = c.doc_id)
       SELECT source, count(*) AS n_raw,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         CAST(sum(CASE WHEN uniq_f THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         CAST(sum(CASE WHEN clean_f THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       FROM ann GROUP BY 1"""

  // --- x47: exact group quantiles over the value distribution ------------
  // Document-length quantiles per source (the corpus-stats staple). The
  // operator never sorts rows within a group — it aggregates to the
  // distinct-value distribution first (map-side combinable), then windows
  // over that; see the Quantiles scaladoc for the 100 TB argument.
  def x47GroupQuantiles(spark: SparkSession, dir: String): DataFrame =
    Quantiles.groupQuantiles(
      t(spark, dir, "documents"), Seq("source"), "n_chars", Seq(0.5, 0.9, 0.99))

  val x47Sql: String =
    """WITH c AS (SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
       w AS (SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
           FROM c),
       qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q)
       SELECT source, q, CAST(v AS BIGINT) AS n_chars
       FROM w, qs
       WHERE CAST(floor(q * (n - 1)) + 1 AS BIGINT) > cum - c
         AND CAST(floor(q * (n - 1)) + 1 AS BIGINT) <= cum"""

  // --- x48: incremental MinHash near-dup (increment vs LSH index) --------
  // The daily-ingest near-dup path: the %5=0 increment (x28's split)
  // probes the historical corpus's band index — cross pairs only, exact
  // Jaccard verify. The oracle computes exact cross-pair Jaccard from the
  // inverted index; LSH recall at jaccard >= 0.7 is exact to well past
  // oracle precision (see Dedup.minhashPairsAgainst scaladoc).
  def x48IncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.minhashPairsAgainst(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", shingleN = 3, bands = 32, rowsPerBand = 2, threshold = 0.7)
  }

  val x48Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
       sh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w),
       sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       inter AS (SELECT a.doc_id AS inc_id, b.doc_id AS hist_id, count(*) AS i
                 FROM posts a JOIN posts b ON a.s = b.s
                 WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 GROUP BY 1, 2),
       sizes AS (SELECT doc_id, len(sh) AS n FROM sh)
       SELECT inc_id, hist_id,
         CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
       FROM inter JOIN sizes na ON na.doc_id = inc_id
       JOIN sizes nb ON nb.doc_id = hist_id
       WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.7"""

  // --- x49: corpus passage dedup (tiled substring dedup) -----------------
  // Lee et al. 2022 substring dedup, tiling approximation: only the
  // corpus-order first occurrence of each repeated k-word tile survives,
  // docs reassembled from survivors. k=3 is test-scale (the synthetic
  // vocabulary is tiny — ~19% of 3-word tiles repeat at sf0.01);
  // production uses 50–100-word tiles on real text.
  def x49PassageDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.passageDedup(t(spark, dir, "documents"), "doc_id", "text", 3)

  val x49Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
       t AS (SELECT doc_id, CAST(u.i AS BIGINT) AS ti,
               array_to_string(ws[u.i*3+1 : u.i*3+3], ' ') AS tile
             FROM w, UNNEST(range(0, CAST(ceil(len(ws)/3.0) AS BIGINT))) AS u(i)),
       r AS (SELECT *, row_number() OVER (PARTITION BY tile ORDER BY doc_id, ti) AS rn FROM t)
       SELECT doc_id,
         coalesce(string_agg(tile, ' ' ORDER BY ti) FILTER (WHERE rn = 1), '') AS clean_text,
         count(*) AS n_tiles,
         count(*) FILTER (WHERE rn = 1) AS n_kept
       FROM r GROUP BY doc_id"""

  // --- x50: near-dup funnel (MinHash → components → keeper) --------------
  // The fuzzy twin of x46's exact-dedup funnel — the standard LLM
  // fuzzy-dedup pass composed end-to-end from library operators: LSH
  // candidate pairs (x04's generator), connected components (x23's
  // funnel), one keeper per cluster. The component label IS the min
  // member id, so the keeper needs no extra pass: a doc survives iff it
  // is unclustered or it is its own cluster label. At 100 TB every stage
  // keeps its own bound (banded buckets, O(log d) contraction rounds,
  // one doc_id-keyed join) — the composition adds only the final join +
  // per-source rollup.
  def x50NearDupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = allPairs(spark, dir)
    val clusters = Dedup.duplicateClusters(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    docs.join(clusters, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"), 1L).otherwise(0L)).as("n_survivors"))
  }

  val x50Sql: String =
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)},
       cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       SELECT d.source, count(*) AS n_docs,
         CAST(sum(CASE WHEN cl.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         CAST(sum(CASE WHEN cl.id IS NULL OR cl.cluster_id = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
       FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
       GROUP BY 1"""

  // --- x51: deterministic shard planning (greedy fill in md5 order) ------
  // The layout step before writing training shards: reproducible order
  // (md5 of doc_id, the repo convention), greedy fill to ~8192 chars.
  // The oracle's single global ORDER BY is exactly the funnel the
  // operator's bucket-offset cumsum avoids — see Sharding scaladoc.
  def x51ShardPlan(spark: SparkSession, dir: String): DataFrame =
    Sharding.planShards(t(spark, dir, "documents"), "doc_id", "n_chars", 8192L)

  val x51Sql: String =
    """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS n_chars,
           md5(CAST(doc_id AS VARCHAR)) AS mk FROM documents),
       w AS (SELECT doc_id, n_chars,
           coalesce(sum(n_chars) OVER (ORDER BY mk, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         FROM d)
       SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(bef // 8192 AS BIGINT) AS shard_id FROM w"""

  // --- x58: bigram-LM perplexity quality score (CCNet-style) -------------
  // Wenzek et al. 2020: score every doc's mean bigram log-prob under an
  // add-one bigram LM trained on a reference slice (here doc_id % 7 = 0,
  // a held-in "known good" sample). The filter is a predicate on avg_lp;
  // the gate checks the scores themselves. Engine-portable determinism:
  // per-bigram log-probs fixed-pointed at 1e-9 (LONG sum, order-free),
  // mean rounded 6 dp — see LangModel scaladoc.
  def x58PerplexityScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    LangModel.perplexityScore(docs, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
  }

  val x58Sql: String =
    """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
       bi AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM t),
       bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM bi),
       lm AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 7 = 0 GROUP BY 1, 2),
       ctx AS (SELECT w1, sum(c2) AS c1 FROM lm GROUP BY 1),
       v AS (SELECT count(DISTINCT w) AS v
             FROM (SELECT unnest(ws) AS w FROM t WHERE doc_id % 7 = 0)),
       sc AS (SELECT bg.doc_id,
           CAST(round(ln(CAST(COALESCE(lm.c2, 0) + 1 AS DOUBLE)
                         / CAST(COALESCE(ctx.c1, 0) + v.v AS DOUBLE))
                      * 1000000000.0, 0) AS BIGINT) AS lp9
         FROM bg LEFT JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
         LEFT JOIN ctx ON bg.w1 = ctx.w1 CROSS JOIN v)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round((CAST(sum(lp9) AS DOUBLE) / 1000000000.0)
               / CAST(count(*) AS DOUBLE), 6) AS avg_lp
       FROM sc GROUP BY 1"""

  // --- x59: DSIR importance resampling (hashed-unigram weights) ----------
  // Xie et al. 2023: target = English docs; every doc weighted by how
  // target-like its hashed-token distribution is, top-100 selected via
  // the two-stage salted top-k (no global sort). The oracle's single
  // ORDER BY window is exactly what scoredTopK avoids at scale.
  def x59DsirSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Dsir.importanceWeights(
      t(spark, dir, "documents"), col("lang") === "en", "doc_id", "text")
    Sampling.scoredTopK(w, "doc_id", col("log_w"), 100)
  }

  val x59Sql: String =
    s"""WITH tk0 AS (SELECT doc_id, lang = 'en' AS tgt,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
         FROM documents),
       hx AS (SELECT doc_id, tgt, md5(w) AS hx FROM tk0),
       tk AS (SELECT doc_id, tgt, ${duckHex48("hx")} % 1024 AS b FROM hx),
       counts AS (SELECT b, count(*) AS cr,
           sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct FROM tk GROUP BY 1),
       tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts),
       lr AS (SELECT b,
           CAST(round(ln((CAST(ct + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE))
                         / (CAST(cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE)))
                      * 1000000000.0, 0) AS BIGINT) AS lr9
         FROM counts CROSS JOIN tot),
       dw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           round(CAST(sum(lr9) AS DOUBLE) / 1000000000.0, 4) AS log_w
         FROM tk JOIN lr USING (b) GROUP BY 1),
       r AS (SELECT doc_id, n_toks, log_w,
           row_number() OVER (ORDER BY log_w DESC, doc_id) AS rn FROM dw)
       SELECT doc_id, n_toks, log_w, CAST(rn AS BIGINT) AS sel_rank
       FROM r WHERE rn <= 100"""

  // --- x60: cross-source near-dup overlap matrix -------------------------
  // Corpus diagnostics: which source pairs share near-duplicate content
  // (the "crawl A re-hosts crawl B" signal that decides dedup ordering).
  // Pure composition: x04's exact-recall MinHash pairs → source lookup →
  // canonical (least, greatest) rollup. max() of per-pair jaccards is
  // order-free, so no fixed-point machinery is needed.
  def x60SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = allPairs(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .groupBy(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
  }

  val x60Sql: String =
    s"""WITH ${jaccardCtes(3)},
       p AS (SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS j
         FROM inter JOIN sizes na ON na.doc_id = id_a
         JOIN sizes nb ON nb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.7),
       ps AS (SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b, j
         FROM p JOIN documents da ON da.doc_id = id_a
         JOIN documents db ON db.doc_id = id_b)
       SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         max(j) AS max_jaccard
       FROM ps GROUP BY 1, 2"""

  // --- x61: training-mixture recipe plan ---------------------------------
  // The Pile/Dolma "data recipe" table: per-source token allocation,
  // sampling rate, and epoch count under α=0.5 temperature balancing for
  // a 200k-token budget (chars stand in for tokens — same arithmetic).
  def x61MixturePlan(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixturePlan(t(spark, dir, "documents"), "source", "n_chars", 200000L)

  val x61Sql: String =
    """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS n_toks FROM documents GROUP BY 1),
       w AS (SELECT *, CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000) AS BIGINT) AS wq FROM c),
       t AS (SELECT sum(wq) AS tw FROM w),
       a AS (SELECT source, n_docs, n_toks,
             CAST((200000 * wq) // tw AS BIGINT) AS alloc_toks
             FROM w CROSS JOIN t)
       SELECT source, n_docs, n_toks, alloc_toks,
         CAST(CASE WHEN n_toks = 0 THEN 0
              ELSE (alloc_toks + n_toks - 1) // n_toks END AS BIGINT) AS epochs,
         CASE WHEN n_toks = 0 THEN 0.0
              ELSE round(CAST(alloc_toks AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) END AS sample_rate
       FROM a"""

  // --- x62: SRP-LSH embedding near-dup pairs -----------------------------
  // The LSH-bucketed scale path for vector similarity (vs x27's IVF
  // blocking): 8 bands × 6 sign-projection bits, deterministic md5
  // hyperplanes that the oracle rebuilds bit-identically, exact-cosine
  // verify at 0.4. The oracle mirrors the FULL pipeline (planes, signs,
  // buckets, verify), so banded recall cancels out of the comparison.
  def x62SrpNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.srpNearDupPairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      bands = 8, bitsPerBand = 6, threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  val x62Sql: String = {
    val h48 = duckHex48("hx")
    s"""WITH pl0 AS (SELECT i.i AS i, j.j AS j,
           md5('srp_' || CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)) AS hx
         FROM (SELECT unnest(range(0, 48)) AS i) i,
              (SELECT unnest(range(1, 65)) AS j) j),
       pl1 AS (SELECT i, j, 2.0 * ((CAST($h48 AS DOUBLE) + 0.5) / 281474976710656.0) - 1.0 AS r FROM pl0),
       planes AS (SELECT i, list(r ORDER BY j) AS rv FROM pl1 GROUP BY 1),
       v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       bits AS (SELECT vec_id, i // 6 AS band, i % 6 AS bit,
           CASE WHEN list_sum(list_transform(range(1, 65), k -> ve[k] * rv[k])) >= 0
                THEN CAST(power(2, i % 6) AS BIGINT) ELSE 0 END AS bval
         FROM n CROSS JOIN planes WHERE nrm > 0),
       sig AS (SELECT vec_id, band, sum(bval) AS bucket FROM bits GROUP BY 1, 2),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM sig a JOIN sig b
           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       scored AS (SELECT id_a, id_b,
           list_sum(list_transform(range(1, 65), k -> na.ve[k] * nb.ve[k])) / (na.nrm * nb.nrm) AS cos
         FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b)
       SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored WHERE cos >= 0.4"""
  }

  // --- x63: embedding-corpus funnel (SRP dedup → IVF layout → int8 audit) -
  // The vector-side twin of x46/x57's text funnels, composed end to end
  // from library operators: SRP-banded near-dup pairs (x62) → keep-first
  // dedup (a vector survives unless it appears as the LATER member of a
  // near-dup pair) → IVF assignment of survivors (x16's layout step —
  // at 100 TB the centroid id becomes the write-time partition key) →
  // per-bucket int8 quantization-error audit (x19's storage form; the
  // max-|error| column answers "is 4×-smaller storage safe for this
  // bucket"). Output is O(centroids) rows. The per-vector quant-error
  // HOF is bounded (64 dims) and off the hot path; at production scale
  // it would join the codegen'd expression family, and the survivor set
  // (consumed by both the assignment and the audit — recomputed here)
  // would be a persisted table between stages, as x48's index is.
  def x63EmbeddingFunnel(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val pairs = Similarity.srpNearDupPairs(emb, "vec_id", "embedding",
      bands = 8, bitsPerBand = 6, threshold = 0.4)
    val dropped = pairs.select(col("id_b").as("vec_id")).distinct()
    val kept = emb.join(dropped, Seq("vec_id"), "left_anti")
    val centroids = kept.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(kept, centroids, "vec_id", "embedding")
    val dv = col("embedding").cast("array<double>")
    val scale = array_max(transform(dv, x => abs(x)))
    val qerr = array_max(transform(dv,
      x => abs(round(x / scale * 127) * scale / lit(127.0d) - x)))
    assigned
      .withColumn("qerr", qerr)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"), round(max(col("qerr")), 6).as("max_qerr"))
  }

  val x63Sql: String = {
    val h48 = duckHex48("hx")
    s"""WITH pl0 AS (SELECT i.i AS i, j.j AS j,
           md5('srp_' || CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)) AS hx
         FROM (SELECT unnest(range(0, 48)) AS i) i,
              (SELECT unnest(range(1, 65)) AS j) j),
       pl1 AS (SELECT i, j, 2.0 * ((CAST($h48 AS DOUBLE) + 0.5) / 281474976710656.0) - 1.0 AS r FROM pl0),
       planes AS (SELECT i, list(r ORDER BY j) AS rv FROM pl1 GROUP BY 1),
       v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       bits AS (SELECT vec_id, i // 6 AS band, i % 6 AS bit,
           CASE WHEN list_sum(list_transform(range(1, 65), k -> ve[k] * rv[k])) >= 0
                THEN CAST(power(2, i % 6) AS BIGINT) ELSE 0 END AS bval
         FROM n CROSS JOIN planes WHERE nrm > 0),
       sig AS (SELECT vec_id, band, sum(bval) AS bucket FROM bits GROUP BY 1, 2),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM sig a JOIN sig b
           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       pairs AS (SELECT id_a, id_b
         FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         WHERE list_sum(list_transform(range(1, 65), k -> na.ve[k] * nb.ve[k])) / (na.nrm * nb.nrm) >= 0.4),
       kept AS (SELECT * FROM n WHERE vec_id NOT IN (SELECT id_b FROM pairs)),
       c AS (SELECT vec_id AS centroid_id, ve AS cv, nrm AS cn FROM kept WHERE vec_id % 50 = 0),
       s AS (SELECT k.vec_id, c.centroid_id,
           list_sum(list_transform(range(1, 65), k2 -> k.ve[k2] * c.cv[k2])) / (k.nrm * c.cn) AS sim
         FROM kept k CROSS JOIN c),
       r AS (SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn FROM s),
       a AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
       qe AS (SELECT k.vec_id,
           list_max(list_transform(k.ve,
             x -> abs(round(x / sc.scale * 127) * sc.scale / 127.0 - x))) AS qerr
         FROM kept k JOIN (SELECT vec_id, list_max(list_transform(ve, x -> abs(x))) AS scale FROM kept) sc
           ON sc.vec_id = k.vec_id)
       SELECT a.centroid_id, CAST(count(*) AS BIGINT) AS n_vectors,
         round(max(qe.qerr), 6) AS max_qerr
       FROM a JOIN qe ON qe.vec_id = a.vec_id
       GROUP BY 1"""
  }

  // --- x64: robust per-source outlier stats (median / MAD) ---------------
  // Data-quality monitoring: exact nearest-rank median and MAD per
  // source, plus the count of docs beyond 3×MAD (Leys et al. 2013's
  // robust outlier recipe). Entirely integer arithmetic on n_chars —
  // bit-identical on any engine; two distribution-level shuffles, never
  // a per-group row sort.
  def x64OutlierStats(spark: SparkSession, dir: String): DataFrame =
    Quantiles.robustOutlierStats(t(spark, dir, "documents"), Seq("source"), "n_chars", 3)

  val x64Sql: String =
    """WITH d AS (SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL),
       c1 AS (SELECT source, n_chars AS v, count(*) AS c FROM d GROUP BY 1, 2),
       w1 AS (SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY source) AS n FROM c1),
       med AS (SELECT source, v AS med FROM w1
         WHERE CAST(floor(0.5 * (n - 1)) + 1 AS BIGINT) > cum - c
           AND CAST(floor(0.5 * (n - 1)) + 1 AS BIGINT) <= cum),
       dev AS (SELECT d.source, abs(d.n_chars - med.med) AS dv, med.med
         FROM d JOIN med USING (source)),
       c2 AS (SELECT source, dv, count(*) AS c FROM dev GROUP BY 1, 2),
       w2 AS (SELECT source, dv, c,
             sum(c) OVER (PARTITION BY source ORDER BY dv) AS cum,
             sum(c) OVER (PARTITION BY source) AS n FROM c2),
       mad AS (SELECT source, dv AS mad FROM w2
         WHERE CAST(floor(0.5 * (n - 1)) + 1 AS BIGINT) > cum - c
           AND CAST(floor(0.5 * (n - 1)) + 1 AS BIGINT) <= cum)
       SELECT dev.source, CAST(count(*) AS BIGINT) AS n,
         CAST(min(dev.med) AS BIGINT) AS median,
         CAST(min(mad.mad) AS BIGINT) AS mad,
         CAST(sum(CASE WHEN dev.dv > mad.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM dev JOIN mad USING (source)
       GROUP BY 1"""

}
