package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, Chunking, DataCard, Dedup, Dsir, Events, Graph, LangModel, MediaStore, Multimodal, Pq, Privacy, Profiling, Quantiles, Redaction, Retrieval, SampleStore, Sampling, Scd2, Sharding, Similarity, Sketches, TextAnalysis}

/** x01-x31, x55, x57: exact/near dedup, text profiling, ANN, event windows, the incremental-day funnel + shared proto-store infra.
  * Mechanical slice of the former single-object ExtQueries (r14);
  * see ExtQueries.scala for the shared determinism conventions.
  */
private[graft] trait ExtFoundations {
  import CoreQueries.t

  import CoreQueries.t

  protected def dec2(c: Column): Column = c.cast("decimal(18,2)")

  // --- x01: exact-duplicate clusters via normalized content fingerprint --
  def x01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactClusters(
      t(spark, dir, "documents"),
      TextAnalysis.fingerprint(col("text")),
      col("doc_id"))

  val x01Sql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS dup_key,
       min(doc_id) AS keeper_id, count(*) AS dup_count
       FROM documents GROUP BY 1"""

  // --- x02: text quality profile (counts, ratios, fingerprint) ----------
  def x02TextProfile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.wordCount(col("text")).as("word_count"),
      TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.approxBpeTokenCount(col("text")).as("bpe_tokens"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  val x02Sql: String =
    """WITH t AS (SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       FROM documents)
       SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS word_count,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS avg_word_len,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','as','by','at','be','this','that','it','from','or','are','was'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
        CAST(COALESCE(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0)
             + length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS bpe_tokens,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
       FROM t"""

  // --- x03: language ID by marker voting --------------------------------
  def x03LangId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))

  val x03Sql: String =
    """WITH t AS (SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       FROM documents),
       sc AS (
         SELECT doc_id, 'en' AS lang, len(list_filter(['the','and','of','to','is','that','for','with','this','are'], m -> list_contains(toks, m))) AS score FROM t
         UNION ALL SELECT doc_id, 'es', len(list_filter(['el','la','de','que','los','una','por','del','las','es'], m -> list_contains(toks, m))) FROM t
         UNION ALL SELECT doc_id, 'fr', len(list_filter(['le','les','des','une','est','dans','pour','que','sur','avec'], m -> list_contains(toks, m))) FROM t
         UNION ALL SELECT doc_id, 'de', len(list_filter(['der','die','das','und','ist','nicht','mit','ein','für','auf'], m -> list_contains(toks, m))) FROM t
         UNION ALL SELECT doc_id, 'zh', 0 FROM t),
       r AS (SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn FROM sc)
       SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
       FROM r WHERE rn = 1"""

  // --- x04: MinHash+LSH near-dup pairs (verified with exact Jaccard) ----
  // The oracle is the EXACT all-pairs Jaccard (inverted index) — valid
  // because at threshold 0.7 with 32 bands × 2 rows the per-pair miss
  // probability is (1-s²)^32 ≤ 1e-23 for the fixture's s ≥ 0.9 dup pairs.
  def x04MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(spark, dir, "documents"), "doc_id", "text",
      shingleN = 3, bands = 32, rowsPerBand = 2, threshold = 0.7)

  /** Shared CTE chain computing exact all-pairs shingle Jaccard (inverted
    * index) — reused by the x04/x05 pair oracles and the x23 cluster
    * oracle. Ends with CTEs `inter` (id_a, id_b, i) and `sizes`.
    */
  protected def jaccardCtes(n: Int): String = {
    val sliceHi = n - 1
    s"""w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS ws FROM documents),
       sh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - $sliceHi, 0) + 1), i -> array_to_string(ws[i:i+$sliceHi], ' '))) AS sh FROM w),
       sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                 FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       sizes AS (SELECT doc_id, len(sh) AS n FROM sh)"""
  }

  /** Recursive connected-components CTE chain over the exact 3-shingle
    * Jaccard pairs at `threshold` — appended after [[jaccardCtes]]
    * inside a WITH RECURSIVE. Defines pairs/edges/nodes/reach; each
    * caller adds its own min(r) rollup (labels vs cluster ids vs split
    * keys). ONE copy, because a subtle edit here (threshold, UNION vs
    * UNION ALL) must reach every components oracle at once.
    */
  protected def componentCtes(threshold: Double): String =
    s"""pairs AS (
         SELECT id_a, id_b
         FROM inter JOIN sizes na ON na.doc_id = id_a
         JOIN sizes nb ON nb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= $threshold),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       nodes AS (SELECT DISTINCT src AS id FROM edges),
       reach AS (
         SELECT id, id AS r FROM nodes
         UNION
         SELECT e.src AS id, reach.r AS r FROM reach JOIN edges e ON e.dst = reach.id)"""

  protected def jaccardOracle(n: Int, threshold: Double): String =
    s"""WITH ${jaccardCtes(n)}
       SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
       FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
       WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= $threshold"""

  val x04Sql: String = jaccardOracle(3, 0.7)

  // --- x05: exact n-gram Jaccard pairs (inverted index) ------------------
  // 4-grams, not bigrams: the fixture vocabulary is ~30 words, so the
  // bigram universe is ~900 keys and every posting list is huge (the
  // inverted-index join would be quadratic); 4-gram postings are sparse.
  def x05NgramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(spark, dir, "documents"), "doc_id", "text",
      shingleN = 4, threshold = 0.5, maxPostingLen = 1000000L)

  val x05Sql: String = jaccardOracle(4, 0.5)

  // --- x06: SimHash near-dup pairs (portable md5-nibble token hash) ------
  // Pigeonhole blocking has EXACT recall at maxDist=3, so the Spark result
  // is precisely "all pairs with hamming ≤ 3" — which the oracle computes
  // brute-force from the same md5-nibble simhash definition.
  def x06SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(spark, dir, "documents"), "doc_id", "text", maxDist = 3,
      portable = true)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))

  val x06Sql: String =
    """WITH toks AS (SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
       FROM documents),
       h AS (SELECT doc_id, md5(w) AS hx FROM toks),
       votes AS (SELECT doc_id, t.b,
           sum(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 1 + CAST(t.b // 4 AS INT), 1)) - 1)
                          >> CAST(t.b % 4 AS INT)) & 1 = 1
               THEN 1 ELSE -1 END) AS v
         FROM h CROSS JOIN range(0, 64) t(b) GROUP BY 1, 2),
       bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
       pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
         FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3"""

  // --- x07: brute-force ANN top-k over embeddings ------------------------
  def x07AnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(data, data.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  val x07Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.ve[i])) / (q.qn * c.nrm) AS cos
         FROM n c JOIN q ON c.vec_id <> q.query_id),
       r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
       SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine FROM r WHERE rank <= 10"""

  // --- x08: gap sessionization over the events feed ----------------------
  // Event-time math runs on exact integer MICROS regardless of the fixture's
  // parquet encoding — Events.epochMicros resolves LONG-nanos vs
  // TIMESTAMP(MICROS) by schema; DuckDB's `epoch_us(ts)` agrees either way.
  def x08SessionStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    Events.sessionStats(
      ev.withColumn("ts_us", Events.epochMicros(ev)),
      "user_id", "ts_us", gap = 30L * 60 * 1000000L, tsCol = "ts_us")
  }

  val x08Sql: String =
    """WITH x AS (SELECT user_id, epoch_us(ts) AS e FROM events),
       s AS (SELECT user_id, e,
         CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
                OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > 1800000000
              THEN 1 ELSE 0 END AS ns FROM x),
       g AS (SELECT user_id, e,
         sum(ns) OVER (PARTITION BY user_id ORDER BY e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM s)
       SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
              min(e) AS session_start, max(e) AS session_end,
              count(*) AS n_events
       FROM g GROUP BY user_id, session_seq"""

  // --- x09: tumbling event-time window (hour buckets, exact int math) ----
  def x09TumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    ev.withColumn("ts_us", Events.epochMicros(ev))
      .groupBy(expr("ts_us div 3600000000").as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
  }

  val x09Sql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2"""

  // --- x10: multimodal metadata over an opaque binary column -------------
  def x10MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withMeta(
      t(spark, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("blob")),
      "blob")
      .select(col("doc_id"), col("byte_len"), col("digest"), col("magic"))

  val x10Sql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS digest,
       upper(substr(hex(encode(text)), 1, 8)) AS magic
       FROM documents"""

  // --- x11: IVF ANN (bucket-pruned). Approximate relative to brute force,
  // but DETERMINISTIC: assignment, probing, and ranking are all exact
  // argmax/top-k with total-order tie-breaks, so DuckDB can replicate the
  // whole pipeline and the result is fully oracled.
  def x11AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val centroids = data.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(data, centroids, "vec_id", "embedding")
    Similarity.ivfTopK(assigned, centroids, data.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 10, nprobe = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Shared CTE chain: normalized vectors `n`, centroids `c`, and the
    * argmax-cosine centroid assignment `asg` — reused by the x11 probe
    * oracle and the x27 blocked-dedup oracle.
    */
  protected val ivfCtes: String =
    """v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       c AS (SELECT vec_id AS centroid_id, ve AS cv, nrm AS cn FROM n WHERE vec_id % 50 = 0),
       asg0 AS (SELECT n.vec_id, c.centroid_id,
           list_sum(list_transform(range(1, len(n.ve) + 1), i -> n.ve[i] * c.cv[i])) / (n.nrm * c.cn) AS sim
         FROM n CROSS JOIN c),
       asg AS (SELECT vec_id, centroid_id FROM (
           SELECT vec_id, centroid_id,
                  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
           FROM asg0) WHERE rn = 1)"""

  val x11Sql: String =
    s"""WITH $ivfCtes,
       q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       pr0 AS (SELECT q.query_id, c.centroid_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i])) / (q.qn * c.cn) AS sim
         FROM q CROSS JOIN c),
       pr AS (SELECT query_id, centroid_id FROM (
           SELECT query_id, centroid_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, centroid_id) AS rn
           FROM pr0) WHERE rn <= 3),
       sc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * n.ve[i])) / (q.qn * n.nrm) AS cos
         FROM n JOIN asg ON n.vec_id = asg.vec_id
         JOIN pr ON asg.centroid_id = pr.centroid_id
         JOIN q ON pr.query_id = q.query_id
         WHERE n.vec_id <> q.query_id),
       r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
       SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine FROM r WHERE rank <= 10"""

  // --- x12: embedding cosine near-dup pairs within label blocks ----------
  def x12EmbeddingPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      blockKey = col("label"), threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  val x12Sql: String =
    """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, label, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(range(1, len(a.ve) + 1), i -> a.ve[i] * b.ve[i])) / (a.nrm * b.nrm) AS cos
         FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
       SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4"""

  // --- x13: sliding event-time window (2h window, 1h slide) ---------------
  // Spark's window() needs a timestamp: reconstruct µs timestamps from the
  // schema-resolved epoch µs, emit window starts back as integer µs for
  // exact compare.
  def x13SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .transform(ev => ev.withColumn("ts_t", timestamp_micros(Events.epochMicros(ev))))
      .groupBy(window(col("ts_t"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("n_events"), col("total_value"))

  val x13Sql: String =
    """WITH e AS (SELECT epoch_us(ts) AS eus, value FROM events),
       b AS (
         SELECT (eus // 3600000000) * 3600000000 AS win_start, value FROM e
         UNION ALL
         SELECT ((eus // 3600000000) - 1) * 3600000000 AS win_start, value FROM e)
       SELECT win_start, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM b GROUP BY 1"""

  // --- x14: term frequency — top-5 terms per source (explode+topk) --------
  def x14TermFrequency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
    val counts = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
  }

  val x14Sql: String =
    """WITH toks AS (SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
       FROM documents),
       c AS (SELECT source, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
       r AS (SELECT source, term, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rnk FROM c)
       SELECT source, term, cnt, rnk FROM r WHERE rnk <= 5"""

  // --- x15: CUBE rollup over (lang, source) -------------------------------
  def x15SourceCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  val x15Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY CUBE (lang, source)"""

  // --- x16: IVF assignment (the ANN build step, fully oracled) ------------
  def x16IvfAssign(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val centroids = data.filter(col("vec_id") % 50 === 0)
    Similarity.ivfAssign(data, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
  }

  val x16Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       n AS (SELECT vec_id, ve, sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm FROM v),
       c AS (SELECT vec_id AS centroid_id, ve AS cv, nrm AS cn FROM n WHERE vec_id % 50 = 0),
       s AS (SELECT n.vec_id, c.centroid_id,
           list_sum(list_transform(range(1, len(n.ve) + 1), i -> n.ve[i] * c.cv[i])) / (n.nrm * c.cn) AS sim
         FROM n CROSS JOIN c),
       r AS (SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn FROM s)
       SELECT vec_id, centroid_id FROM r WHERE rn = 1"""

  // --- x17: as-of join — each event to the user's latest signup ≤ t -------
  // (union+window formulation, AsofJoin; µs domain for DuckDB parity)
  def x17AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .transform(e => e.withColumn("ts_us", Events.epochMicros(e)))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    AsofJoin(
      ev.select(col("event_id"), col("user_id"), col("ts_us")),
      signups, keyCol = "user_id", leftTs = "ts_us", rightTs = "ts_us",
      rightCols = Map("event_id" -> "signup_event_id", "ts_us" -> "signup_ts"))
  }

  val x17Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
       s AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'signup')
       SELECT e.event_id, e.user_id, e.ts_us,
              s.event_id AS signup_event_id, s.ts_us AS signup_ts
       FROM e ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.ts_us >= s.ts_us"""

  // --- x18: frame sampling over binary payloads (multimodal) --------------
  def x18FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      t(spark, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("blob")),
      "blob", frameBytes = 16, everyNth = 2)
      .select(col("doc_id"), col("frame_idx"),
        col("frame_bytes").cast("string").as("frame"))

  val x18Sql: String =
    """WITH f AS (SELECT doc_id, text, CAST(ceil(length(text) / 16.0) AS INT) AS nf FROM documents),
       i AS (SELECT doc_id, text, unnest(range(0, nf)) AS frame_idx FROM f)
       SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
              substr(text, CAST(frame_idx AS INT) * 16 + 1, 16) AS frame
       FROM i WHERE frame_idx % 2 = 0"""

  // --- x19: int8 embedding quantization (storage-compression leg) ---------
  def x19QuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(col("embedding"))
    t(spark, dir, "embeddings").select(
      col("vec_id"),
      round(q.getField("scale"), 6).as("scale"),
      aggregate(q.getField("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
      array_min(q.getField("q")).as("q_min"),
      array_max(q.getField("q")).as("q_max"))
  }

  val x19Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       s AS (SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS scale FROM v),
       q AS (SELECT vec_id, scale,
             list_transform(ve, x -> CAST(round(x / scale * 127) AS INT)) AS qv FROM s)
       SELECT vec_id, round(scale, 6) AS scale,
              CAST(list_sum(qv) AS BIGINT) AS q_sum,
              list_min(qv) AS q_min, list_max(qv) AS q_max
       FROM q"""

  // --- x23: duplicate clusters (connected components over near-dup pairs) -
  // The minhash pair list (exact recall at threshold 0.7, see x04) becomes
  // clusters via iterative min-label propagation; the oracle computes the
  // same exact-Jaccard edge set and closes it with a recursive CTE.
  def x23DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = allPairs(spark, dir)
    Dedup.duplicateClusters(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  val x23Sql: String =
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)}
       SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"""

  // --- x20: rolling-hash document fingerprint (shard-key content hash) ----
  // ASCII-sanitized input keeps codepoint semantics identical across
  // engines (Spark ascii() vs DuckDB ascii() agree on ASCII).
  def x20RollingFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.rollingHash(
        regexp_replace(col("text"), "[^\\x20-\\x7E]", "")).as("rhash"))

  val x20Sql: String =
    s"""WITH s AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t FROM documents)
       SELECT doc_id,
         CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % ${TextAnalysis.RollingHashMod}) AS BIGINT) AS rhash
       FROM s"""

  // --- x21: TF-IDF top-3 terms per document ------------------------------
  // Classic keyword extraction: score = tf · ln(N/df). Counts are exact
  // integers; N is a broadcast scalar. ln is NOT IEEE-correctly-rounded,
  // so JVM Math.log and DuckDB's libm may differ in the last ulp — the
  // rank therefore uses the 6-dp ROUNDED score (+ term tiebreak): a flip
  // now needs two engines to round across a 1e-6 boundary from values
  // that differ by <1 ulp, instead of any two terms scoring within 1 ulp
  // of each other.
  def x21Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("score"))
  }

  val x21Sql: String =
    """WITH toks AS (SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
       FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents),
       sc AS (SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
              round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
         FROM tf JOIN df USING (term) CROSS JOIN n),
       r AS (SELECT doc_id, term, tf, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM sc)
       SELECT doc_id, rnk, term, tf, score FROM r WHERE rnk <= 3"""

  // --- x22: sequence packing (context-window binning for training) --------
  // Greedy in-order packing: within each source, docs in doc_id order are
  // assigned pack_id = ⌊exclusive-prefix-token-sum / capacity⌋. One window
  // cumsum per source partition — exact integer math, linear scale-out
  // (the 100 TB form packs within date/source partitions independently).
  def x22SequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capacity = 2048L
    val docs = t(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      TextAnalysis.wordCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("prev_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("prev_tokens") / capacity).cast("long").as("pack_id"))
  }

  val x22Sql: String =
    """WITH d AS (SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
       FROM documents),
       c AS (SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_tokens
         FROM d)
       SELECT doc_id, source, n_tokens,
              CAST(prev_tokens // 2048 AS BIGINT) AS pack_id
       FROM c"""

  // --- x24: reproducible ~10% corpus sample by md5 bucket -----------------
  // Hash-sampling instead of rand(): the SAME rows are selected on every
  // engine and every run — the reproducibility a training corpus needs.
  def x24HashSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("bucket", TextAnalysis.md5Bucket(col("doc_id")))
      .filter(col("bucket") < 6554) // 6554/65536 ≈ 10%
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))

  val x24Sql: String =
    """WITH h AS (SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
       b AS (SELECT doc_id, lang, source,
           CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS BIGINT) AS bucket
         FROM h)
       SELECT doc_id, lang, source, bucket FROM b WHERE bucket < 6554"""

  // --- x25: fixed-range histogram (data profiling) ------------------------
  def x25Histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(least(floor(col("o_totalprice") / 30000.0), lit(19.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total"))

  val x25Sql: String =
    """SELECT CAST(least(floor(o_totalprice / 30000.0), 19.0) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders GROUP BY 1"""

  // --- x26: dedup keeper selection (deterministic best-doc-per-group) -----
  // The final leg of the dedup story (pairs → clusters → KEEPER): one row
  // per content fingerprint, longest text wins, doc_id breaks ties.
  // Exercises Dedup.exact — Spark's dropDuplicates keeps an arbitrary row,
  // which a reproducible corpus can't use.
  def x26DedupKeeper(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    Dedup.exact(docs, Seq("fp"),
      struct((-length(col("text"))).as("neg_len"), col("doc_id")))
      .select(col("doc_id"), col("fp"))
  }

  val x26Sql: String =
    """WITH d AS (SELECT doc_id, length(text) AS len,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
       FROM documents),
       r AS (SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY len DESC, doc_id) AS rn FROM d)
       SELECT doc_id, fp FROM r WHERE rn = 1"""

  // --- x27: embedding near-dup pairs blocked by IVF centroid --------------
  // The production-shaped blocking for embedding dedup at 100 TB: block =
  // nearest-centroid cell (x12's label blocking needs trusted metadata;
  // this derives the block from the vectors themselves). Approximate —
  // pairs straddling a cell boundary are missed — but DETERMINISTIC, so
  // the oracle replicates the same assignment and the check is exact.
  def x27EmbeddingDedupIvf(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val centroids = data.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(data, centroids, "vec_id", "embedding")
    Dedup.embeddingPairs(assigned, "vec_id", "embedding",
      blockKey = col("centroid_id"), threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  val x27Sql: String =
    s"""WITH $ivfCtes,
       p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(range(1, len(a.ve) + 1), i -> a.ve[i] * b.ve[i])) / (a.nrm * b.nrm) AS cos
         FROM n a JOIN asg aa ON a.vec_id = aa.vec_id
         JOIN asg ab ON aa.centroid_id = ab.centroid_id
         JOIN n b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id)
       SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4"""

  // --- x28: incremental dedup (new batch vs historical fingerprints) ------
  // The daily-ingest pattern at 100 TB: dedup the INCREMENT against the
  // persisted fingerprint set (keys-only join) instead of re-deduping the
  // corpus. History here is the non-increment docs; the fingerprint store
  // side carries only distinct fps — never document payloads.
  /** Shared x28/x34 inputs: (increment (doc_id, fp), historical seen-fp
    * store (fp, __seen)). ONE definition — x34 is gated against the x28
    * oracle, so the split/fingerprint must not be able to drift apart.
    */
  protected def incrementalDedupInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(spark, dir, "documents")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val seen = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("fp")).distinct().withColumn("__seen", lit(1))
    (docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("fp")), seen)
  }

  def x28IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val (inc, seen) = incrementalDedupInputs(spark, dir)
    inc.join(seen, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("__seen").isNotNull.as("is_dup"))
  }

  val x28Sql: String =
    """WITH d AS (SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
       FROM documents),
       h AS (SELECT DISTINCT fp FROM d WHERE doc_id % 5 <> 0)
       SELECT d.doc_id, d.fp, h.fp IS NOT NULL AS is_dup
       FROM d LEFT JOIN h ON d.fp = h.fp
       WHERE d.doc_id % 5 = 0"""

  // --- x29: repeated n-gram stats (Gopher-style repetition signal) --------
  // Machine-generated/boilerplate text repeats its own n-grams; the dup
  // ratio (total - distinct) / total is the standard public repetition
  // heuristic (Rae et al. 2021). All counts exact ints, one division.
  def x29RepeatedNgrams(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repeatedNgramStats(t(spark, dir, "documents"), "doc_id", "text", 3)
      .withColumnRenamed("id", "doc_id")

  val x29Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
       g AS (SELECT doc_id, list_transform(range(1, greatest(len(ws) - 2, 0) + 1), i -> array_to_string(ws[i:i+2], ' ')) AS gs FROM w),
       posts AS (SELECT doc_id, unnest(gs) AS s FROM g),
       pc AS (SELECT doc_id, s, count(*) AS c FROM posts GROUP BY 1, 2)
       SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS ngrams_total,
         count(*) AS ngrams_distinct,
         CAST(max(c) AS BIGINT) AS top_ngram_count,
         CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_ngram_ratio
       FROM pc GROUP BY doc_id"""

  // --- x30: stratified top-k sample (exact per-language allocation) -------
  // Balanced-corpus construction: exactly k docs per language, membership
  // a pure function of the data (md5 rank) — reproducible on any engine,
  // unlike rand()/TABLESAMPLE. The operator's two-stage window keeps any
  // one stratum from funnelling into a single reducer at 100 TB.
  def x30StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedTopK(t(spark, dir, "documents"), Seq("lang"), "doc_id", 20)
      .select(col("doc_id"), col("lang"), col("sample_rank"))

  val x30Sql: String =
    """WITH r AS (SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
       FROM documents)
       SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
       FROM r WHERE sample_rank <= 20"""

  // --- x31: benchmark contamination (decontamination n-gram overlap) ------
  // Docs doc_id % 50 = 0 stand in for the benchmark/eval set; each corpus
  // doc reports what fraction of its distinct 6-grams leak from it. The
  // benchmark gram set broadcasts (benchmarks are MBs next to a 100 TB
  // corpus) — the corpus posting table never shuffles for the probe.
  def x31Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.benchmarkOverlap(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", shingleN = 6)
      .withColumnRenamed("id", "doc_id")
  }

  val x31Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
       sh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 5, 0) + 1), i -> array_to_string(ws[i:i+5], ' '))) AS sh FROM w),
       sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       bg AS (SELECT DISTINCT s FROM posts WHERE doc_id % 50 = 0),
       corpus AS (SELECT * FROM posts WHERE doc_id % 50 <> 0),
       sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
       hits AS (SELECT c.doc_id, count(*) AS n_contaminated
                FROM corpus c JOIN bg ON c.s = bg.s GROUP BY 1)
       SELECT s.doc_id, s.n_grams,
         COALESCE(h.n_contaminated, 0) AS n_contaminated,
         CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(s.n_grams AS DOUBLE) AS contamination_ratio
       FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id"""

  // --- x55: bloom-prefiltered decontamination ------------------------------
  // x31's exact-set broadcast assumes the benchmark fits as a hash set;
  // x55 is the shape for when it doesn't: a 16-bits/key bloom filter of
  // the benchmark 5-grams probes every corpus gram via a codegen'd
  // narrow expression (no join), and only survivors reach the exact
  // verify join — whose result is exact because FPs fail the equality.
  // Oracle: plain exact contamination (the bloom must be invisible in
  // the answer). Different slice (%25) and n (5) than x31 so the two
  // gates cannot mask each other.
  def x55BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.benchmarkOverlapBloom(
      docs.filter(col("doc_id") % 25 =!= 0),
      docs.filter(col("doc_id") % 25 === 0),
      "doc_id", "text", shingleN = 5)
      .withColumnRenamed("id", "doc_id")
  }

  val x55Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
       sh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 4, 0) + 1), i -> array_to_string(ws[i:i+4], ' '))) AS sh FROM w),
       sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       bg AS (SELECT DISTINCT s FROM posts WHERE doc_id % 25 = 0),
       corpus AS (SELECT * FROM posts WHERE doc_id % 25 <> 0),
       sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
       hits AS (SELECT c.doc_id, count(*) AS n_contaminated
                FROM corpus c JOIN bg ON c.s = bg.s GROUP BY 1)
       SELECT s.doc_id, s.n_grams, h.n_contaminated,
         CAST(h.n_contaminated AS DOUBLE) / CAST(s.n_grams AS DOUBLE) AS contamination_ratio
       FROM sizes s JOIN hits h ON s.doc_id = h.doc_id"""

  // --- x57: the incremental day, end to end -------------------------------
  // The streaming twin of x46's batch funnel, composed from the pieces the
  // surface already gates separately: the day's documents arrive as
  // Kafka-shaped wire records (x37's bus adapter), replay through a real
  // Structured Streaming query, and EVERY micro-batch runs the funnel —
  // decode → quality gate (x32/x46's rules) → exact/near-dup probe against
  // the MAINTAINED historical dedup stores (x65's DedupStores tables, not
  // an in-gate one-shot index — the r13 verdict's last one-shot leg) →
  // decontamination probe against the MAINTAINED bench-gram registry
  // (x240's mechanism, suiteB retired) — and upserts the judged rows into
  // a manifest-committed table (x45's sink, txn-fenced). Per-batch cost is
  // O(batch) + O(touched store buckets): nothing historical is recomputed
  // per batch — exactly the tables a 100 TB deployment maintains, probed
  // as-is. The oracle is the same funnel composed relationally —
  // streaming plumbing AND store plumbing must be invisible in the
  // answer.
  /** Fresh /tmp table path per (prefix, dir) invocation, reclaiming the
    * previous run's table so repeated bench passes don't accumulate.
    * Shared by the streaming-sink gates (x45, x57); each gate's FINAL
    * table remains until JVM exit — bounded at one live table per
    * (prefix, dir).
    */
  protected object FreshTables {
    private val last = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val runs = new java.util.concurrent.atomic.AtomicLong(0L)
    private val token = java.util.UUID.randomUUID().toString.take(8)
    def next(spark: SparkSession, dir: String, prefix: String): String = {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val table = graft.Scratch.path(s"${prefix}_tbl_${tag}_${token}_${runs.incrementAndGet()}")
      Option(last.put(s"$prefix|$dir", table)).foreach { prev =>
        val fs = new org.apache.hadoop.fs.Path(prev)
          .getFileSystem(spark.sessionState.newHadoopConf())
        try fs.delete(new org.apache.hadoop.fs.Path(prev), true)
        catch { case _: java.io.IOException => () }
      }
      table
    }
  }

  /** Build-once-per-JVM PROTOTYPE stores — the lifecycle commit-floor
    * diet (r11 verdict #5): several gates stage the IDENTICAL store
    * from the identical fixture (the agg view of x179/x181/x217, the
    * 3-day BM25 index of x156/x172/x216, the SCD2 store of x188/x190/
    * x217, the all-docs dedup+cluster stores of x173/x215/x217), and
    * re-running those ingest cycles per gate — and per bench PASS — is
    * pure commit-floor wall-time that measures nothing new. The first
    * caller builds (with the replay-accounting REQUIREs riding along);
    * read-only gates read the prototype, MUTATING gates [[cloneTo]] a
    * fresh copy first (one recursive file copy, orders of magnitude
    * cheaper than the ingest cycles) so gate isolation is intact: no
    * gate ever observes another's mutation.
    */
  protected object ProtoStores {
    private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val dfs = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

    def proto(dir: String, kind: String)(build: String => Unit): String =
      built.computeIfAbsent(s"$kind|$dir", { _ =>
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val path = graft.Scratch.path(s"proto_${kind}_${tag}_") +
          java.util.UUID.randomUUID().toString.take(8)
        build(path)
        path
      })

    /** Memoized MATERIALIZED frame (e.g. the all-docs minhash pair set
      * shared by the cluster-store gates) — localCheckpoint blocks stay
      * alive for the JVM, which is the point: compute once, read many.
      */
    def df(dir: String, kind: String)(make: => DataFrame): DataFrame =
      dfs.computeIfAbsent(s"$kind|$dir", _ => Dedup.materialize(make))

    /** Copy a prototype to a fresh table a mutating gate owns.
      *
      * On a local filesystem the parquet DATA files are HARDLINKED, not
      * copied — safe because every store format here treats data files
      * as immutable once committed: ManifestStore writes create NEW
      * uniquely-named part files under NEW commit dirs, merges and
      * deletes retire files by unlinking (which leaves the prototype's
      * link untouched), and nothing ever rewrites a
      * `.parquet` in place. The small MUTABLE files — the `_latest`
      * manifest hint and the `_graft_geometry.json` sidecar, both
      * overwritten in place via truncating creates — are byte-copied,
      * as is every other non-parquet file (manifests, markers, crcs).
      * This turns the per-bench-pass clone floors of the mutating
      * lifecycle gates (x217's eleven families, x242's four, the
      * compaction parents) from full data copies into metadata-speed
      * operations. Non-local filesystems fall back to a plain copy.
      */
    def cloneTo(spark: SparkSession, src: String, dst: String): Unit = {
      val conf = spark.sessionState.newHadoopConf()
      val sp = new org.apache.hadoop.fs.Path(src)
      val scheme = sp.toUri.getScheme
      if (scheme == null || scheme == "file")
        linkClone(new java.io.File(sp.toUri.getPath match {
          case null => src; case p => p
        }), new java.io.File(new org.apache.hadoop.fs.Path(dst).toUri.getPath match {
          case null => dst; case p => p
        }))
      else {
        val fs = sp.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, sp, fs, new org.apache.hadoop.fs.Path(dst), false, conf)
        ()
      }
    }

    private def linkClone(s: java.io.File, d: java.io.File): Unit =
      if (s.isDirectory) {
        d.mkdirs()
        Option(s.listFiles()).getOrElse(Array.empty[java.io.File])
          .foreach(c => linkClone(c, new java.io.File(d, c.getName)))
      } else if (s.getName.endsWith(".parquet"))
        try { java.nio.file.Files.createLink(d.toPath, s.toPath); () }
        catch { case _: Exception =>
          java.nio.file.Files.copy(s.toPath, d.toPath); ()
        }
      else { java.nio.file.Files.copy(s.toPath, d.toPath); () }
  }

  protected def benchRegistryTable(spark: SparkSession, dir: String,
      prefix: String): (String, DataFrame) = {
    val docs = Dedup.materialize(t(spark, dir, "documents"))
    val table = FreshTables.next(spark, dir, prefix)
    graft.ext.BenchRegistry.appendSuite(spark,
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", "suiteA", table)
    graft.ext.BenchRegistry.appendSuite(spark,
      docs.filter(col("doc_id") % 50 === 25), "doc_id", "text", "suiteB", table)
    // re-deliver suiteA: the (s, suite) keyed merge must REPLACE
    graft.ext.BenchRegistry.appendSuite(spark,
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", "suiteA", table)
    val stored = graft.sources.ManifestStore.read(spark, table).count()
    // per-doc grams first (shingle windows must never stitch across
    // docs), then distinct per suite — the store's (s, suite) key space
    val expected = Dedup.shingleRows(
        docs.filter(col("doc_id") % 50 === 0 || col("doc_id") % 50 === 25),
        "doc_id", "text", 6)
      .select(when(pmod(col("id"), lit(50L)) === 0L, lit("suiteA"))
        .otherwise(lit("suiteB")).as("suite"), col("s"))
      .distinct().count()
    require(stored == expected,
      s"$prefix: registry holds $stored gram rows, expected $expected — " +
        "the suiteA replay duplicated instead of replacing")
    (table, docs)
  }

  /** The bench-gram registry in its steady production state — suites A
    * and B appended, B retired — as a build-once prototype: the
    * decontamination reference the funnels (x57, x242) probe per batch.
    * The registry LIFECYCLE gates (x222/x223/x231/x240) keep building
    * their own via [[benchRegistryTable]], whose replay-accounting
    * REQUIREs are their subject.
    */
  protected def regProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "regretired") { root =>
      val docs = t(spark, dir, "documents")
      graft.ext.BenchRegistry.appendSuite(spark,
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", "suiteA", root)
      graft.ext.BenchRegistry.appendSuite(spark,
        docs.filter(col("doc_id") % 50 === 25), "doc_id", "text", "suiteB", root)
      graft.ext.BenchRegistry.retireSuite(spark, "suiteB", root)
    }

  /** The all-docs exact-recall MinHash pair set at the house geometry
    * (3-shingles, 32×2 bands, τ=0.7) — the INPUT FIXTURE of a dozen
    * gates (graph ops, cluster stores, data-card rollups), computed
    * once per JVM. x04 — the gate whose SUBJECT is the pair generator —
    * keeps computing its own.
    */
  protected def allPairs(spark: SparkSession, dir: String): DataFrame =
    ProtoStores.df(dir, "minhashpairs") {
      Dedup.minhashPairs(t(spark, dir, "documents"),
        "doc_id", "text", shingleN = 3, bands = 32, rowsPerBand = 2,
        threshold = 0.7)
    }

  /** The all-docs DedupStores pair (fp + minhash index, default house
    * geometry) as a build-once prototype under `<root>/fp` and
    * `<root>/idx` — x215/x217 clone both, then forget.
    */
  protected def dedupAllProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "dedupall") { root =>
      graft.ext.DedupStores.build(spark, t(spark, dir, "documents"),
        "doc_id", "text", s"$root/fp", s"$root/idx")
    }

  /** The plain full-corpus VectorStore (cents = vec_id % 50, 64/4/16/3)
    * as a build-once prototype — x180 probes it read-only; x150 (law
    * write), x157 and x217 (forgets) clone it first.
    */
  protected def vecStoreProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "vecstore") { root =>
      val data = t(spark, dir, "embeddings")
      graft.ext.VectorStore.build(spark, data,
        data.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", root, dim = 64, m = 4, k = 16, stride = 3)
    }

  /** The all-docs ClusterStore (components over [[allPairs]]) as a
    * build-once prototype — x173/x215/x217 clone it, then forget.
    */
  protected def clusterAllProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "clusterall") { root =>
      graft.ext.ClusterStore.build(spark, allPairs(spark, dir), root,
        partitions = 8)
    }

  /** The HISTORICAL-slice DedupStores pair (docs with doc_id % 5 ≠ 0,
    * house geometry) under `<root>/fp` + `<root>/idx` as a build-once
    * prototype — the identical store x57 probes read-only and x65/x228
    * used to rebuild per pass before mutating it (r15 bench diet: the
    * rebuilds re-ran the same shingle+index ingest the first build
    * already measured; mutating gates hardlink-clone instead).
    */
  protected def dedupHistProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "deduphist") { root =>
      val docs = t(spark, dir, "documents")
      graft.ext.DedupStores.build(spark, docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", s"$root/fp", s"$root/idx")
    }

  /** The HISTORICAL-slice VectorStore (corpus minus the x129/x137/x242
    * increment predicate, cents = vec_id % 50, 64/4/16/3) as a
    * build-once prototype: the "nightly snapshot" all three gates stage
    * before their per-pass subject (append/stream/fold). The PQ
    * codebook training inside build() is deterministic from the fixture
    * — training it three times per bench pass measured nothing new
    * (r15 bench diet); mutating gates hardlink-clone.
    */
  protected def vecHistProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "vechist") { root =>
      val emb = t(spark, dir, "embeddings")
      graft.ext.VectorStore.build(spark,
        emb.filter(!(col("vec_id") % 5 === 1 && col("vec_id") % 3 =!= 0)),
        emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", root, dim = 64, m = 4, k = 16, stride = 3)
    }

  def x57StreamingFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    import graft.streaming.{KafkaShaped, StreamUpsert}
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val docs = t(spark, dir, "documents")
    val inc = docs.filter(col("doc_id") % 5 === 0)

    // the persisted historical stores the batches probe — MAINTAINED
    // tables (DedupStores fp + LSH index over history; the retired-suite
    // gram registry), built once per JVM, read per batch
    val dedupT = dedupHistProto(spark, dir)
    val regT = regProto(spark, dir)

    // the day's arrivals as bus records, four arrival batches ALIGNED
    // with the table's partition key (pt = doc_id % 8, batch = pt % 4):
    // each micro-batch merge reads and rewrites 2 of 8 partitions, the
    // O(touched partitions) ingest shape, not the whole table
    val wire = KafkaShaped.encode(
      inc.select(col("doc_id"), col("text"), col("lang"), col("source")),
      key = col("doc_id"), topic = "docs",
      partition = pmod(col("doc_id"), lit(4)), offset = col("doc_id"),
      timestamp = to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("__ab", pmod(pmod(col("offset"), lit(8L)), lit(4L)))
    val wireCols = wire.columns.filterNot(_ == "__ab").toSeq
    val payloadSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING")

    def funnel(batch: DataFrame): DataFrame = {
      val gated = TextAnalysis.qualityGate(
          KafkaShaped.decode(batch, payloadSchema), "text", "lang")
      // dedup probe against the MAINTAINED store tables; the near-dup
      // flag applies to KEPT docs only (the funnel order: only kept docs
      // pay the signature cost — per-doc independent, so masking equals
      // probing the kept slice), the exact fp join flags every doc
      val probed = graft.ext.DedupStores.probe(spark, gated, "doc_id", "text",
          s"$dedupT/fp", s"$dedupT/idx")
        .select(col("doc_id"), col("is_exact_dup"), col("is_near_dup"))
      // decontamination AFTER the gate too: kept docs probe the
      // maintained gram registry (suiteB retired — only live suites flag)
      val ct = graft.ext.BenchRegistry.probe(spark,
          gated.filter(col("keep")), "doc_id", "text", regT)
        .filter(col("n_contaminated") > 0L)
        .select(col("id").as("doc_id")).withColumn("__ct", lit(1))
      gated
        .join(probed, Seq("doc_id"))
        .join(ct, Seq("doc_id"), "left")
        .withColumn("is_near_dup", col("keep") && col("is_near_dup"))
        .withColumn("is_contaminated", col("keep") && col("__ct").isNotNull)
        .withColumn("clean",
          col("keep") && !col("is_exact_dup") && !col("is_near_dup") &&
            !col("is_contaminated"))
        .select(col("doc_id"), col("source"), col("keep"),
          col("is_exact_dup"), col("is_near_dup"), col("is_contaminated"),
          col("clean"), pmod(col("doc_id"), lit(8L)).as("pt"))
    }

    // fresh table per run (repeated bench passes must not accumulate)
    val table = FreshTables.next(spark, dir, "funnel")
    // base snapshot = arrival batch 0 through the SAME funnel; batches
    // 1..3 then stream through replayedPipeline with txn fencing
    ManifestStore.write(spark,
      funnel(wire.filter(col("__ab") === 0L).drop("__ab")), table, "pt")
    StreamUpsert.replayedPipeline(spark,
      wire.filter(col("__ab") =!= 0L).withColumn("__ab", col("__ab") - 1L),
      wireCols, "__ab", graft.Scratch.path(s"funnel_in_$tag"), table,
      Seq("doc_id"), Seq("pt"), funnel, writerId = Some(s"x57_$tag"))
    ManifestStore.read(spark, table).select(
      col("doc_id").cast("long").as("doc_id"), col("source"),
      col("keep").cast("boolean").as("keep"),
      col("is_exact_dup").cast("boolean").as("is_exact_dup"),
      col("is_near_dup").cast("boolean").as("is_near_dup"),
      col("is_contaminated").cast("boolean").as("is_contaminated"),
      col("clean").cast("boolean").as("clean"))
  }

  val x57Sql: String =
    """WITH t0 AS (SELECT doc_id, lang, source, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       FROM documents WHERE doc_id % 5 = 0),
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
       dfp AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents WHERE doc_id % 5 = 0),
       hfp AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents WHERE doc_id % 5 <> 0),
       kw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
              FROM fl WHERE keep),
       ksh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM kw),
       kposts AS (SELECT doc_id, unnest(sh) AS s FROM ksh WHERE len(sh) > 0),
       hw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
              FROM documents WHERE doc_id % 5 <> 0),
       hsh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM hw),
       hposts AS (SELECT doc_id, unnest(sh) AS s FROM hsh WHERE len(sh) > 0),
       inter AS (SELECT a.doc_id AS inc_id, b.doc_id AS hist_id, count(*) AS i
                 FROM kposts a JOIN hposts b ON a.s = b.s GROUP BY 1, 2),
       ks AS (SELECT doc_id, len(sh) AS n FROM ksh WHERE len(sh) > 0),
       hs AS (SELECT doc_id, len(sh) AS n FROM hsh WHERE len(sh) > 0),
       nd AS (SELECT DISTINCT inc_id FROM inter
              JOIN ks ON ks.doc_id = inc_id JOIN hs ON hs.doc_id = hist_id
              WHERE CAST(i AS DOUBLE) / CAST(ks.n + hs.n - i AS DOUBLE) >= 0.7),
       cw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
              FROM documents),
       csh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 5, 0) + 1), i -> array_to_string(ws[i:i+5], ' '))) AS sh FROM cw),
       cposts AS (SELECT doc_id, unnest(sh) AS s FROM csh WHERE len(sh) > 0),
       cbg AS (SELECT DISTINCT s FROM cposts WHERE doc_id % 50 = 0),
       ck AS (SELECT DISTINCT c.doc_id FROM cposts c JOIN cbg USING (s)
              JOIN fl ON fl.doc_id = c.doc_id WHERE fl.keep)
       SELECT fl.doc_id, fl.source, fl.keep,
         (hfp.fp IS NOT NULL) AS is_exact_dup,
         (nd.inc_id IS NOT NULL) AS is_near_dup,
         (ck.doc_id IS NOT NULL) AS is_contaminated,
         (fl.keep AND hfp.fp IS NULL AND nd.inc_id IS NULL
            AND ck.doc_id IS NULL) AS clean
       FROM fl
       JOIN dfp ON fl.doc_id = dfp.doc_id
       LEFT JOIN hfp ON dfp.fp = hfp.fp
       LEFT JOIN nd ON nd.inc_id = fl.doc_id
       LEFT JOIN ck ON ck.doc_id = fl.doc_id"""

}
