package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Deduplication operators for large-scale training-data pipelines
  * (extension surface mandated by BASELINE.json; not in the reference —
  * SURVEY.md §2.12). All variants are expression-only (no UDFs) so every
  * stage stays inside whole-stage codegen, and all pair generation is
  * candidate-pruned (LSH bands / pigeonhole blocks / inverted index with
  * frequency cutoff) — never an O(n²) cross join — so the shapes hold at
  * 100 TB where n² is off the table.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup with a DETERMINISTIC keeper: first row per key group by
    * `tiebreak` order. (Spark's dropDuplicates keeps an arbitrary row —
    * unacceptable for reproducible corpora.) One shuffle on the key.
    */
  def exact(df: DataFrame, keys: Seq[String], tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-duplicate clusters: normalized key → keeper id + group size.
    * Map-side partial aggregation makes this one key-shuffle of
    * (key, id) pairs only, not of document payloads.
    */
  def exactClusters(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("dup_count"))

  // ------------------------------------------------------------- shingles

  /** Whitespace tokens, lowercased. */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct word n-gram shingles as array<string>. Docs shorter than n
    * words yield an empty array (guard needed: Spark's `sequence(1, 0)`
    * DESCENDS rather than being empty, which would feed slice() a 0 index).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = words(text)
    val count = size(w) - (n - 1)
    when(count <= 0, array().cast("array<string>")).otherwise(
      array_distinct(transform(sequence(lit(1), greatest(count, lit(1))),
        i => concat_ws(" ", slice(w, i, lit(n))))))
  }

  /** Exact Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0d, lit(0d)).otherwise(inter / union)
  }

  /** DISTINCT word n-gram shingles as ROWS `(id, s)` — the scalable twin of
    * [[wordShingles]]. Higher-order functions (transform/aggregate) are
    * CodegenFallback in Spark — interpreted, ~10ms/row on mid-size docs —
    * so the hot path builds shingles relationally instead: explode words
    * (codegen), window `lead` for the n-gram (one shuffle on id), then
    * distinct-per-doc. The groupBy reuses the window's hash partitioning
    * on id, so dedup adds NO extra shuffle; every stage is whole-stage
    * codegen. Downstream per-id aggregations (minhash, sizes, collect)
    * also reuse the same partitioning.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int,
      distinct: Boolean = true): DataFrame = {
    val ws = df.select(col(idCol).as("id"), posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val byId = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withNext = (1 until n).foldLeft(ws)((d, i) =>
      d.withColumn(s"__w$i", lead(col("w"), i).over(byId)))
    val parts = col("w") +: (1 until n).map(i => col(s"__w$i"))
    val filtered = if (n > 1) withNext.filter(col(s"__w${n - 1}").isNotNull) else withNext
    val rows = filtered.select(col("id"), concat_ws(" ", parts: _*).as("s"))
    if (distinct) rows.distinct() else rows
  }

  /** Per-document NOVELTY against a historical corpus: the fraction of a
    * doc's distinct `shingleN`-gram shingles never seen in history —
    * the memorization-risk / freshness diagnostic a curation pipeline
    * scores arrivals with (a near-zero-novelty doc is recombined known
    * text even when no single historical doc crosses a pairwise
    * near-dup threshold). One posting-table left join against the
    * DISTINCT historical shingle set (the x05 inverted-index shape,
    * O(postings), never doc × doc) + one per-doc aggregation reusing
    * the join's shuffle output. Docs with no shingles (< n tokens) emit
    * no row, matching the pair operators' convention. Output:
    * (idCol, n_shingles, n_seen, novelty 6 dp).
    */
  def noveltyScore(
      inc: DataFrame,
      hist: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    val histSet = shingleRows(hist, idCol, textCol, shingleN)
      .select(col("s")).distinct().withColumn("__seen", lit(1L))
    noveltyAgainst(shingleRows(inc, idCol, textCol, shingleN), histSet, idCol)
  }

  /** Shared tail of [[noveltyScore]] and the store-backed variant in
    * [[DedupStores.noveltyAgainstStore]]: `histSet` is (s, __seen=1),
    * distinct.
    */
  private[ext] def noveltyAgainst(
      incSh: DataFrame, histSet: DataFrame, idCol: String): DataFrame =
    incSh.join(histSet, Seq("s"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_seen"),
        round(lit(1.0d) - col("n_seen").cast("double") /
          col("n_shingles").cast("double"), 6).as("novelty"))

  // ------------------------------------------------------------- MinHash

  /** MinHash signature: k minimums of seeded hashes, where seed variant i
    * is xxhash64(xxhash64(shingle), i) — the string is hashed ONCE and the
    * k variants derive from the 8-byte value. MUST stay the same scheme as
    * [[minhashPairs]]: signatures precomputed at ingest with this
    * helper have to bucket-match pairs produced by the relational
    * pipeline.
    */
  def minhashSignature(shingles: Column, k: Int): Column = {
    val hashed = transform(shingles, s => xxhash64(s))
    transform(sequence(lit(1), lit(k)),
      h => array_min(transform(hashed, s => xxhash64(s, h))))
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * Pipeline: [[shingleRows]] → k=bands×rowsPerBand min-aggregated seeded
    * hashes per doc (ONE groupBy(id) with k `min` columns — whole-stage
    * codegen with map-side partial aggregation, reusing the shingle stage's
    * id-partitioning so no extra shuffle) → band keys from the k mins →
    * band-bucket self-join (the ONLY shuffle that touches pairs, and only
    * same-bucket pairs) → distinct candidates → exact-Jaccard verify.
    *
    * Scale notes: bucket join keys are (band index, 64-bit band hash), so
    * candidate volume ≈ true-duplicate volume; rowsPerBand=2, bands=32
    * gives P(candidate | jaccard=s) = 1-(1-s²)³² — ≥ 1-4e-10 at s ≥ 0.7,
    * so recall at any verify threshold ≥ 0.7 is effectively exact.
    * Shingle arrays are only materialized (collect_list) for the verify
    * join against the (few) candidate pairs.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val k = bands * rowsPerBand
    // Hash the shingle STRING once to a long, then derive the k seeded
    // variants by hashing (long, seed) pairs — an 8-byte hash each, vs
    // re-traversing the string k times. Aggregate expressions get no
    // common-subexpression elimination, so hashing the string inside each
    // min() would cost k string hashes per posting row (observed ~4× total
    // query slowdown at sf0.1). Blocking quality is unchanged: xxhash64 of
    // a well-mixed 64-bit value composes into independent-enough minhashes.
    val hashed = shingleRows(df, idCol, textCol, shingleN)
      .select(col("id"), col("s"), xxhash64(col("s")).as("__h0"))
    // ONE aggregation computes the signature mins AND the verify shingle
    // array, so the explode+window shingle stage runs exactly once and the
    // materialized table is the smallest possible: one row per doc. This
    // table feeds three consumers (both bucket self-join sides + the verify
    // joins), hence the eager materialization — see [[materialize]] for why
    // it is NOT Dataset.persist.
    val minCols = (0 until k).map(h => min(xxhash64(col("__h0"), lit(h + 1))).as(s"__m$h"))
    val aggCols = collect_list(col("s")).as("sh") +: minCols
    val perDoc = materialize(
      hashed.groupBy(col("id")).agg(aggCols.head, aggCols.tail: _*))
    val bandCols = (0 until bands).map(b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"__m$i")): _*))
    val buckets = perDoc.select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bkey")))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shArr = perDoc.select(col("id"), col("sh"))
    cands
      .join(shArr.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shArr.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental MinHash near-dup: the day's `inc` documents probed
    * against the `hist` corpus — cross pairs only, verified with exact
    * Jaccard. The daily-ingest twin of [[minhashPairs]] (same seeded
    * hash-of-hash scheme, same banding): at 100 TB the history side's
    * per-doc (signature, band-key) table is computed ONCE and persisted
    * as the LSH INDEX — each day only the increment computes signatures
    * and band-joins the index, O(day × bands) probe rows, never a
    * re-scan of the corpus text. The gate computes the history side
    * inline (no persisted index in a test), but the join shape is the
    * production one: band-bucket equality, candidates ≈ true near-dup
    * volume, exact-Jaccard verify on the (few) candidates.
    *
    * Recall argument is [[minhashPairs]]'s: bands=32 × rowsPerBand=2 ⇒
    * P(missed candidate | jaccard ≥ 0.7) ≤ 4e-10 — exact at oracle
    * precision.
    */
  def minhashPairsAgainst(
      inc: DataFrame,
      hist: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame =
    minhashProbe(
      minhashIndex(inc, idCol, textCol, shingleN, bands, rowsPerBand),
      minhashIndex(hist, idCol, textCol, shingleN, bands, rowsPerBand),
      bands, rowsPerBand, threshold)

  /** Per-doc MinHash/LSH index: (id, sh = distinct shingle set, __m0..__mk
    * minhash signature columns). This IS the persisted artifact of the
    * incremental near-dup story — build it ONCE over the corpus (or keep
    * it as a maintained table that each ingested day appends to) and
    * probe increments against it with [[minhashProbe]]; nothing about the
    * historical side is recomputed per increment.
    */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 2): DataFrame = {
    val k = bands * rowsPerBand
    val hashed = shingleRows(df, idCol, textCol, shingleN)
      .select(col("id"), col("s"), xxhash64(col("s")).as("__h0"))
    val minCols = (0 until k).map(h => min(xxhash64(col("__h0"), lit(h + 1))).as(s"__m$h"))
    val aggCols = collect_list(col("s")).as("sh") +: minCols
    materialize(hashed.groupBy(col("id")).agg(aggCols.head, aggCols.tail: _*))
  }

  /** Banded-bucket probe of one [[minhashIndex]] against another: cross
    * pairs (inc_id, hist_id, jaccard) with exact-verified jaccard ≥
    * threshold. O(increment × bands) bucket keys on the probe side; the
    * historical index is joined, never rebuilt.
    */
  def minhashProbe(
      incIdx: DataFrame,
      histIdx: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // geometry must match what the indexes were BUILT with: probing an
    // index whose __m* column count differs silently ignores bands (or
    // fails to resolve columns), degrading recall by orders of magnitude
    // with no error — so fail loudly on any mismatch instead
    for ((idx, name) <- Seq((incIdx, "incIdx"), (histIdx, "histIdx"))) {
      val built = idx.columns.count(_.startsWith("__m"))
      require(built == bands * rowsPerBand,
        s"minhashProbe: $name was built with $built minhashes but probe " +
          s"geometry is bands=$bands × rowsPerBand=$rowsPerBand = ${bands * rowsPerBand}")
    }
    val bandCols = (0 until bands).map(b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"__m$i")): _*))
    def buckets(p: DataFrame) =
      p.select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bkey")))
    // cross join only: inc and hist id spaces may overlap — identity is
    // (side, id), so no a.id < b.id dedup trick; distinct() collapses
    // multi-band hits
    val cands = buckets(incIdx).as("a").join(buckets(histIdx).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.id").as("inc_id"), col("b.id").as("hist_id"))
      .distinct()
    cands
      .join(incIdx.select(col("id").as("inc_id"), col("sh").as("sh_a")), "inc_id")
      .join(histIdx.select(col("id").as("hist_id"), col("sh").as("sh_b")), "hist_id")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("inc_id"), col("hist_id"), col("jaccard"))
  }

  /** Eager mid-pipeline materialization for tables with multiple downstream
    * consumers. Deliberately NOT `Dataset.persist`: persist registers the
    * plan in CacheManager, which holds a strong reference until explicit
    * unpersist or session end — an operator cannot unpersist (its caller
    * owns the action), so a long-lived session calling these operators
    * repeatedly (a 73-query bench JVM, a scheduler loop) would pin every
    * call's table in memory+disk for the session lifetime. localCheckpoint
    * blocks instead are reclaimed by the ContextCleaner as soon as the
    * returned plan is garbage-collected — no caller obligation.
    *
    * The RELIABLE checkpoint branch (executor loss replays from storage —
    * the right call on a 1000-executor run) is taken only when a
    * checkpoint dir is set AND `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true`: without that flag (its DEFAULT is false)
    * the ContextCleaner never deletes reliable checkpoint files, so every
    * operator call would leave a full posting-table copy on HDFS for the
    * application lifetime — a worse leak than the persist one this
    * method exists to avoid. Set both together on cluster deployments.
    */
  private val warnedLocalDowngrade = new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val cleans = sc.getConf.getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints",
      defaultValue = false)
    if (sc.getCheckpointDir.isDefined && cleans) df.checkpoint(true)
    else {
      // surface the downgrade once: a checkpoint dir without the cleaner
      // flag silently loses executor-loss replayability here, and the
      // scaladoc alone won't be read by an operator watching a job fail
      if (sc.getCheckpointDir.isDefined && warnedLocalDowngrade.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "graft.Dedup: checkpoint dir is set but spark.cleaner.referenceTracking" +
            ".cleanCheckpoints is false — falling back to localCheckpoint (blocks lost " +
            "with executors). Enable the flag to get reliable, auto-cleaned checkpoints.")
      df.localCheckpoint(true)
    }
  }

  // ---------------------------------------------- exact n-gram Jaccard

  /** ALL pairs with exact shingle-Jaccard ≥ threshold via an inverted
    * index: post (shingle → id), self-join postings, count co-occurrences,
    * Jaccard from |A∩B| and set sizes. `maxPostingLen` drops ubiquitous
    * shingles (standard df-cutoff) to bound the quadratic blowup of hot
    * postings; the same cutoff must be applied by any oracle.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      maxPostingLen: Long = 1000): DataFrame = {
    shingleIntersections(df, idCol, textCol, shingleN, maxPostingLen)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric n-gram containment pairs: C(A⊂B) = |A∩B| / |A| — the
    * quote/subsumption detector Jaccard misses (a paragraph fully copied
    * into a much longer document has low Jaccard but containment 1).
    * Emits (id_a, id_b, cont_a_in_b, cont_b_in_a) for canonical
    * id_a < id_b pairs where EITHER direction reaches `threshold`. Same
    * inverted-index bound as [[ngramJaccardPairs]]: only bucket-sharing
    * pairs are scored, the df-cutoff caps posting fan-out, and each
    * containment is one exact-integer division.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      maxPostingLen: Long = 1000): DataFrame =
    shingleIntersections(df, idCol, textCol, shingleN, maxPostingLen)
      .withColumn("cont_a_in_b", col("inter").cast("double") / col("n_a").cast("double"))
      .withColumn("cont_b_in_a", col("inter").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a_in_b"), col("cont_b_in_a"))

  /** Shared inverted-index core of the exact shingle-overlap family:
    * (id_a, id_b, inter, n_a, n_b) for id_a < id_b pairs sharing ≥ 1
    * distinct shingle (after the df-cutoff).
    */
  private def shingleIntersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      maxPostingLen: Long): DataFrame = {
    // The posting table feeds THREE consumers — `sizes` plus both sides of
    // the self-join below — and Spark's exchange reuse does not dedupe the
    // recomputation across a self-join of an unmaterialized subplan, so
    // without materialization the explode+window shingle stage executes
    // three times (observed 4.9s → 7.6s at sf0.1). Materialized eagerly —
    // see [[materialize]] for why this is checkpoint-based, not persist.
    val posts = materialize(shingleRows(df, idCol, textCol, shingleN))
    val sizes = posts.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // `kept` also feeds both self-join sides, but is NOT materialized:
    // both sides start from the materialized posts blocks (a cheap RDD
    // scan), so the worst duplicated work is the df-cutoff window pass —
    // at corpus scale the sides are canonical-identical shuffle stages and
    // exchange reuse runs the shuffle-on-s once; at small scale AQE
    // broadcasts one side instead (observed in the executed plan). A
    // second materialization would write the entire posting table to
    // executor storage AGAIN, which costs more than the window pass it
    // saves.
    val kept = posts.withColumn("__df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("__df") <= maxPostingLen).drop("__df")
    val inter = kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word tokens: bit b of the fingerprint is the sign
    * of Σ_tokens (±1 by bit b of xxhash64(token)). Expression-only.
    */
  def simhash64(text: Column): Column = {
    // hash each token once; bit b of the fingerprint = sign of the vote sum
    val hashes = transform(words(text), t => xxhash64(t))
    val bits: Seq[Column] = (0 until 64).map { b =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)
      ) > 0, lit(1L)).otherwise(lit(0L))
    }
    // assemble MSB-first into one long (bit 63 folded in last; signed
    // wraparound is fine for a hash value)
    bits.foldLeft(lit(0L))((acc, bit) => shiftleft(acc, 1).bitwiseOR(bit))
  }

  /** Relational SimHash: same fingerprint as [[simhash64]] but computed
    * via explode + 64 codegen'd vote-sum aggregates (one shuffle on id,
    * map-side partial aggregation) instead of 64 interpreted per-row
    * `aggregate()` passes. Returns (id, fp).
    *
    * Two token-hash backends:
    *  - xxhash64 (default): fastest, Spark-only — use in production.
    *  - portable (md5 nibbles): bit b is bit (b%4) of hex digit b/4 of
    *    md5(token) — computable identically in any engine with md5
    *    (DuckDB, Trino, …), which makes simhash results cross-engine
    *    verifiable at the cost of a crypto hash per token.
    *
    * Perf note: the token hash is materialized ONCE per token in a
    * projection BEFORE the aggregate. Aggregate expressions get no
    * common-subexpression elimination, so referencing md5/xxhash64 of the
    * token string inside each of the 64 vote sums would hash every token
    * 64× (observed ~15× slowdown at sf0.1).
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(words(col(textCol))).as("w"))
    val v =
      if (portable) {
        // one md5 per token, parsed as two 32-bit halves (2 convs, not 16):
        // hex char j of a half contributes digit << 4*(7-j), so bit b =
        // (half >> (4*(7 - (b%32)/4) + b%4)) & 1 — same numbering as the
        // per-digit oracle definition.
        val hx = md5(col("w"))
        val halves = toks.select(col("id"),
          conv(substring(hx, 1, 8), 16, 10).cast("long").as("__ha"),
          conv(substring(hx, 9, 8), 16, 10).cast("long").as("__hb"))
        val votes = (0 until 64).map { b =>
          val half = if (b < 32) col("__ha") else col("__hb")
          val shift = 4 * (7 - (b % 32) / 4) + b % 4
          sum(when(shiftright(half, shift).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L)).as(s"__v$b")
        }
        halves.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      } else {
        // one string hash per token; vote bits are long shifts of it
        val hashed = toks.select(col("id"), xxhash64(col("w")).as("__h"))
        val votes = (0 until 64).map(b =>
          sum(when(shiftright(col("__h"), b).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L)).as(s"__v$b"))
        hashed.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      }
    val bits = (0 until 64).map(b => when(col(s"__v$b") > 0, lit(1L)).otherwise(lit(0L)))
    val fp = bits.foldLeft(lit(0L))((acc, bit) => shiftleft(acc, 1).bitwiseOR(bit))
    v.select(col("id"), fp.as("fp"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist (default 3).
    * Blocking: split the 64-bit fingerprint into maxDist+1 chunks — by
    * pigeonhole, any pair within maxDist matches on ≥1 whole chunk, so
    * recall is EXACT while the join key (chunk index, chunk value) prunes
    * candidates to near-duplicate volume.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
      portable: Boolean = false): DataFrame =
    hammingPairs64(simhashDf(df, idCol, textCol, portable), maxDist)

  /** Pigeonhole-blocked Hamming pairs over ANY precomputed 64-bit hash
    * frame `(id, fp)` — the blocking engine behind [[simhashPairs]],
    * exposed so other 64-bit fingerprints (the perceptual dHash in
    * [[Multimodal.dHash64]], an audio chroma hash) reuse it instead of
    * reinventing the blocks. EXACT recall: the 64 bits split into
    * `maxDist + 1` chunks, and any pair within `maxDist` differing bits
    * must agree on ≥ 1 whole chunk (pigeonhole), so the chunk-key
    * equi-join proposes a candidate superset and the exact popcount
    * verifies. 64 must divide evenly into the chunks — a lossy split
    * would silently drop recall, so it fails loudly instead.
    *
    * 100 TB shape: the join is an equi-join on (chunk, ckey) — ordinary
    * hash shuffle, no cross join anywhere; candidates per bucket scale
    * with genuine collisions, and the exact verify is a codegen'd
    * popcount on the already-joined rows.
    */
  def hammingPairs64(hashed: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    require(64 % chunks == 0,
      s"hammingPairs64: maxDist=$maxDist needs ${chunks} chunks, which do not " +
        "divide 64 bits evenly — the leftover bits would silently lose recall " +
        "(use maxDist in {0, 1, 3, 7, 15, 31, 63})")
    val bitsPer = 64 / chunks
    // maxDist=0 → one 64-bit chunk, where (1L << 64) - 1 is 0 under
    // Java's mod-64 shift — mask with all-ones so the exact-match band
    // key is the full fingerprint, not a constant
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val blocked = hashed.select(col("id"), col("fp"), posexplode(
      array((0 until chunks).map(i =>
        shiftrightunsigned(col("fp"), i * bitsPer)
          .bitwiseAND(lit(mask))): _*)).as(Seq("chunk", "ckey")))
    blocked.as("a").join(blocked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------------- duplicate clusters

  /** Connected components over an undirected pair list — the step that
    * turns pairwise near-dup output ([[minhashPairs]] / [[simhashPairs]] /
    * [[embeddingPairs]]) into duplicate CLUSTERS: each node's cluster id is
    * the MIN id reachable from it (deterministic, iteration-independent).
    * Returns (id, label) for every id appearing in ≥1 pair; isolated docs
    * are their own trivial cluster and need no row.
    *
    * Algorithm: partition-local union-find with a narrow coalesce funnel.
    * Each partition contracts its edges with a path-compressed, min-rooted
    * union-find and emits one star edge (node → partition-local root) per
    * node — contraction preserves connectivity, so replacing a partition's
    * edge set by its local star is exact, never a heuristic. Partitions
    * then funnel together `fanIn` at a time via coalesce (narrow — NO
    * shuffle) and contract again, until one partition computes the global
    * labels. The whole operator is ONE Spark job with zero driver-side
    * iteration: an r2-bench profile of the previous per-round loop
    * (propagate + pointer-jump, 2 actions × ~10 rounds) showed fixed
    * per-round scheduling cost dominating at every SF — 58.8s of a 109s
    * 72-query bench — and that constant does not amortize at 100×. The
    * funnel has no rounds to pay for: depth is log_fanIn(partitions),
    * traversed lazily inside the single job (sf0.1: 58.8s → ~4s, the
    * upstream pair-generation time).
    *
    * Scale ceiling, stated honestly: round i's partition must hold the
    * union-find map of its incoming star edges, and the LAST partition
    * holds one entry per node that appears in ≥1 pair (duplicate-graph
    * nodes only — NOT the corpus). At ~48 bytes/boxed entry, 10⁸ dup-pair
    * nodes ≈ 5 GB — inside a normal executor; beyond that, raise `fanIn`
    * stages or pre-contract with [[duplicateClustersPropagate]], the
    * shuffle-based variant with no single-partition stage. Recovery story:
    * plain lineage (narrow stages re-run from the shuffle files of the
    * upstream pair join) — no checkpoint needed, unlike the iterative
    * variant.
    */
  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      fanIn: Int = 32): DataFrame = {
    require(fanIn >= 2, s"duplicateClusters: fanIn must be >= 2, got $fanIn")
    val spark = pairs.sparkSession
    val dt = pairs.schema(idA).dataType
    val schema = StructType(Seq(StructField("id", dt), StructField("label", dt)))
    // External row values of every practical id type (Long/Int/String/
    // Decimal/Date/…) implement Comparable — min-label ordering comes from
    // there, so the operator stays generic over the id column's type.
    var cur: RDD[(Any, Any)] = pairs.select(col(idA), col(idB)).rdd
      .map(r => (r.get(0), r.get(1)))
    var parts = cur.getNumPartitions
    if (parts == 0) return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    while (parts > 1) {
      cur = cur.mapPartitions(contractPartition).coalesce(math.max(1, parts / fanIn))
      parts = math.max(1, parts / fanIn)
    }
    val labels = cur.mapPartitions(contractPartition)
    spark.createDataFrame(labels.map { case (n, r) => Row(n, r) }, schema)
  }

  /** One union-find contraction over a partition's edge list: emits
    * (node, local min-root) for every node seen, self-loop for roots so
    * singleton components survive the funnel. Path compression + union-by-
    * min keep it near-linear; null ids (which no equality pair generator
    * emits) are dropped rather than poisoning compareTo.
    */
  private def contractPartition(it: Iterator[(Any, Any)]): Iterator[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      val p = parent.get(x)
      if (p == null) { parent.put(x, x); x }
      else {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
    }
    def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    it.foreach { case (a, b) =>
      if (a != null && b != null) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
      }
    }
    // value-replacing puts during find() are non-structural — safe to
    // interleave with keySet iteration per the java.util.HashMap contract
    import scala.jdk.CollectionConverters._
    parent.keySet().iterator().asScala.map(n => (n, find(n)))
  }

  /** Shuffle-based min-label propagation + pointer jumping — the variant of
    * [[duplicateClusters]] with NO single-partition stage, for adversarial
    * graphs whose dup-node set outgrows one executor (the funnel's ceiling).
    * Same output contract. Per round: one job materializes
    * least(label, min over neighbors, label-of-label) — the pointer jump
    * reads the PREVIOUS round's materialized table, so the neighbor-min
    * join executes once per round, not twice as a self-join would — then a
    * cheap scan of the materialized result checks the fixpoint. Converges
    * in O(log diameter) rounds (alternating propagate + jump, Kiveris et
    * al., "Connected Components in MapReduce", SoCC'14). With a Spark
    * checkpoint dir set, rounds checkpoint reliably (executor loss replays
    * from storage, the right call on a 1000-executor run); otherwise
    * localCheckpoint truncates lineage in executor memory (local mode).
    */
  def duplicateClustersPropagate(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val edges0 = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // Size round-partitioning to the graph, not the session default: an
    // iterative loop pays per-round scheduling on every partition, so tiny
    // pair graphs run single-partition while 100 TB graphs spread on dst.
    val nEdges = edges0.cache().count()
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, (nEdges / 50000L).toInt))
    val edges = edges0.repartition(parts, col("dst")).cache()
    edges.count(); edges0.unpersist()
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // try/finally: the non-convergence require below must not leak the
    // edges cache (these two caches are the method's own, unpersisted
    // before every exit — the operator-wide no-persist rule in
    // [[materialize]] is about tables handed back to callers)
    try {
    var labels = materialize(edges.select(col("src").as("id"))
      .distinct().select(col("id"), col("id").as("label")))
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // neighbor min: l1(v) = min(l(v), min_{u~v} l(u)) — diameter-paced
      val nbrMin = edges
        .join(labels.select(col("id").as("__dst"), col("label")), col("dst") === col("__dst"))
        .groupBy(col("src")).agg(min(col("label")).as("__nbr"))
      val l1 = labels
        .join(nbrMin.select(col("src").as("__id"), col("__nbr")), col("id") === col("__id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("__nbr"), col("label"))).as("label"))
      // pointer jump through the PREVIOUS round's labels (materialized, so
      // this join cannot re-execute the nbrMin stage): labels are node ids,
      // and chasing the label's own label halves the distance to the
      // component min — O(log diameter) rounds with the propagate step.
      val next = materialize(l1
        .join(labels.select(col("id").as("__lid"), col("label").as("__ll")),
          col("label") === col("__lid"), "left")
        .select(col("id"), col("__old"),
          least(col("label"), coalesce(col("__ll"), col("label"))).as("label")))
      // fixpoint probe scans only the just-materialized partitions
      done = next.filter(col("label") =!= col("__old")).isEmpty
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    require(done, s"duplicateClustersPropagate: not converged after $maxIter rounds")
    labels
    } finally edges.unpersist()
  }

  // ------------------------------------------- benchmark contamination

  /** Benchmark-contamination check — the decontamination step of a
    * training-data pipeline: for each corpus doc, the fraction of its
    * DISTINCT word n-grams that appear in any benchmark document. Docs
    * above a threshold are eval-set leaks and must be dropped before
    * training (the public n-gram-overlap recipe used by GPT-3/C4-style
    * decontamination).
    *
    * Shape at 100 TB: benchmark suites are tiny (MBs of text) next to the
    * corpus, so the benchmark gram set builds once and BROADCASTS with a
    * hit marker — the corpus posting table streams through ONE broadcast
    * left join and ONE per-doc aggregation computing total and hit counts
    * together (`count(1)` / `count(__hit)`, nulls don't count). Single
    * pass, single shuffle (id-partitioned, map-side combined), no
    * mid-pipeline materialization at all. Docs with fewer than n words
    * have no n-grams and emit no row.
    */
  def benchmarkOverlap(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int): DataFrame = {
    val posts = shingleRows(corpus, idCol, textCol, shingleN)
    val benchGrams = shingleRows(bench, idCol, textCol, shingleN)
      .select(col("s")).distinct().withColumn("__hit", lit(1))
    posts.join(broadcast(benchGrams), Seq("s"), "left")
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .select(col("id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double")
          / col("n_grams").cast("double")).as("contamination_ratio"))
  }

  /** [[benchmarkOverlap]] with a BLOOM-FILTER prefilter — the shape for
    * benchmark sets too large to broadcast as exact string sets. The
    * filter is built from the benchmark grams' 64-bit hashes (16
    * bits/key ≈ 5e-4 FP) and rides the plan to every executor as a
    * codegen'd [[org.apache.spark.sql.graftfn.BloomMightContain]]
    * probe — a NARROW filter over the corpus posting rows, no join, no
    * shuffle. Only the survivors (true hits + the few FPs) reach the
    * exact verify join, so the pair-shuffle volume tracks the true
    * contamination volume and the result is EXACT — bloom false
    * positives die in the join. This is Spark's own runtime-filter
    * pattern applied to decontamination; at 100 TB the probe prunes
    * >99.9% of corpus grams before anything wide happens.
    *
    * Returns only contaminated docs: (id, n_grams, n_contaminated,
    * contamination_ratio).
    */
  def benchmarkOverlapBloom(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      bitsPerKey: Int = 16): DataFrame =
    benchmarkOverlapBloomFromGrams(corpus,
      // materialize (NOT persist — see the materialize scaladoc: cache
      // entries outlive the operator) the distinct bench grams once: the
      // count sizing the filter, the hash scan building it, and the
      // exact verify join all reuse the same checkpointed blocks
      materialize(
        shingleRows(bench, idCol, textCol, shingleN).select(col("s")).distinct()),
      idCol, textCol, shingleN, bitsPerKey)

  /** [[benchmarkOverlapBloom]] fed a PRECOMPUTED distinct gram frame
    * `(s)` — the entry point for gram sets that already exist as data
    * (a maintained registry table, BenchRegistry.probeBloom) instead of
    * as benchmark texts to tokenize. `benchGrams` must be distinct and
    * cheap to scan twice (pass it materialized).
    */
  def benchmarkOverlapBloomFromGrams(
      corpus: DataFrame,
      benchGrams: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      bitsPerKey: Int = 16): DataFrame = {
    import org.apache.spark.sql.graftfn.{Bloom, BloomExpressions}
    // distributed build: per-partition bitsets OR-merged via treeAggregate —
    // the driver only ever holds the finished m-bit filter, never the raw
    // gram hashes
    val n = benchGrams.count()
    val bloom = Bloom.buildDistributed(
      benchGrams.select(xxhash64(col("s")).as("h")).rdd.map(_.getLong(0)), n, bitsPerKey)
    // NOT materialized, deliberately: posts feeds two consumers (sizes,
    // survivors), but both sit in ONE action's DAG, so ReuseExchange
    // dedupes the expensive window shuffle — only the cheap post-shuffle
    // stages run per consumer. (ngramJaccardPairs' materialize precedent
    // is a SELF-JOIN, where exchange reuse can't help.) Materializing
    // here would eagerly checkpoint every corpus posting row BEFORE the
    // bloom prunes >99.9% of them — backwards at corpus scale.
    val posts = shingleRows(corpus, idCol, textCol, shingleN)
    val sizes = posts.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val survivors = posts.filter(BloomExpressions.mightContain(xxhash64(col("s")), bloom))
    // exact verify join is deliberately NOT broadcast-hinted: the premise
    // is a bench set past broadcast size — the bloom already cut the
    // probe-side volume so the shuffle is small
    val hits = survivors.join(benchGrams, Seq("s"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_contaminated"))
    sizes.join(hits, Seq("id"))
      .select(col("id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double")
          / col("n_grams").cast("double")).as("contamination_ratio"))
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup pairs: cosine ≥ threshold within blocking groups.
    * `blockKey` is the scale lever — at 100 TB you block on a coarse
    * quantization / metadata key so each block is small; within-block
    * comparison is a self-join on the key.
    */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockKey: Column,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), blockKey.as("blk"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  // ------------------------------------------------------ passage dedup

  /** Corpus-level passage dedup — the tiling approximation of exact
    * substring dedup (Lee et al. 2022; the RefinedWeb/FineWeb line-dedup
    * pass generalized to fixed word tiles, since the corpus here has no
    * line structure). Each doc is cut into non-overlapping `k`-word
    * tiles; of every set of identical tiles only the corpus-order first
    * occurrence (minimal `(id, tileIdx)`) survives; survivors are
    * reassembled in tile order. Returns
    * `(id, clean_text, n_tiles, n_kept)`; docs whose text has no words
    * are dropped.
    *
    * Scale: tiling is NARROW — one `slice` per doc over its own word
    * array, no corpus-wide n-gram index and no word-level shuffle (the
    * per-doc transform/slice is interpreted, but it runs once per DOC on
    * a doc-sized array — not the per-shingle hot path shingleRows
    * exists to avoid). The wide stages are the first-occurrence window
    * (ONE shuffle keyed on tile content, volume = corpus words / k) and
    * the reassembly groupBy on id. A globally hot tile (boilerplate)
    * lands on one reducer by construction — the window is a pure
    * rank-1 filter, so state per key is O(1), not O(occurrences).
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"passageDedup: tile size must be >= 1, got $k")
    val ws = df.select(col(idCol).as("__id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0 && !(size(col("__ws")) === 1 && element_at(col("__ws"), 1) === ""))
    val tiles = ws.select(col("__id"), posexplode(expr(
      s"transform(sequence(0, cast(ceil(size(__ws) / $k.0) as int) - 1)," +
        s" i -> array_join(slice(__ws, i * $k + 1, $k), ' '))")).as(Seq("__ti", "__tile")))
    val firstWin = Window.partitionBy(col("__tile")).orderBy(col("__id"), col("__ti"))
    val ranked = tiles.withColumn("__rn", row_number().over(firstWin))
    ranked.groupBy(col("__id"))
      .agg(
        // survivors reassembled in tile order: collect_list skips the
        // nulls the `when` leaves for dropped tiles, so the sort runs
        // over the (small) per-doc survivor array only
        array_join(
          transform(
            array_sort(collect_list(when(col("__rn") === 1,
              struct(col("__ti").as("i"), col("__tile").as("s"))))),
            x => x.getField("s")),
          " ").as("clean_text"),
        count(lit(1)).as("n_tiles"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .select(col("__id").as(idCol), col("clean_text"), col("n_tiles"), col("n_kept"))
  }

  /** Sliding-window duplicate-SPAN profile — the detection side of Lee
    * et al. 2022's exact substring dedup with TRUE sliding windows
    * (every k-token window, not [[passageDedup]]'s disjoint tiles): a
    * window is duplicated when its exact token sequence occurs more
    * than once ANYWHERE in the corpus (cross-doc or self-repeat), and a
    * doc's duplicated SPAN is the union of its duplicated windows'
    * [pos, pos+k−1] token intervals. dup_frac is the fraction of the
    * doc's tokens inside that union — the per-doc signal a curation run
    * thresholds on before paying for span surgery.
    *
    * 100 TB design: windows are rows (explode + k−1 leads over one
    * id-keyed window — whole-stage codegen, no array HOFs); the
    * duplicate test is ONE map-side-combined groupBy on the window
    * fingerprint (md5 — 16 bytes shuffled per window, not the k-token
    * text); the interval union is a per-doc sweep in ONE window pass
    * (contribution = min(k, gap to previous duplicated start) — exact
    * integers, no interval materialization). Work is O(corpus tokens);
    * no stage is doc²-shaped. Docs with fewer than k tokens have no
    * window and emit no row (the pair operators' convention).
    *
    * Output: (idCol, n_tokens, n_windows, dup_windows, covered_tokens,
    * dup_frac 6 dp).
    */
  def slidingDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"slidingDupStats: window size must be >= 1, got $k")
    val ws = df.select(col(idCol).as("id"),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val byId = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withNext = (1 until k).foldLeft(ws)((d, i) =>
      d.withColumn(s"__w$i", lead(col("w"), i).over(byId)))
    val parts = col("w") +: (1 until k).map(i => col(s"__w$i"))
    val toks = ws.groupBy(col("id")).agg(count(lit(1)).as("n_tokens"))
    val wins = materialize((if (k > 1)
        withNext.filter(col(s"__w${k - 1}").isNotNull) else withNext)
      .withColumn("tpos", row_number().over(byId) - 1)
      .select(col("id"), col("tpos"), md5(concat_ws(" ", parts: _*)).as("fp")))
    val dupFp = wins.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("fp"))
    val dupWins = wins.join(dupFp, "fp")
    // interval-union sweep: duplicated window starts ascend per doc; each
    // start covers k tokens minus the overlap with the previous start
    val sweep = Window.partitionBy(col("id")).orderBy(col("tpos"))
    val covered = dupWins
      .withColumn("__gap", col("tpos") - lag(col("tpos"), 1).over(sweep))
      .withColumn("__add",
        when(col("__gap").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), col("__gap").cast("long"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("dup_windows"), sum(col("__add")).as("covered_tokens"))
    wins.groupBy(col("id")).agg(count(lit(1)).as("n_windows"))
      .join(toks, "id")
      .join(covered, Seq("id"), "left")
      .na.fill(0L, Seq("dup_windows", "covered_tokens"))
      .select(col("id").as(idCol), col("n_tokens"), col("n_windows"),
        col("dup_windows"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
  }

  /** Cross-dataset EXACT n-gram contamination matrix: for every pair of
    * `groupCol` values (datasets, crawls, train/test splits), the count
    * of distinct n-gram shingles they SHARE and the Jaccard similarity
    * of their shingle vocabularies — the all-pairs generalization of the
    * x31/x55 one-benchmark decontamination check (GPT-3-style exact
    * overlap auditing, Brown et al. 2020 App. C), on exact shingles
    * where x60's matrix rides near-dup PAIRS.
    *
    * 100 TB design: ONE distinct pass to the (group, shingle-md5) set
    * (16-byte fingerprints shuffle, not n-gram text), then a self-join
    * keyed on the fingerprint — per shingle the join emits
    * C(groups-with-it, 2) rows, so total volume is Σ_s g_s² ≤ distinct
    * shingles × (#groups)², never doc²; per-group vocabulary sizes ride
    * a second aggregation of the SAME set. `maxGroupsPerShingle` drops
    * boilerplate shingles present in more than that many groups (they
    * carry no contamination signal and dominate the pair volume when
    * #groups is large); the default keeps everything. With a cutoff,
    * BOTH shared counts and vocabulary sizes come from the post-cut
    * set, so the jaccard is the Jaccard of the cut vocabularies — a
    * self-consistent measure, not a mixed one.
    *
    * Output: (group_a, group_b, shared, n_a, n_b, jaccard 6 dp) for
    * pairs with shared ≥ 1, group_a < group_b.
    */
  def groupShingleOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      n: Int,
      maxGroupsPerShingle: Int = Int.MaxValue): DataFrame = {
    // shingle on a composite (doc, group) id — the lead window must stay
    // INSIDE each document (an id of just the group would stitch
    // shingles across concatenated docs), the group rides along for the
    // projection after
    val tagged = df.select(
      struct(col(idCol).as("i"), col(groupCol).as("g")).as("__gid"),
      col(textCol))
    val gsh = materialize(
      shingleRows(tagged, "__gid", textCol, n)
        .select(col("id.g").as("g"), md5(col("s")).as("fp"))
        .distinct())
    val byFp =
      if (maxGroupsPerShingle == Int.MaxValue) gsh
      else {
        val keep = gsh.groupBy(col("fp")).agg(count(lit(1)).as("__gc"))
          .filter(col("__gc") <= maxGroupsPerShingle).select(col("fp"))
        gsh.join(keep, "fp")
      }
    // sizes come from the CUT set, so with a cutoff the jaccard is the
    // Jaccard of the post-cut vocabularies — a self-consistent measure
    // (shared from the cut set over raw sizes would be the jaccard of
    // nothing in particular)
    val sizes = byFp.groupBy(col("g")).agg(count(lit(1)).as("nsh"))
    val shared = byFp.select(col("fp"), col("g").as("ga"))
      .join(byFp.select(col("fp"), col("g").as("gb")), Seq("fp"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(sizes.select(col("g").as("ga"), col("nsh").as("n_a"))), Seq("ga"))
      .join(broadcast(sizes.select(col("g").as("gb"), col("nsh").as("n_b"))), Seq("gb"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"), 6)
          .as("jaccard"))
  }
}
