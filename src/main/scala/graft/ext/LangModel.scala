package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical language-model scoring for corpus quality filtering
  * (SURVEY.md §2.12): the CCNet-style perplexity filter (Wenzek et al.
  * 2020 — "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data", public recipe) re-expressed relationally. Train an
  * add-one-smoothed bigram LM on a reference slice, score every document
  * by its mean bigram log-probability, filter on the score. CCNet uses a
  * KenLM 5-gram; the relational form is n-agnostic — bigrams keep the
  * model table (and the oracle) tractable while exercising the exact
  * production shape: counts are one aggregation over exploded n-grams,
  * scoring is one join of the corpus n-gram stream against the model.
  *
  * 100 TB design:
  *  - token/bigram extraction is a codegen'd explode + ONE window shuffle
  *    on the doc id (higher-order array functions are CodegenFallback —
  *    see [[Dedup.shingleRows]] for the idiom); the per-doc score groupBy
  *    reuses that same hash partitioning, so scoring adds no shuffle;
  *  - the model is O(distinct bigrams of the REFERENCE slice), orders of
  *    magnitude smaller than the corpus — broadcast here; past broadcast
  *    size the pair join degrades to a shuffle hash join on (w1, w2)
  *    while the context table (≤ vocab rows) stays broadcast;
  *  - determinism across engines: log-probs are rounded to 1e-9 and
  *    summed as LONGs (order-free exact sum); the final mean is rounded
  *    to 6 dp, which absorbs any last-ulp `ln` disagreement between the
  *    JVM and libm (a flipped 1e-9 term moves the mean by ~1e-11).
  */
object LangModel {

  /** Lowercased alnum-run tokens as ROWS (id, pos, w) — the codegen'd
    * explode twin of [[TextAnalysis.tokens]]. Positions keep gaps where
    * empty split fragments were filtered; consumers only need order.
    */
  def tokenRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenRowsBy(df, idCol, textCol, Nil)

  /** [[tokenRows]] carrying extra per-document columns — the ONE
    * definition of the token boundary (a change here reaches every
    * token- and bigram-based consumer).
    */
  def tokenRowsBy(
      df: DataFrame, idCol: String, textCol: String,
      byCols: Seq[String]): DataFrame =
    df.select(col(idCol).as("id") +: byCols.map(col) :+
        posexplode(split(lower(col(textCol)), "[^a-z0-9]+")).as(Seq("pos", "w")): _*)
      .filter(col("w") =!= "")

  /** Adjacent-token bigram ROWS (id, w1, w2), non-distinct. One window
    * shuffle on id; downstream per-doc aggregations reuse the
    * partitioning.
    */
  def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramRowsBy(df, idCol, textCol, Nil)

  /** [[bigramRows]] carrying extra per-document columns (constant per id
    * — a language tag, say) through the explode and the lead window, so
    * group-keyed models ([[knScoreBy]]) never join the corpus back to
    * itself just to recover the group.
    */
  def bigramRowsBy(
      df: DataFrame, idCol: String, textCol: String,
      byCols: Seq[String]): DataFrame = {
    val by = byCols.map(col)
    val byId = Window.partitionBy(col("id")).orderBy(col("pos"))
    tokenRowsBy(df, idCol, textCol, byCols)
      .withColumn("w2", lead(col("w"), 1).over(byId))
      .filter(col("w2").isNotNull)
      .select(col("id") +: by :+ col("w").as("w1") :+ col("w2"): _*)
  }

  /** Mean bigram log-probability of every document in `docs` under an
    * add-one-smoothed bigram LM trained on `ref`:
    *
    *   P(w2 | w1) = (c2(w1,w2) + 1) / (c1(w1) + V)
    *
    * where c2 = reference bigram count, c1 = Σ_w2 c2 (w1's count as a
    * context) and V = reference vocabulary size — so unseen contexts
    * back off to the uniform 1/V. Output: (idCol, n_bigrams, avg_lp),
    * one row per document with ≥ 2 tokens; avg_lp is the quality score
    * (higher = more reference-like; the filter is a predicate on it).
    */
  def perplexityScore(
      docs: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val lm = bigramRows(ref, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val vocab = tokenRows(ref, idCol, textCol).agg(count_distinct(col("w")).as("v"))
    scoreAgainst(docs, idCol, textCol, lm, vocab)
  }

  /** The add-one scoring pass against a prebuilt model: `lm` =
    * (w1, w2, c2) bigram counts, `vocab` = 1-row distinct-unigram
    * count. Shared by [[perplexityScore]] and [[perplexityFromStore]].
    */
  private def scoreAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lm: DataFrame,
      vocab: DataFrame): DataFrame = {
    val ctx = lm.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    // lm is deliberately un-hinted: at fixture scale Spark's size
    // estimate (helped by AQE) still picks a broadcast join, but a
    // reference slice past the broadcast threshold degrades to a shuffle
    // hash join on (w1, w2) instead of OOMing the driver — an explicit
    // broadcast() hint would be honored regardless of size. ctx and
    // vocab stay hinted: both are vocab-bounded by construction.
    val scored = bigramRows(docs, idCol, textCol)
      .join(lm, Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
    val p = (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")
    scored
      .select(col("id"), round(log(p) * lit(1e9d), 0).cast("long").as("lp9"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp9")).as("slp"))
      .select(col("id").as(idCol), col("n_bigrams"),
        round((col("slp").cast("double") / lit(1e9d)) /
          col("n_bigrams").cast("double"), 6).as("avg_lp"))
  }

  /** Day-over-day MAINTAINED BIGRAM-LM STORE — the reference model of
    * [[perplexityScore]] as a persisted table a daily "known good" feed
    * folds into: day-keyed (w1, w2, cnt) bigram counts plus a day-keyed
    * unigram table for the vocabulary size, both replay-replacing.
    * Counts SUM across days and V is a distinct count (both slicing-
    * insensitive), so [[perplexityFromStore]] scores against EXACTLY
    * the model a one-shot build over the union would produce — no
    * reference rescan at scoring time, the x202/x199 store bet on the
    * LM family. Daily cost: one O(day) bigram pass + O(day vocabulary)
    * commit I/O.
    */
  def lmAppendDay(
      spark: org.apache.spark.sql.SparkSession,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      day: String,
      table: String): Unit = {
    // refused before the emptiness probe, so an epoch-tagged empty day
    // still fails
    graft.sources.ManifestStore.requireDayTag("lmAppendDay", day)
    // an empty day contributes nothing (see the moment store's note)
    if (ref.isEmpty) return
    DayCells.append(spark, table, day, lmCells(ref, idCol, textCol): _*)
  }

  private val Bg = DayCells.Table("bg", Seq("w1", "w2"), Seq("cnt"))
  private val Uni = DayCells.Table("uni", Seq("w"), Seq("cnt"))

  private def lmCells(docs: DataFrame, idCol: String, textCol: String)
      : Seq[(DayCells.Table, DataFrame)] = Seq(
    Bg -> bigramRows(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt")),
    Uni -> tokenRows(docs, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))

  /** EPOCH COMPACTION of an [[lmAppendDay]] store — both tables fold by
    * plain exact sums: bigram counts per (w1, w2), unigram counts per
    * w. The model's one non-sum statistic — V = the DISTINCT stored
    * unigram count — survives exactly because the fold GROUPS BY `w`:
    * the set of live words is invariant under collapsing their day
    * subtotals (a word present in any folded day is present in the
    * epoch row set; no other word appears). So
    * [[perplexityFromStore]]'s scores are BIT-IDENTICAL before and
    * after, however many years of daily reference feeds have folded.
    * Each table's fold is one atomic partition replacement; a crash
    * BETWEEN the two leaves both tables individually exact (each read
    * is fold-invariant on its own), and a replay re-folds the already-
    * folded table into itself — convergent, no fence needed.
    */
  def lmCompact(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      days: Seq[String],
      epochDay: String): Unit =
    DayCells.compact(spark, table, days, epochDay, Bg, Uni)

  /** Right-to-be-forgotten over the LM store (the x205/x181 negative-
    * correction pattern reaching the LM family): bigram and unigram
    * counts are EXACT sums, so erasure is SUBTRACTION — the doomed
    * reference docs' counts land as ONE NEGATIVE correction day per
    * table, and [[perplexityFromStore]]'s read-time sums then yield
    * exactly the survivors-only model, bit-for-bit: c2/c1 because
    * counts net out, and V because the read counts a word only while
    * its NET unigram count is positive (a word seen only in doomed
    * docs nets to zero and leaves the vocabulary — see the read).
    * Re-issuing under the same tag REPLACES its rows (day-keyed
    * merge), so at-least-once delivery converges; distinct requests
    * need distinct tags. The caller supplies the doomed docs' CONTENT
    * (the erasure request carries the record it erases — the
    * MediaStore.forget contract); forgetting docs never ingested
    * breaks the net-count ≥ 0 invariant, the same contract as x205.
    * Cost: one pass over the DOOMED docs + O(their vocabulary) commit
    * I/O — never touches history. [[lmCompact]] folds correction tags
    * WITH days, destroying the (day, correction) pair that could
    * reconstruct a forgotten doc's counts (the x225 privacy pattern).
    */
  def lmForget(
      spark: org.apache.spark.sql.SparkSession,
      doomed: DataFrame,
      idCol: String,
      textCol: String,
      tag: String,
      table: String): Unit =
    // a crash after the marker costs only the slow read path on an
    // untouched store
    DayCells.forget(spark, table, tag, doomed, lmCells(doomed, idCol, textCol): _*)

  /** Score a corpus against an [[lmAppendDay]] store — c2 sums across
    * days, V is the count of unigrams with POSITIVE net stored count,
    * then the shared scoring pass. Bit-identical to
    * [[perplexityScore]] with the union-of-days reference minus any
    * [[lmForget]]-erased docs: for forget-free stores every count is
    * positive so the net filter is a no-op, and after forgets the
    * zero-net words (and zero-net bigrams, which contribute nothing to
    * c2/c1 by summing to zero) drop out exactly as a survivors-only
    * build would omit them.
    */
  def perplexityFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    import graft.sources.ManifestStore
    val lm = ManifestStore.read(spark, s"$table/bg")
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c2"))
    // V: forget-free stores (no corrections marker — the common case)
    // hold only positive counts, so the net-sum positive filter reduces
    // to DISTINCT w and the cheaper single aggregate is bit-identical;
    // the slow path runs only once a [[lmForget]] has marked the store
    val vocab =
      if (StoreSidecar.hasMarker(spark, table, "has_corrections"))
        ManifestStore.read(spark, s"$table/uni")
          .groupBy(col("w")).agg(sum(col("cnt")).as("c"))
          .filter(col("c") > 0L)
          .agg(count(lit(1)).as("v"))
      else
        ManifestStore.read(spark, s"$table/uni")
          .agg(count_distinct(col("w")).as("v"))
    scoreAgainst(docs, idCol, textCol, lm, vocab)
  }

  /** Interpolated Kneser–Ney bigram self-scoring (Chen & Goodman 1998) —
    * the stronger LM signal next to [[perplexityScore]]'s add-one model:
    * with discount d = 0.75,
    *
    *   P_KN(w2 | w1) = (c2 − d)/c1 + d·N1⁺(w1,·)/c1 · N1⁺(·,w2)/N1⁺(·,·)
    *
    * (N1⁺ = distinct-continuation counts — KN's insight that "how many
    * contexts a word completes" beats raw frequency for backoff mass.)
    * Train corpus = score corpus (self-perplexity curation), so every
    * scored bigram has c2 ≥ 1 and the max(c2−d, 0) clamp never binds —
    * no unseen branch exists.
    *
    * 100 TB design: the bigram table is materialized ONCE and feeds both
    * training counts and scoring (the x05 multi-consumer rule); the
    * model's only large table is c2 (distinct bigrams) — the score join
    * is co-keyed on (w1, w2) with c2, while c1/N1⁺ tables are
    * vocab-bounded broadcasts and N1⁺(·,·) is a 1-row cross join. The
    * probability expression's operation ORDER is pinned to match the
    * oracle exactly (doubles are deterministic under identical order);
    * per-bigram log-probs round to 1e-9 LONGs and sum order-free.
    * Output: (idCol, n_bigrams, avg_lp), docs with ≥ 2 tokens.
    */
  def knScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    knScoreBy(docs, idCol, textCol, Nil)

  /** [[knScore]] with the LM trained PER GROUP (`byCols` — typically the
    * language column): each group gets its own bigram counts,
    * continuation counts and normalizer, so a document is scored only
    * against its own group's model — the CCNet per-language setup
    * (Wenzek et al. 2020), where pooling languages into one model would
    * let the dominant language's statistics drown the rest.
    *
    * 100 TB design: identical to [[knScore]] with `byCols` prepended to
    * every model key — the one corpus-scale join (bg ⋈ c2) stays
    * co-keyed, ctx/back stay vocab-bounded broadcasts (the group column
    * adds no volume: Σ_g vocab_g rows), and np collapses from a 1-row
    * cross join to an O(groups) broadcast join. Output: (idCol, byCols…,
    * n_bigrams, avg_lp), docs with ≥ 2 tokens.
    */
  def knScoreBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      byCols: Seq[String]): DataFrame = {
    val by = byCols.map(col)
    val bg = Dedup.materialize(bigramRowsBy(docs, idCol, textCol, byCols))
    val c2 = Dedup.materialize(
      bg.groupBy(by :+ col("w1") :+ col("w2"): _*)
        .agg(count(lit(1)).as("c2")))
    val ctx = c2.groupBy(by :+ col("w1"): _*)
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val back = c2.groupBy(by :+ col("w2"): _*).agg(count(lit(1)).as("n1b"))
    val joined = bg.join(c2, byCols ++ Seq("w1", "w2"))
      .join(broadcast(ctx), byCols :+ "w1")
      .join(broadcast(back), byCols :+ "w2")
    val scored =
      if (byCols.isEmpty)
        joined.crossJoin(broadcast(c2.agg(count(lit(1)).as("np"))))
      else
        joined.join(
          broadcast(c2.groupBy(by: _*).agg(count(lit(1)).as("np"))), byCols)
    // pinned order: ((c2 − 0.75) + ((0.75·n1f)·(n1b/np))) / c1
    val p = (col("c2").cast("double") - lit(0.75d) +
      lit(0.75d) * col("n1f").cast("double") *
        (col("n1b").cast("double") / col("np").cast("double"))) /
      col("c1").cast("double")
    scored
      .select(col("id") +: by :+ round(log(p) * lit(1e9d), 0).cast("long").as("lp9"): _*)
      .groupBy(col("id") +: by: _*)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp9")).as("slp"))
      .select(col("id").as(idCol) +: by :+ col("n_bigrams") :+
        (round((col("slp").cast("double") / lit(1e9d)) /
          col("n_bigrams").cast("double"), 6).as("avg_lp")): _*)
  }
}
