package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-induction pass a training-data pipeline runs over its corpus.
  * Classic BPE, split where the scales actually split:
  *
  *  - the corpus collapses ONCE to the weighted vocabulary (distinct word
  *    → count) — a distributed aggregation, and the ONLY corpus-sized
  *    work; every merge round is corpus-size-INDEPENDENT, touching only
  *    the vocab table;
  *  - merge rounds are inherently sequential (round r's counts depend on
  *    merge r−1), so when the collapsed vocab fits the driver budget
  *    ([[LocalVocabMaxChars]] — the common case by Heaps' law) the loop
  *    runs LOCALLY: a real tokenizer is 30k-50k merges, and per-round
  *    Spark job scheduling (~0.3 s fixed) would turn seconds of work on
  *    a driver-resident table into hours of pure overhead;
  *  - vocabularies past the budget fall back to the distributed loop:
  *    one pair-count aggregation per round (weighted by word count,
  *    map-side combined), an argmax planned as
  *    TakeOrderedAndProject(limit=1) — never a full sort — and a narrow
  *    per-word re-encode, checkpointed via Dedup.materialize (standing
  *    invariant: iterative DataFrame chains re-analyze exponentially
  *    otherwise). Both paths are symbol-for-symbol identical
  *    (spec-pinned in CurriculumBpeSpec).
  *
  * Merge application uses non-regex `replace` on the space-joined symbol
  * encoding — left-to-right, non-overlapping, scan resuming AFTER each
  * replacement. On runs of a repeated symbol this consumes the separating
  * space, so e.g. `l l l l l` under merge (l,l) becomes `ll l ll`, not
  * greedy-BPE's `ll ll l`; the deviation only affects ≥3-runs of one
  * symbol and is identical in any engine with standard replace semantics
  * (JVM UTF8String.replace ≡ DuckDB replace — verified).
  */
object Bpe {

  /** Learn `rounds` merges over the corpus; returns (merge_rank,
    * left_sym, right_sym, pair_count) — one row per learned merge, fewer
    * if the vocabulary runs out of adjacent pairs. Ties on pair count
    * break on (left, right) ascending.
    */
  def learnMerges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    run(docs, idCol, textCol, rounds)._1
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** The weighted vocabulary ENCODED by the learned merges: (w, cnt,
    * seq) with `seq` the space-joined symbol sequence after `rounds`
    * merge applications — the tokenizer-side view of the same training
    * run (symbol statistics over it are the induced vocabulary's).
    */
  def encodeVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): DataFrame =
    run(docs, idCol, textCol, rounds)._2

  /** Driver budget for the vocab-local merge loop: collect the weighted
    * vocabulary when its total character volume fits comfortably in
    * driver memory (64 MiB of symbol text ≈ a few hundred MB of JVM
    * strings with per-round churn — far under any sane driver heap).
    * Real-corpus vocabularies are Heaps'-law-bounded (a 100 TB English
    * corpus has tens of millions of distinct words, ~hundreds of MB) —
    * most production runs take the local path; the distributed loop
    * remains the fallback for vocabularies that genuinely don't fit.
    */
  private[graft] val LocalVocabMaxChars = 64L << 20

  /** Day-over-day MAINTAINED VOCABULARY STORE — the trainer's corpus
    * pass ([[collapse]]) as a persisted table a daily feed folds into:
    * day-keyed (w, cnt) rows, replay-replacing, counts mergeable by
    * plain SUM — so [[learnMergesFromStore]] trains a tokenizer from
    * O(distinct words × days) state with NO corpus rescan (the corpus
    * pass that dominates training cost happens once per day, when the
    * day arrives). Completes the batch/store/stream matrix for BPE.
    * Daily cost: one O(day) token pass + O(day vocabulary) commit I/O.
    */
  def vocabAppendDay(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      day: String,
      table: String,
      byCols: Seq[String] = Nil): Unit = {
    // refused before the emptiness probe, so an epoch-tagged empty day
    // still fails
    graft.sources.ManifestStore.requireDayTag("vocabAppendDay", day)
    // an empty day contributes nothing — don't poison the table with a
    // no-partition commit (a stream's empty micro-batch)
    if (docs.isEmpty) return
    DayCells.append(spark, table, day, vocabCells(docs, idCol, textCol, byCols))
  }

  private def vocabCells(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      byCols: Seq[String]): (DayCells.Table, DataFrame) =
    vocabTable(byCols) -> LangModel.tokenRowsBy(docs, idCol, textCol, byCols)
      .groupBy((byCols :+ "w").map(col): _*).agg(sum(lit(1L)).as("cnt"))

  private def vocabTable(byCols: Seq[String]) = DayCells.Table("", byCols :+ "w", Seq("cnt"))

  /** EPOCH COMPACTION of a [[vocabAppendDay]] store — the metadata diet
    * for a years-of-ingest vocabulary: word counts are plain exact
    * sums, so the named days' (w, cnt) rows collapse into one
    * group-summed epoch row set and [[vocabFromStore]] (hence
    * [[learnMergesFromStore]] and every Heaps/Zipf read) is
    * BIT-IDENTICAL before and after. Grouped stores pass the same
    * `byCols` the appends used — the fold keys on them. Note for
    * [[graft.ext.TextAnalysis.heapsFit]] consumers: the growth-curve
    * fit treats each stored day as one corpus increment, so folding
    * days collapses those increments into one point — compact only
    * days older than the growth horizon you still fit over.
    */
  def vocabCompact(
      spark: SparkSession,
      table: String,
      days: Seq[String],
      epochDay: String,
      byCols: Seq[String] = Nil): Unit =
    DayCells.compact(spark, table, days, epochDay, vocabTable(byCols))

  /** Right-to-be-forgotten over the vocab store (the x205/x181
    * negative-correction pattern reaching the tokenizer family): word
    * counts are EXACT sums, so erasure is SUBTRACTION — the doomed
    * docs' counts land as ONE NEGATIVE correction day, and
    * [[vocabFromStore]]'s read-time net sum (filtered to positive)
    * then yields exactly the survivors-only vocabulary, bit-for-bit —
    * so [[learnMergesFromStore]] trains on survivors and a forgotten
    * subject's text stops contributing to BPE merges. Re-issuing under
    * the same tag REPLACES its rows; distinct requests need distinct
    * tags. The caller supplies the doomed docs' CONTENT (the erasure
    * request carries the record it erases); doomed ⊆ ingested is the
    * net-count ≥ 0 contract shared with x205. [[vocabCompact]] folds
    * correction tags WITH days, destroying the (day, correction) pair
    * that could reconstruct the forgotten counts (the x225 pattern).
    * Caveat for [[TextAnalysis.heapsFit]] consumers (x210), which read
    * the raw day rows as growth increments: a correction tag is not a
    * corpus increment — exclude `__forget_*` days from the fit window
    * (net-count readers like [[vocabFromStore]] need no such care).
    */
  def vocabForget(
      spark: SparkSession,
      doomed: DataFrame,
      idCol: String,
      textCol: String,
      tag: String,
      table: String,
      byCols: Seq[String] = Nil): Unit =
    DayCells.forget(spark, table, tag, doomed, vocabCells(doomed, idCol, textCol, byCols))

  /** The merged weighted vocabulary of a [[vocabAppendDay]] store —
    * counts SUM across days (losslessly: a word count is insensitive
    * to how history was sliced), restricted to POSITIVE net counts
    * (a no-op for forget-free stores; after [[vocabForget]] the
    * zero-net words leave the vocabulary exactly as a survivors-only
    * build would omit them), re-seeded with the character encoding.
    * Bit-identical to [[collapse]] over the union (specced). Grouped
    * stores (byCols) keep their group columns — the shape per-group
    * analyses ([[TextAnalysis.zipfFitFromCounts]]) read.
    */
  def vocabFromStore(
      spark: SparkSession,
      table: String,
      byCols: Seq[String] = Nil): DataFrame =
    Dedup.materialize(graft.sources.ManifestStore.read(spark, table)
      .groupBy((byCols :+ "w").map(col): _*).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > 0L)
      .withColumn("seq", trim(regexp_replace(col("w"), "(.)", "$1 "))))

  /** Train from the maintained vocabulary — [[learnMerges]] without the
    * corpus pass: the merge loop (local under the driver budget,
    * distributed past it) runs on the store's O(distinct words) state.
    */
  def learnMergesFromStore(
      spark: SparkSession,
      table: String,
      rounds: Int): DataFrame = {
    import spark.implicits._
    runFromSeq(spark, vocabFromStore(spark, table), rounds)._1
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  private def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(rounds >= 1, s"Bpe: rounds=$rounds must be >= 1")
    val spark = docs.sparkSession
    val seqDf0 = collapse(docs, idCol, textCol)
    runFromSeq(spark, seqDf0, rounds)
  }

  private def runFromSeq(
      spark: SparkSession,
      seqDf0: DataFrame,
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(rounds >= 1, s"Bpe: rounds=$rounds must be >= 1")
    // One distributed corpus collapse, then: the vocab table is
    // O(distinct words) — when it fits the driver budget, run the merge
    // rounds LOCALLY (identical semantics, same oracle). The alternative
    // — 2 Spark jobs + a materialization PER MERGE — costs ~0.3 s of
    // fixed scheduling per round, which at a real tokenizer's 30k-50k
    // merges is hours of pure overhead on a table that merges locally
    // in seconds. (r8 verdict finding #1.)
    val Row(nWords: Long, nChars: Long) = seqDf0
      .agg(count(lit(1)), coalesce(sum(length(col("seq"))), lit(0L)))
      .collect()(0)
    if (nChars <= LocalVocabMaxChars) {
      val rows = seqDf0.select(col("w"), col("cnt"), col("seq")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      val (merges, vocab) = runLocal(rows, rounds)
      import spark.implicits._
      (merges, spark.createDataset(vocab.toSeq).toDF("w", "cnt", "seq"))
    } else {
      runDistributed(seqDf0, rounds)
    }
  }

  /** Apply a LEARNED tokenizer to a corpus — the production pass the
    * trainer ([[learnMerges]]) exists for: per-document token counts
    * under the merge list, for unseen data as well as training data.
    *
    * Semantics: each merge applies as ONE left-to-right non-overlapping
    * space-padded `replace(" a b ", " ab ")` in rank order — byte-for-
    * byte the trainer's own application step (see [[runLocal]]'s note:
    * Java String.replace ≡ Spark UTF8String.replace ≡ DuckDB replace),
    * so tokenizing the training corpus reproduces [[encodeVocab]]'s
    * sequences symbol-for-symbol, and an oracle can replay the chain.
    *
    * Scale shape: the corpus collapses ONCE to its Heaps'-law-bounded
    * distinct-word vocabulary; the whole merge chain is a single
    * nested-expression projection over that vocabulary (no per-merge
    * pass, no shuffle — one narrow map), then one join back to the
    * (doc, word) rows and a per-doc aggregation. The merge list is a
    * driver-held model artifact (a production tokenizer's 30k–50k
    * merges are a few MB — ship in batches of a few hundred nested
    * replaces per projection if codegen depth ever complains).
    * Output: (idCol, n_words, n_tokens).
    */
  def tokenize(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "Bpe.tokenize: empty merge list")
    val words = LangModel.tokenRows(docs, idCol, textCol)
      .select(col("id"), col("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("__n"))
    val enc0 = concat(lit(" "),
      trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" "))
    val encN = merges.foldLeft(enc0) { case (e, (a, b)) =>
      replace(e, lit(s" $a $b "), lit(s" $a$b "))
    }
    val encoded = vocab.select(col("w"),
      size(split(trim(encN), " ")).cast("long").as("__toks"))
    words.join(encoded, Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("__toks")).as("n_tokens"))
      .select(col("id").as(idCol), col("n_words"), col("n_tokens"))
  }

  /** The one corpus-sized pass: distinct word -> (count, space-joined
    * character encoding), materialized (both later paths iterate it). */
  private[graft] def collapse(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    Dedup.materialize(LangModel.tokenRows(docs, idCol, textCol)
      .groupBy(col("w")).agg(sum(lit(1L)).as("cnt"))
      .withColumn("seq", trim(regexp_replace(col("w"), "(.)", "$1 "))))

  /** The vocab-local merge loop: byte-for-byte the distributed loop's
    * semantics — all-adjacent-positions pair counting weighted by word
    * count (overlapping occurrences of a repeated symbol each count, as
    * posexplode+lead does), argmax tie-broken on (pc DESC, left ASC,
    * right ASC), and merge application via Java `String.replace` on the
    * space-padded encoding — the SAME left-to-right non-overlapping
    * replace (scan resuming after each replacement) that Spark's
    * UTF8String.replace and DuckDB's replace implement, so all three
    * paths agree symbol-for-symbol. Symbols are ASCII [a-z0-9]+, so
    * Scala's UTF-16 string ordering coincides with Spark's UTF-8 binary
    * ordering for the tie-break.
    */
  private[graft] def runLocal(
      vocab0: Array[(String, Long, String)],
      rounds: Int): (Seq[(Long, String, String, Long)], Array[(String, Long, String)]) = {
    val vocab = vocab0.clone()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // INCREMENTAL pair bookkeeping (classic BPE trainers' shape): pair
    // counts and a pair -> word-index occurrence map are built once and
    // UPDATED per merge for only the words containing the merged pair —
    // a round is O(affected words), not O(total vocab chars), which is
    // what makes 30k-50k production merges minutes, not a re-scan of
    // the 64 MiB vocab per round. Occurrence sets may go stale (a word
    // that lost the pair through an unrelated merge) — harmless false
    // positives, filtered by the contains() check when the pair wins.
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def account(i: Int, seq: String, cnt: Long, sign: Long): Unit = {
      val syms = seq.split(' ')
      var j = 0
      while (j < syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        val nv = pc.getOrElse(k, 0L) + sign * cnt
        if (nv == 0L) pc.remove(k) else pc.update(k, nv)
        if (sign > 0)
          occ.getOrElseUpdate(k, scala.collection.mutable.Set.empty[Int]) += i
        j += 1
      }
    }
    var i = 0
    while (i < vocab.length) {
      val (_, cnt, seq) = vocab(i)
      account(i, seq, cnt, 1L)
      i += 1
    }
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      if (pc.isEmpty) exhausted = true
      else {
        val ((a, b), best) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((r.toLong, a, b, best))
        val (pat, rep) = (s" $a $b ", s" $a$b ")
        occ.remove((a, b)).foreach(_.foreach { m =>
          val (w, cnt, seq) = vocab(m)
          val padded = " " + seq + " "
          if (padded.contains(pat)) { // stale occurrences filter here
            account(m, seq, cnt, -1L)
            val next = padded.replace(pat, rep).trim
            vocab(m) = (w, cnt, next)
            account(m, next, cnt, 1L)
          }
        })
      }
      r += 1
    }
    (merges.toSeq, vocab)
  }

  /** Fallback for vocabularies past the driver budget: one pair-count
    * aggregation (argmax planned as TakeOrderedAndProject(limit=1)) and
    * one narrow re-encode per round, checkpointed via Dedup.materialize
    * (standing invariant: iterative chains re-analyze otherwise).
    */
  private[graft] def runDistributed(
      seqDf0: DataFrame,
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    var seqDf = seqDf0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val toks = seqDf.select(col("w"), col("cnt"),
        posexplode(split(col("seq"), " ")).as(Seq("pos", "s")))
      val byW = Window.partitionBy(col("w")).orderBy(col("pos"))
      val top = toks.withColumn("s2", lead(col("s"), 1).over(byW))
        .filter(col("s2").isNotNull)
        .groupBy(col("s"), col("s2")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("s"), col("s2")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Row(a: String, b: String, pc: Long) = top(0)
        // symbols are [a-z0-9]+ concatenations by construction (the
        // tokenizer strips everything else) — safe to splice into SQL
        require(a.matches("[a-z0-9]+") && b.matches("[a-z0-9]+"),
          s"Bpe: unexpected symbol '$a'/'$b'")
        merges += ((r.toLong, a, b, pc))
        seqDf = Dedup.materialize(seqDf.withColumn("seq",
            trim(expr(s"replace(concat(' ', seq, ' '), ' $a $b ', ' $a$b ')"))))
      }
      r += 1
    }
    (merges.toSeq, seqDf)
  }
}
