package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Maintained benchmark-gram REGISTRY — the lifecycle form of the
  * decontamination probe ([[Dedup.benchmarkOverlap]], x31/x55): in
  * production the benchmark registry is a living artifact (new eval
  * suites land, retracted ones must stop gating the corpus), while the
  * corpus side arrives as daily increments that must be probed WITHOUT
  * re-tokenizing the benchmark texts or rebuilding a broadcast set per
  * run (SURVEY.md §2.12; the reference's closest shape is the reprocess
  * log-state of /root/reference/cubicerpetl/cubicerpetl.py:266-302).
  *
  * ONE [[ManifestStore]] table of (s, suite) gram rows, PARTITIONED BY
  * SUITE: suites are few and human-managed, so a suite append touches
  * one partition, and retiring a suite (it was retracted, or its grams
  * were mis-extracted) is an O(1-partition) keyed delete — no other
  * suite's rows are read or rewritten. There is deliberately NO
  * streaming door: registries change by curation decisions, not by
  * event streams, and pretending otherwise would just re-gate x203's
  * machinery.
  *
  * 100 TB shape: the registry is benchmark-sized (MBs of text → a gram
  * table orders of magnitude under broadcast limits), so [[probe]]
  * keeps x31's single-pass plan — the corpus posting table streams
  * through ONE broadcast left join + ONE per-doc aggregation; the
  * registry read is a store read, never a benchmark-text re-tokenize.
  * For registries past broadcast size, [[Dedup.benchmarkOverlapBloom]]'s
  * prefilter applies unchanged (build the bloom from the store read).
  */
object BenchRegistry {

  /** Gram-length sidecar, validated on every touch: a probe tokenized
    * at a different n than the registry silently reports zero overlap
    * (6-grams never string-match 5-grams) — refuse loudly instead.
    */
  private def requireOrInitN(spark: SparkSession, table: String, shingleN: Int): Int =
    StoreSidecar.requireOrInit(spark, table,
      Seq("shingleN" -> shingleN.toLong), "BenchRegistry")("shingleN").toInt

  private def registryN(spark: SparkSession, table: String): Int =
    StoreSidecar.require(spark, table, Seq("shingleN"), "BenchRegistry")("shingleN").toInt

  /** The live gram rows, tolerating a registry whose every suite has
    * been retired: retiring the last suite drops the table's last
    * partition, and a bare read would throw "no partitions" — but an
    * EMPTY registry is a legitimate curation state that must read as
    * "zero contamination everywhere", not crash every nightly probe.
    */
  private def liveGrams(spark: SparkSession, table: String): DataFrame =
    if (ManifestStore.hasData(spark, table)) ManifestStore.read(spark, table)
    else {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("s", "suite")
    }

  /** Register (or re-deliver) a suite: tokenize ITS texts only and
    * REPLACE the suite's partition with the full recomputed gram set —
    * one atomic [[ManifestStore.replaceWhere]], other suites'
    * partitions never touched. TRUE replacement, not an upsert: a
    * re-delivery after a fixed mis-extraction drops the spurious grams
    * the first delivery registered (a keyed merge would keep them
    * inflating contamination counts forever — the suite's gram set is
    * recomputed wholly on every call, so replacement is always safe).
    */
  def appendSuite(
      spark: SparkSession,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      suite: String,
      table: String,
      shingleN: Int = 6): Unit = {
    require(suite.nonEmpty, "BenchRegistry: empty suite name")
    val n = requireOrInitN(spark, table, shingleN)
    val grams = Dedup.shingleRows(bench, idCol, textCol, n)
      .select(col("s")).distinct()
      .withColumn("suite", lit(suite))
    import spark.implicits._
    if (!ManifestStore.exists(spark, table))
      ManifestStore.write(spark, grams, table, "suite")
    else
      ManifestStore.replaceWhere(spark, table, grams,
        Seq(suite).toDF("suite"), Seq("suite"))
  }

  /** Retire a suite (retraction, extraction bug, license change): one
    * keyed delete pruned to the suite's partition — O(that partition),
    * idempotent (a no-op if the suite is absent or already retired).
    */
  def retireSuite(spark: SparkSession, suite: String, table: String): Unit = {
    registryN(spark, table) // refuse loudly on a non-registry path
    import spark.implicits._
    ManifestStore.delete(spark, table,
      Seq(suite).toDF("suite"), Seq("suite"), Seq("suite"))
  }

  /** x31's contamination probe fed from the PERSISTED registry: for
    * each corpus doc, the fraction of its distinct n-grams found in ANY
    * live suite (n from the registry's sidecar — the caller cannot
    * mismatch it). Same single-pass broadcast plan and output schema as
    * [[Dedup.benchmarkOverlap]]: (id, n_grams, n_contaminated,
    * contamination_ratio); docs with < n words emit no row.
    */
  def probe(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String): DataFrame = {
    val n = registryN(spark, table)
    val grams = liveGrams(spark, table)
      .select(col("s")).distinct().withColumn("__hit", lit(1))
    Dedup.shingleRows(corpus, idCol, textCol, n)
      .join(broadcast(grams), Seq("s"), "left")
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .select(col("id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double")
          / col("n_grams").cast("double")).as("contamination_ratio"))
  }

  /** [[probe]]'s BLOOM-PREFILTERED form — the scale path the probe doc
    * promises, now actual code: for a registry past broadcast-as-exact-
    * set size, the store read feeds
    * [[Dedup.benchmarkOverlapBloomFromGrams]] — a 16-bits/key filter
    * built distributed from the stored grams, a codegen'd narrow probe
    * over the corpus postings, and the exact verify join that kills
    * every false positive, so the answer is EXACT. Output shape is
    * [[Dedup.benchmarkOverlapBloom]]'s: only docs with ≥ 1 hit (the
    * un-contaminated majority never reaches the join), vs [[probe]]'s
    * all-docs report.
    */
  def probeBloom(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      bitsPerKey: Int = 16): DataFrame = {
    val n = registryN(spark, table)
    val grams = Dedup.materialize(
      liveGrams(spark, table).select(col("s")).distinct())
    Dedup.benchmarkOverlapBloomFromGrams(
      corpus, grams, idCol, textCol, n, bitsPerKey)
  }

  /** Per-suite attribution for flagged docs — "WHICH benchmark does
    * this doc leak?": hit counts per (doc, suite), suites with zero
    * hits for a doc emit no row. Same broadcast join, grouped one level
    * finer; the triage read a decontamination reviewer runs after
    * [[probe]] flags a batch.
    */
  def attribute(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String): DataFrame = {
    val n = registryN(spark, table)
    val grams = liveGrams(spark, table)
      .select(col("s"), col("suite")).distinct()
    Dedup.shingleRows(corpus, idCol, textCol, n)
      .join(broadcast(grams), Seq("s"))
      .groupBy(col("id"), col("suite"))
      .agg(count(lit(1)).as("n_hits"))
  }
}
