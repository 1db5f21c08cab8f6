package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension history: turn a change feed (one row
  * per attribute change) into versioned validity intervals, and resolve
  * point-in-time probes against them (Kimball SCD2 — the reference's ERP
  * world models masters this way; cf. the load-date'd dimension job rows
  * with write-date filters in the reference's etl/ CSV job definitions).
  *
  * 100 TB design:
  *  - [[build]] is ONE shuffle on the dimension key: version numbers and
  *    interval ends are a row_number + lead over (key) ordered by
  *    (ts, seq) — no self-join, no range probe;
  *  - [[probe]] reuses [[AsofJoin]]'s union+window formulation: probes
  *    and versions co-shuffle once on the key and a linear in-partition
  *    scan carries the last-opened version forward. Because versions
  *    TILE time (each valid_to is the next valid_from), "latest
  *    valid_from <= t" is exactly interval containment
  *    `valid_from <= t < valid_to` — the oracle can check the asof
  *    result with a plain BETWEEN join, while the engine never builds
  *    the quadratic candidate pairs that BETWEEN join would;
  *  - zero-width versions (two changes at one timestamp) are collapsed
  *    before probing — the BETWEEN semantics can never return them, and
  *    dropping them keeps the tiling invariant.
  */
object Scd2 {

  /** Build the SCD2 history from a change feed: one output row per
    * change, with `version` 1..n per key, `valid_from_us` = the change
    * timestamp, `valid_to_us` = the next change's timestamp (null for
    * the current version). Ties on the timestamp are totally ordered by
    * `seqCol` (a unique change id), so the build is deterministic; the
    * earlier change of a tie becomes a zero-width version.
    */
  def build(
      changes: DataFrame,
      keyCol: String,
      tsUsCol: String,
      seqCol: String,
      attrCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsUsCol), col(seqCol))
    changes.select((Seq(col(keyCol), col(tsUsCol), col(seqCol)) ++ attrCols.map(col)): _*)
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", col(tsUsCol))
      .withColumn("valid_to_us", lead(col(tsUsCol), 1).over(w))
      .drop(tsUsCol, seqCol)
  }

  /** Resolve each probe row's dimension state as of its timestamp:
    * attaches `version` and the attribute columns of the history version
    * containing `probeTsUs` (null columns when the probe precedes the
    * key's first version). `history` is [[build]]'s output.
    */
  def probe(
      history: DataFrame,
      probes: DataFrame,
      keyCol: String,
      probeTsUs: String,
      attrCols: Seq[String]): DataFrame = {
    val live = history.filter(
      col("valid_to_us").isNull || col("valid_from_us") < col("valid_to_us"))
    AsofJoin(
      probes, live, keyCol, probeTsUs, "valid_from_us",
      (Seq("version" -> "version") ++ attrCols.map(c => c -> c)).toMap)
  }
}

/** Day-over-day MAINTAINED SCD2 dimension history — [[Scd2.build]]'s
  * intervals as a persisted ManifestStore table that a daily change
  * feed folds into incrementally, joining the maintained-store family
  * (dedup x65, sketches x114/x123/x143/x148, vectors x129, clusters
  * x147, views x178).
  *
  * The incremental problem: a change re-threads its key's interval
  * chain (its predecessor's `valid_to_us` moves, every later version
  * renumbers), and LATE changes land mid-chain. So [[appendDay]]
  * rebuilds exactly the AFFECTED KEYS — the store is key-hash-bucket
  * partitioned, the day's delta routes to its touched buckets
  * (partition-pruned `readPartitions`, O(buckets) driver routing), a
  * semi-join narrows those buckets to the delta's keys, and
  * [[Scd2.build]] re-runs on (that history ∪ the delta): O(affected
  * keys' history + day), never a store scan. The rebuilt rows merge
  * back keyed on (key, change-seq) in ONE atomic commit — no crash
  * window between commits exists, and a replayed day rebuilds
  * identical rows and replaces them (idempotent; replays are assumed
  * to re-deliver the same change rows, the at-least-once convention).
  *
  * Out-of-order appends are EXACT by construction: the rebuild orders
  * by (ts, seq) regardless of arrival day, so appending days in any
  * order converges on [[Scd2.build]] over the union — the gate's
  * oracle.
  */
object Scd2Store {

  import graft.sources.ManifestStore

  /** Fold one day of change rows into the store at `table`. */
  def appendDay(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      changes: DataFrame,
      keyCol: String,
      tsUsCol: String,
      seqCol: String,
      attrCols: Seq[String],
      buckets: Int = 16): Unit = {
    require(buckets > 0, s"Scd2Store.appendDay: buckets=$buckets")
    val bucket = pmod(xxhash64(col(keyCol)), lit(buckets.toLong))
    val base = Dedup.materialize(changes.select(
      (Seq(col(keyCol), col(tsUsCol), col(seqCol)) ++ attrCols.map(col)): _*))
    val affected = base.select(col(keyCol)).distinct()
    // O(buckets) routing metadata, never data
    val touched = affected.select(bucket.as("b")).distinct()
      .collect().map(r => s"bucket=${r.getLong(0)}").toSeq
    val exists = ManifestStore.exists(spark, table)
    if (exists) validateBuckets(spark, table, buckets, "appendDay")
    val hist =
      if (exists)
        ManifestStore.readPartitions(spark, table, touched)
          .join(affected, Seq(keyCol), "left_semi")
          .select((Seq(col(keyCol), col("valid_from_us").as(tsUsCol),
            col("__seq").as(seqCol)) ++ attrCols.map(col)): _*)
      else base.limit(0)
    // a replayed day's rows already sit in hist — dedupe on the change
    // identity (identical content by the replay convention)
    val all = hist.unionByName(base).dropDuplicates(keyCol, seqCol)
    val rebuilt = Scd2.build(
      all.withColumn("__seq", col(seqCol)),
      keyCol, tsUsCol, seqCol, attrCols :+ "__seq")
      .withColumn("bucket", bucket)
    // sidecar BEFORE the creating commit: a crash between the two leaves
    // a sidecar with no table (harmless — the replay overwrites it), never
    // a table with no sidecar, which validateBuckets would otherwise have
    // to wave through and a later mismatched-buckets call could silently
    // prune the wrong partitions
    if (!exists)
      StoreSidecar.write(spark, table, Seq("buckets" -> buckets.toLong))
    ManifestStore.mergeOrCreate(spark, table, rebuilt,
      Seq(keyCol, "__seq"), "bucket")
  }

  /** Sidecar is MANDATORY once the table exists (appendDay writes it
    * before the creating commit, so absence means a foreign or corrupted
    * table) — a missing sidecar must fail loudly, not silently pass a
    * possibly-mismatched bucket count through to partition pruning.
    */
  private def validateBuckets(
      spark: org.apache.spark.sql.SparkSession,
      table: String, buckets: Int, op: String): Unit =
    StoreSidecar.requireMatching(spark, table, Seq("buckets" -> buckets.toLong), s"Scd2Store.$op")

  /** Whole-key erasure (the GDPR case): every version of every doomed
    * key leaves the store in ONE bucket-pruned keyed delete commit —
    * no crash window, idempotent (absent keys are no-ops), surviving
    * keys' chains untouched (an erased key has no interval neighbors
    * outside itself).
    */
  def forget(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      doomed: DataFrame,
      keyCol: String,
      buckets: Int = 16): Unit = {
    validateBuckets(spark, table, buckets, "forget")
    val keys = doomed.select(col(keyCol)).distinct()
      .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(buckets.toLong)))
    ManifestStore.delete(spark, table, keys, Seq(keyCol), Seq("bucket"))
  }

  /** Change-level erasure: remove individual (key, seq) change rows and
    * re-thread the surviving chain — the predecessor's `valid_to_us`
    * re-opens onto the successor and later versions renumber, exactly
    * as if the change had never arrived. Affected keys rebuild from
    * their pruned buckets (the [[appendDay]] machinery minus the doomed
    * rows); commit order is rebuild-merge THEN doomed-delete, so a
    * crash between them leaves the doomed rows present (transiently
    * duplicated version numbers on affected keys) but never loses a
    * surviving change — re-running the same forget converges from any
    * crash position, and an [[appendDay]] interleaved into the window
    * also converges (its rebuild may resurrect doomed numbering, the
    * forget replay re-drops it).
    */
  def forgetChanges(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      doomed: DataFrame,
      keyCol: String,
      seqCol: String,
      tsUsCol: String,
      attrCols: Seq[String],
      buckets: Int = 16): Unit = {
    validateBuckets(spark, table, buckets, "forgetChanges")
    val bucket = pmod(xxhash64(col(keyCol)), lit(buckets.toLong))
    val dk = Dedup.materialize(
      doomed.select(col(keyCol), col(seqCol).as("__seq")).distinct())
    val affected = dk.select(col(keyCol)).distinct()
    val touched = affected.select(bucket.as("b")).distinct()
      .collect().map(r => s"bucket=${r.getLong(0)}").toSeq
    val surviving = ManifestStore.readPartitions(spark, table, touched)
      .join(affected, Seq(keyCol), "left_semi")
      .join(dk, Seq(keyCol, "__seq"), "left_anti")
      .select((Seq(col(keyCol), col("valid_from_us").as(tsUsCol),
        col("__seq").as(seqCol)) ++ attrCols.map(col)): _*)
    val rebuilt = Scd2.build(
      surviving.withColumn("__seq", col(seqCol)),
      keyCol, tsUsCol, seqCol, attrCols :+ "__seq")
      .withColumn("bucket", bucket)
    if (!rebuilt.isEmpty)
      ManifestStore.merge(spark, table, rebuilt, Seq(keyCol, "__seq"), "bucket")
    ManifestStore.delete(spark, table, dk.withColumn("bucket", bucket),
      Seq(keyCol, "__seq"), Seq("bucket"))
  }

  /** The full history table — [[Scd2.build]]'s shape, read from the
    * store (the store's bucket/seq plumbing dropped). */
  def history(
      spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    ManifestStore.read(spark, table).drop("bucket", "__seq")

  /** Point-in-time probes against the maintained history. */
  def probeStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      probes: DataFrame,
      keyCol: String,
      probeTsUs: String,
      attrCols: Seq[String]): DataFrame =
    Scd2.probe(history(spark, table), probes, keyCol, probeTsUs, attrCols)
}
