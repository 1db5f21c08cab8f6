package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.StoreSidecar

/** Per-partition min/max zone maps over a NON-partition column — the
  * Delta/Iceberg data-skipping statistic for [[ManifestStore]] tables:
  * a range predicate on the mapped column prunes every partition whose
  * measured [lo, hi] cannot overlap it, BEFORE any file is opened. The
  * payoff of a clustered layout ([[graft.ext.ZOrder]], ingest-time
  * ordering) made queryable: partition pruning skips on the partition
  * KEY for free; zone maps extend that to any long-typed column whose
  * values happen to cluster per partition.
  *
  * The maps are a DERIVED index, version-stamped to the snapshot they
  * measured ([[ManifestStore.currentVersion]]): one (partition values,
  * lo, hi) row per live partition in a `_zones/<col>` side table, plus
  * the stamped version in its sidecar. [[readWhere]] consults them
  * ONLY when the stamp matches the current snapshot — a stale map
  * (the table committed since the refresh) silently degrades to the
  * unskipped scan (correctness-first; `requireFresh = true` makes
  * staleness loud for ops gates instead). A partition with no zone row
  * or a NULL range (all-null column) is conservatively scanned.
  *
  * 100 TB shape: refresh is ONE column-pruned scan aggregating to
  * O(partitions) rows (re-run after ingest, like the nprobe law);
  * readWhere's qualifying set is O(partitions) driver-side routing
  * metadata, the skip itself is Catalyst partition pruning on the
  * balanced OR-of-AND partition-value predicate (the ManifestStore
  * merge convention — depth log(partitions)), and the residual range
  * filter rides the pruned scan. Results NEVER depend on the maps —
  * they only decide which partitions can be proven empty of matches.
  */
object ZoneMaps {

  private def zonesT(table: String, col: String): String =
    new org.apache.hadoop.fs.Path(table, s"_zones/$col").toString

  /** (Re)measure the zone maps of `valCol` (long-castable) for the
    * CURRENT snapshot: one column-pruned scan, O(partitions) output
    * rows, version-stamped. Re-run after appends — [[readWhere]]
    * degrades gracefully until then.
    */
  def refresh(spark: SparkSession, table: String, valCol: String): Unit = {
    val pcols = ManifestStore.partitionColsOf(spark, table)
    requireMappable(pcols, valCol)
    val version = ManifestStore.currentVersion(spark, table)
    val stats = statsFrame(ManifestStore.read(spark, table), pcols, Seq(valCol))
      .select(pcols.map(col) :+ col(s"__lo_$valCol").as("__lo") :+
        col(s"__hi_$valCol").as("__hi"): _*)
    commitStats(spark, table, valCol, stats, version)
  }

  private[sources] def requireMappable(pcols: Seq[String], valCol: String): Unit =
    require(!pcols.contains(valCol),
      s"ZoneMaps: $valCol is a partition column — partition pruning " +
        "already skips on it; zone maps add nothing")

  /** Per-partition [lo, hi] of EVERY listed column in ONE aggregate —
    * one scan, one shuffle, however many columns
    * ([[SkippingIndexes.refreshAll]]'s zone half). Output columns
    * `__lo_<c>` / `__hi_<c>` per input column.
    */
  private[graft] def statsFrame(
      snapshot: DataFrame,
      pcols: Seq[String],
      valCols: Seq[String]): DataFrame = {
    val aggs = valCols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__lo_$c"),
      max(col(c).cast("long")).as(s"__hi_$c")))
    snapshot.groupBy(pcols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Commit one column's measured stats (`pcols + __lo + __hi`) as the
    * `_zones/<col>` side table stamped at `version` — which the caller
    * read BEFORE the snapshot (a commit racing in between then only
    * under-stamps, degrading to the safe full scan, never to false
    * negatives).
    */
  private[sources] def commitStats(
      spark: SparkSession,
      table: String,
      valCol: String,
      stats: DataFrame,
      version: Int): Unit = {
    ManifestStore.write(spark, stats.withColumn("__zpt", lit(0L)),
      zonesT(table, valCol), "__zpt")
    StoreSidecar.write(spark, zonesT(table, valCol),
      Seq("version" -> version.toLong))
  }

  /** Fold ONE ManifestStore commit's rows into the stored maps WITHOUT
    * rescanning history: zone(A ∪ B) = [min(lo_A, lo_B), max(hi_A,
    * hi_B)] per partition, so the batch's min/max widen the stored
    * rows and the stamp advances — O(index + batch), independent of
    * the table's history (the [[BloomIndex.mergeAppend]] contract,
    * same loud version-gap refusal, same replay idempotence). Sound
    * for replace-merges and deletes too: a removed value can only
    * leave the range WIDER than the truth, which adds scans, never
    * loses rows; a full [[refresh]] re-tightens. A stored NULL range
    * (historically all-null partition) merges away the moment the
    * batch brings real values — NULLs carry no range constraint.
    */
  def mergeAppend(
      spark: SparkSession,
      table: String,
      valCol: String,
      batch: DataFrame): Unit = {
    val zt = zonesT(table, valCol)
    val meta = StoreSidecar.read(spark, zt, Seq("version"))
      .getOrElse(throw new IllegalArgumentException(
        s"ZoneMaps: no maps for $table/$valCol — refresh() first"))
    val current = ManifestStore.currentVersion(spark, table)
    require(meta("version") + 1 == current.toLong,
      s"ZoneMaps: maps stamped v${meta("version")} but the snapshot is " +
        s"v$current — mergeAppend covers exactly ONE commit; refresh()")
    val pcols = ManifestStore.partitionColsOf(spark, table)
    val batchStats = batch
      .groupBy(pcols.map(col): _*)
      .agg(min(col(valCol).cast("long")).as("__lo"),
        max(col(valCol).cast("long")).as("__hi"))
    val stored = ManifestStore.read(spark, zt)
      .select(pcols.map(col) :+ col("__lo") :+ col("__hi"): _*)
    val merged = stored.unionByName(batchStats)
      .groupBy(pcols.map(col): _*)
      .agg(min(col("__lo")).as("__lo"), max(col("__hi")).as("__hi"))
      .withColumn("__zpt", lit(0L))
    ManifestStore.write(spark, merged, zt, "__zpt")
    StoreSidecar.write(spark, zt, Seq("version" -> current.toLong))
  }

  /** Total, idempotent per-ingest maintenance — the streaming door's
    * form of [[mergeAppend]], branching on an EXPLICIT version probe
    * (the [[BloomIndex.maintainAppend]] contract): stamp == snapshot →
    * no-op (replay after a completed fold); one behind → fold at
    * O(index + batch); further behind or absent (torn replay window) →
    * full [[refresh]]. Every at-least-once replay position converges.
    */
  def maintainAppend(
      spark: SparkSession,
      table: String,
      valCol: String,
      batch: DataFrame): Unit = {
    val stamped = StoreSidecar
      .read(spark, zonesT(table, valCol), Seq("version")).map(_("version"))
    val current = ManifestStore.currentVersion(spark, table).toLong
    stamped match {
      case Some(v) if v == current => ()
      case Some(v) if v + 1 == current => mergeAppend(spark, table, valCol, batch)
      case _ => refresh(spark, table, valCol)
    }
  }

  /** Rows of `table` with `valCol` in [lo, hi], scanning only the
    * partitions whose zone range overlaps when the maps are fresh —
    * the full (still filtered, still correct) scan when they are not.
    * `requireFresh = true` turns staleness into a loud error.
    */
  def readWhere(
      spark: SparkSession,
      table: String,
      valCol: String,
      lo: Long,
      hi: Long,
      requireFresh: Boolean = false): DataFrame = {
    val pred = col(valCol).cast("long").between(lo, hi)
    qualifying(spark, table, valCol, lo, hi) match {
      case None =>
        require(!requireFresh,
          s"ZoneMaps: $table/$valCol maps are absent or stale — refresh() " +
            "before a requireFresh read")
        ManifestStore.read(spark, table).filter(pred)
      case Some(quals) =>
        val base = ManifestStore.read(spark, table)
        if (quals.isEmpty) base.limit(0).filter(pred)
        else {
          val pcols = ManifestStore.partitionColsOf(spark, table)
          base.filter(ManifestStore.partitionValuesPred(pcols, quals))
            .filter(pred)
        }
    }
  }

  /** The partitions whose measured range can overlap [lo, hi] — the
    * routing half of [[readWhere]], exposed for composite planning
    * ([[SkippingIndexes]]): None when the maps are absent or stale (no
    * skipping claim can be made), Some(partition-value tuples in
    * partition-column order) when fresh. NULL ranges (all-null
    * partitions) qualify conservatively. O(partitions) driver-side
    * routing metadata.
    */
  def qualifying(
      spark: SparkSession,
      table: String,
      valCol: String,
      lo: Long,
      hi: Long): Option[Seq[Seq[Any]]] = {
    val zt = zonesT(table, valCol)
    val stamped = StoreSidecar.read(spark, zt, Seq("version"))
      .map(_("version").toInt)
    if (!stamped.contains(ManifestStore.currentVersion(spark, table)))
      return None
    val pcols = ManifestStore.partitionColsOf(spark, table)
    Some(ManifestStore.read(spark, zt)
      .filter(col("__lo").isNull || (col("__lo") <= hi && col("__hi") >= lo))
      .select(pcols.map(col): _*)
      .collect().toSeq.map(r => pcols.indices.map(r.get)))
  }
}
