package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite data-skipping planner over a [[ManifestStore]] table — the
  * Delta/Iceberg "combine all file statistics" step at partition
  * granularity: a conjunction of predicates consults every FRESH index
  * it can ([[ZoneMaps]] for ranges, [[BloomIndex]] for point lookups),
  * INTERSECTS their qualifying partition sets (a partition must survive
  * every skipping claim to be scanned), and applies the full predicate
  * as the residual filter on the pruned scan. Predicates with no fresh
  * index contribute no pruning — only their residual filter.
  *
  * This is what makes a Z-ordered layout pay off: each dimension's zone
  * maps prune moderately on their own, and the intersection prunes
  * multiplicatively (~1/sqrt(B) per dimension of a B-bucket Z-layout,
  * [[graft.ext.ZOrder]]).
  *
  * Correctness never depends on the indexes: each qualifying set
  * over-approximates its predicate's matches (no false negatives —
  * specced per index), an intersection of over-approximations
  * over-approximates the conjunction, and the residual filter is always
  * applied in full. A stale index silently contributes nothing
  * (correctness-first); `requireFresh = true` instead demands EVERY
  * predicate's index be present and fresh — the ops-gate mode where a
  * non-pruning read is a bug, not a degrade.
  *
  * 100 TB shape: each qualifying set is O(partitions) driver-side
  * routing metadata from an O(partitions)-row side-table scan; the
  * intersection is set arithmetic on that metadata; the data scan
  * prunes at planning time via the shared balanced OR-of-AND predicate.
  */
object SkippingIndexes {

  /** A skippable conjunct: ranges consult [[ZoneMaps]], equalities
    * consult [[BloomIndex]].
    */
  sealed trait Pred { def column: String }
  final case class Between(column: String, lo: Long, hi: Long) extends Pred
  final case class Eq(column: String, value: Any) extends Pred
  final case class In(column: String, values: Seq[Any]) extends Pred
  /** "The text column's token set contains EVERY term" — consults the
    * token blooms ([[BloomIndex.refreshTokens]], x174).
    */
  final case class HasTokens(column: String, terms: Seq[String]) extends Pred

  private def residual(p: Pred): Column = p match {
    case Between(c, lo, hi) => col(c).cast("long").between(lo, hi)
    case Eq(c, v) => col(c) === lit(v)
    case In(c, vs) => col(c).isin(vs: _*)
    case HasTokens(c, ts) => BloomIndex.tokensResidual(c, ts)
  }

  /** (Re)build EVERY listed index in TWO jobs, however many columns —
    * the refresh-cost story at 100 TB. N single-column refreshes pay N
    * scans and N shuffles; here all zone columns share ONE aggregate
    * (one scan, one shuffle to O(partitions) rows carrying every
    * column's [lo, hi]) and all bloom columns share ONE tagged-explode
    * aggregate (one scan, one (partition, column, word) shuffle) —
    * each single refresh is already column-pruned on parquet, so the
    * merged passes cost ~the widest single one, not the sum. The tiny
    * merged frames (O(partitions [× columns × words])) are
    * materialized ([[graft.ext.Dedup.materialize]]) so the per-column
    * commits slice them without recomputing the table pass. The
    * snapshot version is read BEFORE the scans: a commit racing in
    * only under-stamps, degrading to the safe full scan, never to
    * false negatives.
    */
  def refreshAll(
      spark: SparkSession,
      table: String,
      zoneCols: Seq[String],
      bloomCols: Seq[String],
      bits: Int = 1 << 17,
      hashes: Int = 5): Unit = {
    require(zoneCols.nonEmpty || bloomCols.nonEmpty,
      "SkippingIndexes.refreshAll: nothing to refresh")
    val pcols = ManifestStore.partitionColsOf(spark, table)
    zoneCols.foreach(ZoneMaps.requireMappable(pcols, _))
    bloomCols.foreach(BloomIndex.requireMappable(pcols, _, bits, hashes))
    val version = ManifestStore.currentVersion(spark, table)
    if (zoneCols.nonEmpty) {
      val wide = graft.ext.Dedup.materialize(
        ZoneMaps.statsFrame(ManifestStore.read(spark, table), pcols, zoneCols))
      zoneCols.foreach { c =>
        ZoneMaps.commitStats(spark, table, c,
          wide.select(pcols.map(col) :+ col(s"__lo_$c").as("__lo") :+
            col(s"__hi_$c").as("__hi"): _*),
          version)
      }
    }
    if (bloomCols.nonEmpty) {
      val packed = graft.ext.Dedup.materialize(
        BloomIndex.packedFrame(ManifestStore.read(spark, table), pcols,
          bloomCols, bits, hashes))
      bloomCols.foreach { c =>
        BloomIndex.commitPacked(spark, table, c,
          packed.filter(col("__c") === c).drop("__c"),
          version, bits, hashes)
      }
    }
  }

  /** Rows satisfying ALL `preds`, scanning only the partitions that
    * survive every fresh index's qualifying set.
    */
  def readWhere(
      spark: SparkSession,
      table: String,
      preds: Seq[Pred],
      requireFresh: Boolean = false): DataFrame = {
    require(preds.nonEmpty, "SkippingIndexes.readWhere: no predicates")
    val pred = preds.map(residual).reduce(_ && _)
    val sets = preds.map {
      case Between(c, lo, hi) => ZoneMaps.qualifying(spark, table, c, lo, hi)
      case Eq(c, v) => BloomIndex.qualifying(spark, table, c, v)
      case In(c, vs) => BloomIndex.qualifyingIn(spark, table, c, vs)
      case HasTokens(c, ts) => BloomIndex.qualifyingTokens(spark, table, c, ts)
    }
    require(!requireFresh || sets.forall(_.isDefined),
      s"SkippingIndexes: ${sets.count(_.isEmpty)} of ${preds.size} " +
        s"predicates on $table have no fresh index — refresh() before a " +
        "requireFresh read")
    val base = ManifestStore.read(spark, table)
    val contributing = sets.flatten.map(_.toSet)
    if (contributing.isEmpty) return base.filter(pred)
    val surviving = contributing.reduce(_ intersect _)
    if (surviving.isEmpty) return base.limit(0).filter(pred)
    val pcols = ManifestStore.partitionColsOf(spark, table)
    base.filter(ManifestStore.partitionValuesPred(pcols, surviving.toSeq))
      .filter(pred)
  }
}
