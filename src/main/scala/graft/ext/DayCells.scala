package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.ManifestStore

/** The day-keyed SUBTOTAL store protocol shared by the linear store
  * families (count-min, histogram, HLL, moments, vocab, LM, data card):
  * one or more [[ManifestStore]] tables under a store root, each
  * holding summable (or max-mergeable) cells keyed by
  * (`groupCols`, day) and partitioned by day.
  *
  *  - [[append]] merges one day's cells: the keyed merge prunes to the
  *    day's partition, so a replayed day REPLACES its subtotals and
  *    never double-counts;
  *  - [[forget]] lands the doomed rows' cells NEGATED under a tag (the
  *    x205 negative-correction pattern), after the `has_corrections`
  *    marker, so readers that filter zero-net cells once the store is
  *    marked never see a negative cell unmarked;
  *  - [[compact]] folds named days (and tags) into one `epoch:` row set
  *    per table via [[ManifestStore.compactDays]].
  *
  * Day and fold tags are checked against the one `epoch:` rule in
  * [[ManifestStore.requireDayTag]]. A store's tables carry no commit
  * order between them (each read is exact per table, and a replay
  * converges from any partial commit), so multi-table commits fan out
  * through [[Par.all]]. The cell builders, the reads (their zero-net
  * rules differ per family) and any empty-day guard stay with the
  * family.
  */
private[graft] object DayCells {

  /** One subtotal table at `root/sub` (`sub` empty: the root itself). */
  final case class Table(
      sub: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      maxCols: Seq[String] = Nil) {
    def path(root: String): String = if (sub.isEmpty) root else s"$root/$sub"
  }

  /** Merge one day's `cells` (without the day column) into each table. */
  def append(spark: SparkSession, root: String, day: String, cells: (Table, DataFrame)*): Unit = {
    ManifestStore.requireDayTag(s"day store $root", day)
    merge(spark, root, day, cells)
  }

  /** Erase `doomed`'s contribution: `cells` are the doomed rows' cells,
    * landed with every `sumCols` column negated under `tag`. Re-issuing
    * the same tag replaces its rows; doomed ⊆ ingested is the caller's
    * net-count ≥ 0 contract.
    */
  def forget(
      spark: SparkSession,
      root: String,
      tag: String,
      doomed: DataFrame,
      cells: (Table, DataFrame)*): Unit = {
    ManifestStore.requireDayTag(s"day store $root", tag)
    if (doomed.isEmpty) return
    // marker FIRST (StoreSidecar.setMarker contract): readers switch to
    // their zero-net filter before any negative cell can land
    StoreSidecar.setMarker(spark, root, "has_corrections")
    merge(spark, root, tag, cells.map { case (t, c) =>
      t -> c.select(c.columns.toSeq.map(n =>
        if (t.sumCols.contains(n)) (-col(n)).as(n) else col(n)): _*)
    })
  }

  /** Fold `foldDays` (days and forget tags) into `epoch` in each table. */
  def compact(
      spark: SparkSession,
      root: String,
      foldDays: Seq[String],
      epoch: String,
      tables: Table*): Unit =
    Par.all(tables.map(t => () =>
      ManifestStore.compactDays(spark, t.path(root), "day", t.groupCols, t.sumCols,
        foldDays, epoch, maxCols = t.maxCols)): _*)

  private def merge(
      spark: SparkSession, root: String, day: String, cells: Seq[(Table, DataFrame)]): Unit =
    Par.all(cells.map { case (t, c) => () =>
      ManifestStore.mergeOrCreate(spark, t.path(root), c.withColumn("day", lit(day)),
        t.groupCols :+ "day", "day")
    }: _*)
}
