package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partitioned parquet layout helpers — the at-scale storage story for
  * date-sliced data (the reference's `{aaaa}{mm}{dd}` filename slices,
  * SURVEY.md §2.10(b), generalized to hive-style partition directories).
  * A filter on the partition column prunes whole directories at planning
  * time — the scan never opens non-matching files, which is what makes
  * daily incremental processing O(day) instead of O(history) at 100 TB.
  */
object PartitionedStore {

  def write(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The filesystem OWNING `p` — never `FileSystem.get(conf)`, which
    * returns the DEFAULT filesystem and would aim delete/rename at the
    * wrong store when the table lives on s3a/abfs but the default FS is
    * HDFS or local.
    */
  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Compact a partitioned dataset in place: rewrite each partition's
    * many small files into ~`targetFiles` per partition. The small-files
    * problem is the classic failure mode of incremental partitioned
    * ingest (each micro-batch appends a file per partition per task);
    * compaction restores scan efficiency. Rewrites through a temp
    * directory so a crash mid-compact never truncates the source.
    */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String], targetFiles: Int = 1): Unit = {
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path)
      .repartition(targetFiles, partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp)
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, dst)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Copy-on-write MERGE (upsert) into a partitioned parquet table — the
    * at-scale form of the reference's update/insert reprocess against file
    * storage: cost is O(partitions the batch touches), not O(table).
    *
    * Steps: (1) read ONLY the touched partitions (the batch's distinct
    * partition values become a pushable IN-filter, so directory pruning
    * applies); (2) anti-join old rows against batch keys, union the batch;
    * (3) stage the rewritten partitions to a temp dir; (4) swap just those
    * partition directories into place. Untouched partitions are never
    * read, rewritten, or moved. The swap enumerates the partition
    * directories Spark actually WROTE under the staging dir (never
    * re-derives names by string-formatting values — Spark hive-escapes
    * special characters and nulls, and a name mismatch would silently
    * drop the partition).
    *
    * Contract: batch rows carry the partition column; single-level
    * partitioning; partition values must be neither null nor `""`
    * ([[writesAsNull]]); and a key's
    * partition value must be STABLE across upserts — a row that moves
    * partitions would leave its old copy behind (detecting that requires
    * a global key scan, which defeats O(touched); route such changes as
    * an explicit delete+insert instead). The per-partition swap is
    * delete-then-rename: not atomic under a crash between the two calls
    * (the staged copy still exists under the staging dir for manual
    * recovery); full atomicity needs a manifest/transaction-log layout.
    *
    * Concurrency: the table expects a SINGLE writer per merge — two
    * concurrent merges can interleave their per-partition swaps and leave
    * a mix of both batches. The staging dir is suffixed with `batchId`
    * (default: a fresh UUID) so concurrent attempts at least never
    * clobber each other's staged files, and a leftover staging dir from a
    * crashed run fails fast instead of being silently overwritten.
    */
  def merge(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCol: String,
      batchId: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    val touched = touchedTuples(batch, Seq(partitionCol)).map(_.head)
    require(!touched.exists(writesAsNull), s"merge: null $partitionCol in batch")
    val affected = read(spark, path).filter(col(partitionCol).isin(touched: _*))
    val out = upsertPlan(affected, batch, keyCols)
    val tmp = path + "__merge_tmp_" +
      batchId.getOrElse(java.util.UUID.randomUUID().toString).replaceAll("[^a-zA-Z0-9_-]", "_")
    val fs = fsFor(spark, new org.apache.hadoop.fs.Path(path))
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp)))
      throw new java.io.IOException(
        s"merge: staging dir $tmp already exists (crashed or concurrent merge with the same batchId)")
    out.write.mode("overwrite").partitionBy(partitionCol).parquet(tmp)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
    for (s <- staged) {
      val dst = new org.apache.hadoop.fs.Path(path, s.getPath.getName)
      if (fs.exists(dst) && !fs.delete(dst, true))
        throw new java.io.IOException(s"merge: cannot replace $dst")
      if (!fs.rename(s.getPath, dst))
        throw new java.io.IOException(s"merge: rename ${s.getPath} -> $dst failed")
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** The distinct `cols` tuples of a merge batch — the touched set of
    * [[merge]] and [[ManifestStore.merge]]. A batch whose rows are
    * already on the driver (its projection optimizes to a
    * `LocalRelation`: a `toDF` of local rows, a push-mode payload)
    * collects with no Spark job and is deduplicated here; any other
    * batch runs a `distinct()` collect.
    */
  private[sources] def touchedTuples(batch: DataFrame, cols: Seq[String]): Seq[Seq[Any]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.col
    val tuples = batch.select(cols.map(col): _*)
    val local = tuples.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val rows = (if (local) tuples else tuples.distinct()).collect()
    rows.map(r => cols.indices.map(r.get)).toSeq.distinct
  }

  /** A partition value Spark writes into the `__HIVE_DEFAULT_PARTITION__`
    * leaf, which reads back as null: null itself and the empty string. A
    * merge refuses both, since its touched filter (`p IN ('')`) would match
    * none of that leaf's rows and the rewrite would drop them.
    */
  private[sources] def writesAsNull(v: Any): Boolean = v == null || v == ""

  /** The copy-on-write upsert plan shared by [[merge]] and
    * [[ManifestStore.merge]]: current rows that lose to a batch key are
    * anti-joined away, then the batch is unioned in with the current
    * column order. ONE definition so the two stores cannot silently
    * diverge on key semantics.
    */
  private[sources] def upsertPlan(
      current: DataFrame, batch: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val keyed = batch.select(keyCols.map(c => batch(c).as(s"__k_$c")): _*)
    val keep = current.join(keyed,
      keyCols.map(c => current(c) === col(s"__k_$c")).reduce(_ && _), "left_anti")
    keep.unionByName(batch.select(keep.columns.map(col): _*))
  }

  /** Partition directories actually selected by `df`'s plan (from the
    * FileSourceScan's partition filters) — lets tests and ops verify
    * pruning happened instead of trusting it.
    */
  def selectedPartitionCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.selectedPartitions.partitionCount.toLong
    }
  }

  /** Balanced OR-of-AND membership predicate on partition values — the
    * touched-partition filter of ManifestStore's merge and delete, shared
    * by the derived skipping indexes ([[ZoneMaps]], [[BloomIndex]]): `tuples` are the
    * qualifying partitions' values in `pcols` order; the OR tree is
    * balanced (depth log n) so thousands of qualifying partitions never
    * build a right-deep Catalyst expression.
    */
  def partitionValuesPred(
      pcols: Seq[String],
      tuples: Seq[Seq[Any]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    require(tuples.nonEmpty, "partitionValuesPred: empty qualifying set")
    def balanced(cs: Seq[Column]): Column = {
      var cur = cs
      while (cur.size > 1) cur = cur.grouped(2).map(_.reduce(_ || _)).toSeq
      cur.head
    }
    if (pcols.size == 1) col(pcols.head).isin(tuples.map(_.head): _*)
    else balanced(tuples.map(tuple =>
      pcols.zip(tuple).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)))
  }

  /** [[selectedPartitionCount]] summed over EVERY scan in the plan — a
    * multi-commit ManifestStore read is a union of one scan per live
    * commit, and filter-based skipping (ZoneMaps) prunes each scan
    * independently; `inputFiles` cannot see that pruning (it lists the
    * FileIndex before filters apply).
    */
  def selectedPartitionTotal(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.selectedPartitions.partitionCount.toLong
    }.sum
  }
}
