package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Execution log + upsert state store — reference `etl.log`
  * (cubicerpetl/cubicerpetl.py:705-715 read, :783-811 write). The reference
  * uses the log table both as an audit trail and as the upsert state store:
  * a previously loaded row is found by `(job, pk, level='info')` and its
  * first `model_id` is reused (:664-671).
  *
  * Here the log is a partitioned parquet table; the state lookup is a
  * distinct-keys aggregation (min model_id per (job, pk)) — one shuffle
  * over keys only, which leaves the state hash-clustered on `pk`. The
  * MergeRouter join streams it co-partitioned past an extract spread on
  * the same key, and broadcasts it to any other extract when the
  * loaded-key set is small.
  */
object LogStore {

  val Schema = "job string, pk string, model_id long, level string, message string, ts timestamp"

  def append(spark: SparkSession, path: String, entries: DataFrame): Unit =
    entries.write.mode("append").partitionBy("job").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(Schema)).parquet(path)

  /** Read the log if the path exists; a missing path (first run) is an
    * empty log. Any other failure — corrupt files, transient IO — must
    * PROPAGATE: swallowing it would route every row as insert and load
    * duplicates at the destination instead of failing the job.
    */
  def readOrEmpty(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) read(spark, path)
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(Schema))
  }

  /** The reference's id-recovery lookup (:664-671): first (min) model_id per
    * (job, pk) at level 'info'. Returns columns (pk, model_id) for one job —
    * partition pruning on `job` keeps the scan to one partition.
    */
  def stateFor(log: DataFrame, job: String): DataFrame =
    log.filter(col("job") === job && col("level") === "info" && col("model_id").isNotNull)
      .groupBy(col("pk"))
      .agg(min(col("model_id")).as("model_id"))
}
