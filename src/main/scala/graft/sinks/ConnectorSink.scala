package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Routed connector sink — the engine form of the reference's RPC load
  * path (`model.create`/`write`/`unlink` per row with a per-row error
  * channel, cubicerpetl/cubicerpetl.py:494-546, :728-766).
  *
  * The reference makes ONE network round-trip per row; here rows are
  * routed by [[MergeRouter]] and each partition drives a connector handler
  * with an iterator — batching, connection reuse, and parallelism across
  * partitions. Per-row failures become log rows instead of aborting the
  * job (reference try/except → etl.log, :738-745, :757-765).
  *
  * Handlers run on EXECUTORS: they must be serializable and create their
  * own connections per partition (the reference's `conn` hook argument
  * becomes "open your client in the handler").
  */
object ConnectorSink {

  /** Outcome of one row's load — mirrors the reference's per-row log entry
    * (pk, destination id or error).
    */
  final case class LoadResult(pk: String, action: String, modelId: Option[Long], error: Option[String])

  /** A connector: called once per partition per action with the rows to
    * apply. Returns per-row results. `create` must return new ids.
    */
  trait Handler extends Serializable {
    def create(rows: Iterator[Row]): Iterator[LoadResult]
    def update(rows: Iterator[Row]): Iterator[LoadResult]
    def delete(rows: Iterator[Row]): Iterator[LoadResult]
  }

  /** Apply a routed DataFrame (from [[MergeRouter.route]]) through a
    * handler; returns the per-row results as a DataFrame ready for
    * [[LogStore.append]]. Deletes run before inserts within a partition
    * (the reference's delete-then-insert refresh, :506-517), which
    * [[MergeRouter.route]] makes safe by putting a pk's delete and insert
    * rows in one partition; `skip` rows are dropped.
    */
  def apply(routed: DataFrame, handler: Handler): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val actionIdx = routed.schema.fieldIndex(MergeRouter.ActionCol)
    routed.mapPartitions { it =>
      val (deletes, rest) = it.partition(_.getString(actionIdx) == "delete")
      val byAction = rest.toSeq.groupBy(_.getString(actionIdx))
      handler.delete(deletes) ++
        handler.update(byAction.getOrElse("update", Nil).iterator) ++
        handler.create(byAction.getOrElse("insert", Nil).iterator)
    }(org.apache.spark.sql.Encoders.product[LoadResult]).toDF()
  }

  /** Results → log rows for [[LogStore.append]]. */
  def toLog(results: DataFrame, job: String): DataFrame =
    results.select(
      lit(job).as("job"),
      col("pk"),
      col("modelId").as("model_id"),
      when(col("error").isNotNull, lit("error")).otherwise(lit("info")).as("level"),
      coalesce(col("error"), concat(lit("loaded "), col("action"))).as("message"),
      current_timestamp().as("ts"))
}
