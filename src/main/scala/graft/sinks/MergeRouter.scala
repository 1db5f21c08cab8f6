package graft.sinks

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.spec.Specs.ReprocessMode
import graft.spec.Specs.ReprocessMode._

/** Upsert routing — the reference's `reprocess` load semantics
  * (reference cubicerpetl/cubicerpetl.py:505-537; id-recovery join against
  * the log state store :664-671; mode table in SURVEY.md §2.7).
  *
  * The reference decides insert-vs-update per row by probing the `etl.log`
  * table for a previously loaded `(job, pk) → model_id`. The distributed
  * form is a single left join of the incoming batch against the key-state
  * table, then routing each row to an action. One co-partitioned or
  * broadcast join total (see [[route]]); the three writes that follow are
  * filter-partitioned from the same routed plan (classic foreachBatch +
  * MERGE shape).
  */
object MergeRouter {

  val ActionCol = "__action"
  val IdCol = "__model_id"

  /** Join `incoming` (must carry `pkCol`) to `state` (columns: `pk`,
    * `model_id`) and add `__action` ∈ {insert, update, delete, skip} plus
    * `__model_id` (the recovered destination id, null for inserts).
    *
    * Semantics per mode (reference lines in parens):
    *  - Insert:     every row → insert (:509-517)
    *  - Update:     matched → update, unmatched → insert (:518-537)
    *  - NoUpdate:   matched → skip,   unmatched → insert (:529-537)
    *  - OnlyUpdate: matched → update, unmatched → skip (:518-528)
    *  - Delete:     matched rows ALSO emit a delete action for the old id,
    *                then every row → insert (:506-517)
    *
    * The join plan follows from `incoming`'s own plan, with no option:
    *  - `incoming` ends in a hash repartition on the routing key (the
    *    spread [[graft.runner.JobRunner.run]] puts on a narrow extract):
    *    a shuffled hash join that builds its table from `incoming`
    *    (`BuildLeft`) and streams the state past it. The spread's exchange
    *    and the state's `groupBy(pk)` exchange already cluster both sides
    *    on the key, so no exchange is added and the state is neither
    *    collected nor broadcast.
    *  - anything else: the state is hinted broadcast when Catalyst's
    *    plan-time size estimate fits the session broadcast threshold.
    */
  def route(incoming: DataFrame, state: DataFrame, pkCol: String, mode: ReprocessMode): DataFrame = {
    val st0 = state.select(col("pk").as("__st_pk"), col("model_id").as(IdCol))
    val coPartitioned = hashedOnKey(incoming, pkCol)
    // Unspread: state tables are bounded by loaded-key cardinality; hint
    // broadcast when the estimate (on the optimized plan — no action) fits
    // the threshold, so the (typically huge) incoming side never shuffles
    // just to probe key state. The explicit hint matters: AQE may demote an
    // unhinted broadcast whose shuffle stage has mostly empty partitions.
    // When stats are unknown/over the threshold the hint is withheld and
    // AQE may still convert at runtime from actual shuffle sizes.
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val st =
      if (!coPartitioned && conf.autoBroadcastJoinThreshold > 0 &&
          st0.queryExecution.optimizedPlan.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold)
        F.broadcast(st0)
      else st0
    val in = if (coPartitioned) incoming.hint("shuffle_hash") else incoming
    val joined = in.join(
      st, in(pkCol).cast("string") === col("__st_pk").cast("string"), "left")
      .drop("__st_pk")
    val matched = col(IdCol).isNotNull
    val routed = mode match {
      case Insert =>
        joined.withColumn(ActionCol, lit("insert"))
      case Update =>
        joined.withColumn(ActionCol, when(matched, lit("update")).otherwise(lit("insert")))
      case NoUpdate =>
        joined.withColumn(ActionCol, when(matched, lit("skip")).otherwise(lit("insert")))
      case OnlyUpdate =>
        joined.withColumn(ActionCol, when(matched, lit("update")).otherwise(lit("skip")))
      case Delete =>
        // one generator over the one joined frame: a matched row emits a
        // delete of its old id and an insert, an unmatched row an insert,
        // so the extract is scanned once. Repartition on the pk here —
        // where the mode is known — so any partition-local sink
        // (ConnectorSink orders deletes first) applies delete-then-insert
        // to a pk's rows in one partition. Other modes emit one action per
        // pk and skip the extra shuffle.
        joined
          .withColumn(ActionCol, explode(when(matched, array(lit("delete"), lit("insert")))
            .otherwise(array(lit("insert")))))
          .withColumn(IdCol, when(col(ActionCol) === "delete", col(IdCol)))
          .repartition(col(pkCol))
    }
    routed
  }

  /** Whether `incoming`'s plan ends in a hash repartition on `pkCol` cast
    * to string (the form the route join compares). Read off the analyzed
    * plan: no planning, no job.
    */
  private def hashedOnKey(incoming: DataFrame, pkCol: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.StringType
    val plan = incoming.queryExecution.analyzed
    (plan, plan.resolve(Seq(pkCol), incoming.sparkSession.sessionState.conf.resolver)) match {
      case (r: RepartitionByExpression, Some(pk)) => r.partitioning match {
        case HashPartitioning(Seq(c: Cast), _) => c.dataType == StringType && c.child.semanticEquals(pk)
        case _ => false
      }
      case _ => false
    }
  }

  /** The rows a sink would act on (drops `skip`). */
  def actionable(routed: DataFrame): DataFrame =
    routed.filter(col(ActionCol) =!= "skip")
}
