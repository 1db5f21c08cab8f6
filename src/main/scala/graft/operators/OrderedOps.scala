package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-dependent operators from the reference, given distributed
  * semantics via an explicit ordering column (SURVEY.md §7.4).
  */
object OrderedOps {

  /** `break_on`: the reference's per-row hooks can abort the remaining rows
    * of a batch (cubicerpetl/cubicerpetl.py:373-374, :381-382, :454-455,
    * :501-502) — an order-dependent limit. Distributed form: keep rows
    * strictly before the first row (in `orderCol` order) satisfying `pred`.
    *
    * Implemented as a scalar min over the matching keys broadcast back —
    * two scans, no window over a global sort (which would single-partition
    * at 100 TB).
    */
  def breakOn(df: DataFrame, orderCol: String, pred: Column): DataFrame = {
    val firstBreak = df.filter(pred).agg(min(col(orderCol)).as("__break_at"))
    df.crossJoin(broadcast(firstBreak))
      .filter(col("__break_at").isNull || col(orderCol) < col("__break_at"))
      .drop("__break_at")
  }

  /** Header/footer broadcast merge (reference :233-247): attach the single
    * first/last row (by `orderCol`) of `edge` onto every row of `df` —
    * a one-row broadcast cross join, never a shuffle of `df`.
    */
  def attachEdgeRow(df: DataFrame, edge: DataFrame, orderCol: String, first: Boolean): DataFrame = {
    val agg = edge.agg((if (first) min(col(orderCol)) else max(col(orderCol))).as("__edge_key"))
    val row = edge.join(broadcast(agg), col(orderCol) === col("__edge_key"))
      .drop("__edge_key").limit(1).drop(orderCol)
    df.crossJoin(broadcast(row))
  }
}
