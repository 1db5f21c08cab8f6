package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Foreign-key resolution joins — the reference's two deferred many2one
  * lookups (SURVEY.md §2.6):
  *
  *  - **xml_id resolution** (J2): a string `module.name` is resolved to a
  *    destination id through the `ir_model_data`-style registry
  *    (reference get_resolve_xml_id, cubicerpetl/cubicerpetl.py:598-611;
  *    applied :409-411, :692-696). The reference memoizes per (server,
  *    xml_id) and logs a warning + False on miss; here the whole column
  *    resolves in ONE broadcast join against the registry, and misses
  *    surface as null + a `__fk_miss` flag for the caller's log sink.
  *
  *  - **name-search resolution** (J3): a value that is neither an id nor
  *    an xml_id becomes a `name`-equality search on the destination model,
  *    taking the FIRST match (reference get_resolve_name_search
  *    :613-622, default domain [('name','=',val)], `val[0]` pick :415).
  *    Distributed form: left join on the name key, deterministic first
  *    match = min(id) per name (remote search returns id order).
  *
  * Both are broadcast joins when the dimension is registry-sized — no
  * shuffle of the fact table; a huge dimension falls back to a shuffled
  * hash join automatically.
  */
object FkResolve {

  val MissCol = "__fk_miss"

  /** Resolve `module.name` strings through a registry DataFrame with
    * columns (module, name, res_id). Adds `outCol` (the id, null on miss)
    * and [[MissCol]] (true where input was non-null but unresolved).
    */
  def xmlId(df: DataFrame, xmlIdCol: String, registry: DataFrame, outCol: String): DataFrame = {
    val reg = registry.select(
      concat_ws(".", col("module"), col("name")).as("__xml_key"),
      col("res_id").as(outCol))
    df.join(broadcast(reg), col(xmlIdCol) === col("__xml_key"), "left")
      .withColumn(MissCol, col(xmlIdCol).isNotNull && col(outCol).isNull)
      .drop("__xml_key")
  }

  /** Resolve values by name-search against a dimension: left join
    * `valueCol = dim.nameCol`, first match = min(idCol). Adds `outCol` and
    * [[MissCol]].
    */
  def nameSearch(
      df: DataFrame,
      valueCol: String,
      dim: DataFrame,
      nameCol: String,
      idCol: String,
      outCol: String): DataFrame = {
    // deterministic "first" match per name, resolved once on the dim side
    // (keys-only aggregation) before the broadcast join
    val firstMatch = dim.groupBy(col(nameCol).as("__ns_name"))
      .agg(min(col(idCol)).as(outCol))
    df.join(broadcast(firstMatch), col(valueCol) === col("__ns_name"), "left")
      .withColumn(MissCol, col(valueCol).isNotNull && col(outCol).isNull)
      .drop("__ns_name")
  }
}
