package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed tables — the co-located join story for repeated big joins
  * (SURVEY.md §2 "Partitioning & shuffle"). Writing both sides bucketed
  * by the join key with the same bucket count lets Spark plan a
  * SortMergeJoin with NO Exchange on either side: at 100 TB the shuffle
  * is paid once at ingest and amortized over every subsequent join.
  *
  * Plain `DataFrameWriter.bucketBy` requires a catalog table (bucket
  * metadata lives in the metastore); these helpers wrap that.
  */
object Bucketing {

  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).format("parquet").saveAsTable(table)
  }
}
