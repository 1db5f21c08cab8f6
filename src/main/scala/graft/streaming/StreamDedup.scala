package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact-dedup over the deterministic file-per-batch [[Replay]]
  * harness: `dropDuplicatesWithinWatermark` keys state by the id and
  * evicts it once the watermark passes — O(ids inside the horizon)
  * state, the only dedup shape an unbounded stream can afford (a plain
  * `dropDuplicates` on a stream retains every id forever).
  *
  * Determinism contract: the caller must inject duplicates close enough
  * in event time that both arrivals fall inside the watermark horizon —
  * then every duplicate is provably dropped, the surviving row set is
  * unique by id, and the append result equals batch `dropDuplicates`,
  * which is what the relational oracle computes. (Beyond-horizon
  * re-arrivals are deliberately out of the gate: the operator's public
  * contract only promises dedup WITHIN the watermark.)
  */
object StreamDedup {

  /** Replay `events` (tsUsCol LONG epoch micros, idCol LONG, batchCol)
    * and return the deduped rows (id, tu) — unique by id, first arrival
    * kept.
    */
  def replayedDedup(
      spark: SparkSession,
      events: DataFrame,
      tsUsCol: String,
      idCol: String,
      batchCol: String,
      scratch: String,
      delay: String,
      queryName: String): DataFrame = {
    val in = Replay.stage(spark,
      events.select(col(tsUsCol), col(idCol), col(batchCol)), col(batchCol), scratch)
    val out = Replay.session(spark, 4).readStream
      .schema(s"$tsUsCol LONG, $idCol LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
      .withColumn("__ts", timestamp_micros(col(tsUsCol)))
      .withWatermark("__ts", delay)
      .dropDuplicatesWithinWatermark(idCol)
      .select(col(idCol), col(tsUsCol))
    Replay.memory(out, queryName, "append")
  }
}
