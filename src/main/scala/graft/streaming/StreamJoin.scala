package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked stream-stream interval join over the deterministic
  * file-per-batch [[Replay]] harness — the join-state gate
  * for event-time streaming.
  *
  * The operator under test is Spark's stream-stream inner join with an
  * event-time range condition: both sides are watermarked, the range
  * bound (`0 <= right.ts - left.ts <= matchWindow`) lets the state
  * store evict a buffered row once the watermark passes its last
  * possible match time — O(rows inside the watermark horizon) state,
  * not O(stream). That bounded-state eviction is the entire reason the
  * join survives an unbounded stream, and exactly what this gate pins.
  *
  * Determinism: the replay assigns arrival batches in EVENT-TIME order
  * (batch j's earliest row is no older than batch j-1's latest), so no
  * row ever arrives behind the watermark — nothing is droppable, every
  * match is emitted exactly once, and the append-mode result equals the
  * batch interval join, which is what the relational oracle computes.
  * (Late-arrival drop semantics are pinned separately by [[LateData]];
  * this gate isolates join buffering + eviction from late-data policy.)
  * Both sources advance one file per trigger and the global watermark
  * is the MIN across sources (Spark's default multipleWatermarkPolicy),
  * so neither side can race ahead and evict the other's pending
  * matches.
  */
object StreamJoin {

  /** Stream-stream join state cost scales with STORE COMMITS per
    * trigger, not data: Spark's symmetric hash join keeps FOUR state
    * stores per shuffle partition (keyToNumValues + keyWithIndexToValue
    * per side), so at the 4 partitions the other replay operators use
    * every micro-batch would commit 16 stores. The replay input is one
    * small file per trigger — a single partition (4 stores) cuts the
    * commit floor 4x with identical semantics (the watermark is global).
    * Production sizes this to real key cardinality.
    */
  private val Partitions = 1

  /** Replay `left` and `right` (each carrying `tsUsCol` LONG epoch
    * micros, `keyCol` LONG, and `batchCol`) as two file-per-batch
    * streams and inner-join them on key equality plus
    * `right.ts in [left.ts, left.ts + matchWindowUs]`.
    * Returns (key, left_tu, right_tu).
    */
  def replayedIntervalJoin(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      tsUsCol: String,
      keyCol: String,
      batchCol: String,
      scratch: String,
      delay: String,
      matchWindowUs: Long,
      queryName: String): DataFrame = {
    def stage(side: DataFrame, sub: String): String = Replay.stage(spark,
      side.select(col(tsUsCol), col(keyCol), col(batchCol)), col(batchCol), s"$scratch/$sub")
    val inL = stage(left, "l")
    val inR = stage(right, "r")
    val ss = Replay.session(spark, Partitions)
    def side(in: String, prefix: String): DataFrame = ss.readStream
      .schema(s"$tsUsCol LONG, $keyCol LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
      .select(
        col(keyCol).as(s"${prefix}_key"),
        col(tsUsCol).as(s"${prefix}_tu"),
        timestamp_micros(col(tsUsCol)).as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", delay)
    val joined = side(inL, "l").join(side(inR, "r"),
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL ${matchWindowUs / 1000000L} SECONDS"),
      "inner")
      .select(col("l_key").as(keyCol), col("l_tu"), col("r_tu"))

    Replay.memory(joined, queryName, "append")
  }
}
