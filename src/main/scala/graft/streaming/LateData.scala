package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked windowed aggregation over a DETERMINISTIC multi-batch
  * replay — the late-data correctness gate for event-time streaming.
  *
  * The reference has no streaming path at all (its closest analogue is the
  * 'online' push-mode job, cubicerpetl/cubicerpetl.py:204-214, which is
  * batch-per-payload); this operator exists for the engine's event-time
  * extension surface: out-of-order events must be merged into their
  * windows while they are on time and DROPPED once the watermark passes,
  * and the result must be reproducible enough to oracle-check.
  *
  * Replay protocol: the caller pre-assigns every row an arrival-batch id,
  * and [[Replay.stage]] turns each batch into one file and one
  * micro-batch, in batch order, making watermark evolution a pure
  * function of the data.
  *
  * Calibrated Spark semantics this replays (verified empirically on 4.1,
  * append mode; SPARK-40925 split the two watermarks):
  *  - W_k = floor_ms(max event time through batch k) - delay, monotone,
  *    initial 0;
  *  - batch j drops input rows whose WINDOW END <= W_{j-2} (the late-
  *    events watermark is the PREVIOUS batch's eviction watermark);
  *  - batch j emits-and-evicts windows whose end <= W_{j-1}; the trailing
  *    no-data micro-batch of the bounded drain flushes with W_last.
  * Both predicates are non-strict on window end. Because watermarks are
  * monotone, a row that survives the filter can never belong to an
  * already-emitted window, so the result set equals: aggregate every row
  * whose window end > W_{arrival-2}, keep windows whose end <= W_last —
  * which is what the DuckDB oracle computes relationally.
  *
  * The staging, checkpoint and drain are [[Replay]]'s; the stream runs
  * in the 4-reducer replay session, where its memory-sink result view
  * also lives.
  *
  * Scale: the operator under test is the standard streaming shape —
  * per-key windowed state, O(open windows) memory, shuffle on window key
  * per micro-batch. The file-per-batch replay harness is test-scaffolding
  * by design (a production run reads a real source with whatever batching
  * arrives); only determinism, not throughput, is its job.
  */
object LateData {

  /** Run the replay and return the append-mode result as (ws, n):
    * window start in epoch micros and the event count.
    *
    * @param events  frame carrying `tsUsCol` (LONG epoch micros) and
    *                `batchCol` (integral arrival batch id); other columns
    *                are ignored
    * @param window  tumbling window width, e.g. "1 hour"
    * @param delay   watermark delay, e.g. "30 minutes"
    */
  def replayedWindowedCounts(
      spark: SparkSession,
      events: DataFrame,
      tsUsCol: String,
      batchCol: String,
      scratch: String,
      window: String,
      delay: String,
      queryName: String): DataFrame = {
    val in = Replay.stage(spark, events.select(col(tsUsCol), col(batchCol)), col(batchCol), scratch)
    val out = Replay.session(spark, 4).readStream
      .schema(s"$tsUsCol LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
      .withColumn("__ts", timestamp_micros(col(tsUsCol)))
      .withWatermark("__ts", delay)
      .groupBy(org.apache.spark.sql.functions.window(col("__ts"), window))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("n"))
    Replay.memory(out, queryName, "append")
  }
}
