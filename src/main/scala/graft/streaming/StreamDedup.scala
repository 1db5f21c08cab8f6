package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact-dedup over the deterministic file-per-batch replay
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
      queryName: String,
      timeoutMs: Long = 300000L): DataFrame = {
    val root = s"${scratch}_${LateData.jvmToken}"
    val in = LateData.stagedDirs.computeIfAbsent(root,
      _ => LateData.stage(spark, events, Seq(tsUsCol, idCol), batchCol, root))
    val run = LateData.runCounter.incrementAndGet()
    val qn = s"${queryName}_r$run"

    val ss = LateData.replaySession(spark)
    val out = ss.readStream
      .schema(s"$tsUsCol LONG, $idCol LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
      .withColumn("__ts", timestamp_micros(col(tsUsCol)))
      .withWatermark("__ts", delay)
      .dropDuplicatesWithinWatermark(idCol)
      .select(col(idCol), col(tsUsCol))

    Option(LateData.lastView.put(root, qn)).foreach(ss.catalog.dropTempView(_))
    val ckpt = LateData.ckptDir(run)
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try Drain(q, qn, timeoutMs)
    finally {
      val fs = new Path(ckpt).getFileSystem(spark.sessionState.newHadoopConf())
      try fs.delete(new Path(ckpt), true) catch { case _: java.io.IOException => () }
    }
    ss.table(qn)
  }
}
