package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one replay path: every bounded stream the engine runs as a gate
  * or operator stages its input, starts, checkpoints and drains here.
  *
  * Replay protocol: the caller tags every row with an integral batch id.
  * [[stage]] writes each batch as exactly ONE parquet file (all rows of a
  * batch land in one task via `repartition`, so `partitionBy` writes one
  * file per batch dir), renamed into the input directory with strictly
  * increasing modification times; `maxFilesPerTrigger=1` then yields one
  * micro-batch per file in batch-id order, which makes watermark evolution
  * and fold order a pure function of the data. A batch id with no rows
  * has no file and no micro-batch.
  *
  * Cost model: staging happens ONCE per JVM per root — repeated replays
  * (the bench's warm-up + 3 passes) reuse the immutable staged files and
  * pay only the micro-batch scheduling floor. Roots live under
  * [[graft.Scratch.path]], a per-JVM run directory that Scratch's own
  * shutdown hook removes, so two JVMs never share a root. Each replay
  * gets a fresh checkpoint and, for a memory sink, a fresh result view
  * (run counter), so concurrent runs within a JVM are isolated too.
  *
  * The file-per-batch harness is test scaffolding by design: a production
  * run reads a real source with whatever batching arrives, and checkpoints
  * to durable storage because there the checkpoint IS the restart
  * contract ([[OnlineJob]]); here it is scratch, deleted after the drain.
  */
object Replay {

  /** Longest drain any replay may take before it fails loudly. */
  private val TimeoutMs = 600000L

  /** Partition column of the staged write; `partitionBy` strips it, so it
    * never reaches the stream.
    */
  private val BatchCol = "__replay_batch"

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val runCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val lastView = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val sessions = new java.util.concurrent.ConcurrentHashMap[Int, SparkSession]()

  /** Replay checkpoints are write-heavy scratch (offset WAL + state
    * deltas, several fsync'd small files per trigger) and are deleted
    * after every drain — put them on tmpfs when the host has one
    * (measured ~25% off the per-trigger floor vs ext4 /tmp). The JVM
    * token + run number keep concurrent JVMs and runs disjoint.
    */
  private[graft] val ckptBase: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-ckpt"
    else s"${System.getProperty("java.io.tmpdir")}/graft-ckpt"

  /** A replay moves a handful of rows per micro-batch, yet every
    * micro-batch of a stateful query commits `spark.sql.shuffle
    * .partitions` state-store partitions — at the session default (32)
    * that floor, × ~20 batches × bench passes, IS the query's wall time.
    * Run such a stream in one per-JVM session CLONE per reducer count
    * instead: same SparkContext, same semantics (the watermark is global,
    * not per-partition), a fraction of the scheduling floor. Production
    * sizes this to real key cardinality.
    */
  def session(spark: SparkSession, partitions: Int): SparkSession =
    sessions.computeIfAbsent(partitions, { _ =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      s
    })

  /** Stage `frame` file-per-batch under `root` (replacing whatever is
    * there) and return the replay input dir. Every column of `frame`
    * reaches the files; `batch` is evaluated against `frame`, must be
    * integral, and orders the batches. Memoized per root: a second call
    * on the same root returns the first call's dir without restaging.
    */
  def stage(spark: SparkSession, frame: DataFrame, batch: Column, root: String): String =
    stagedDirs.computeIfAbsent(root, { _ =>
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new Path(root), true)
      val staged = s"$root/staged"
      frame.withColumn(BatchCol, batch.cast("long"))
        .repartition(col(BatchCol))
        .write.partitionBy(BatchCol).parquet(staged)

      val in = new Path(root, "in")
      fs.mkdirs(in)
      val batchDirs = fs.listStatus(new Path(staged)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(BatchCol + "="))
        .sortBy(st => st.getPath.getName.stripPrefix(BatchCol + "=").toLong)
      batchDirs.zipWithIndex.foreach { case (dir, i) =>
        val part = fs.listStatus(dir.getPath).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
        require(part.length == 1,
          s"Replay: batch dir ${dir.getPath} has ${part.length} files, expected 1")
        val dst = new Path(in, f"b$i%05d.parquet")
        fs.rename(part.head, dst)
        // strictly increasing mtimes pin the micro-batch order
        fs.setTimes(dst, 10000L * (i + 1), -1)
      }
      in.toString
    })

  /** Replay `frame` one batch per micro-batch through `fold` (micro-batch,
    * batch id). The stream reads in the caller's session because the
    * folds mix each micro-batch with the caller's frames and stores.
    */
  def foreachBatch(spark: SparkSession, frame: DataFrame, batch: Column,
      root: String, name: String)(fold: (DataFrame, Long) => Unit): Unit = {
    val in = stage(spark, frame, batch, root)
    val writer = spark.readStream
      .schema(frame.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
      .writeStream
      .foreachBatch(fold)
    drain(spark, writer, runName(name))
  }

  /** Drain `stream` into a memory sink in the stream's own session and
    * return the result table. The view is named `<name>_r<run>`; the
    * previous run's view under `name` is dropped so repeated replays do
    * not accumulate memory-sink tables.
    */
  def memory(stream: DataFrame, name: String, outputMode: String): DataFrame = {
    val ss = stream.sparkSession
    val qn = runName(name)
    Option(lastView.put(name, qn)).foreach(ss.catalog.dropTempView)
    drain(ss, stream.writeStream.format("memory").outputMode(outputMode), qn)
    ss.table(qn)
  }

  private def runName(name: String): String = s"${name}_r${runCounter.incrementAndGet()}"

  /** Start `writer` as query `qn` under a fresh checkpoint, drain it and
    * delete the checkpoint, whether or not the run failed.
    */
  private def drain(spark: SparkSession, writer: DataStreamWriter[Row], qn: String): Unit = {
    val ckpt = s"$ckptBase/${graft.Scratch.token}_$qn"
    try Drain(writer.queryName(qn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(), qn, TimeoutMs)
    finally {
      val fs = new Path(ckpt).getFileSystem(spark.sessionState.newHadoopConf())
      try fs.delete(new Path(ckpt), true) catch { case _: java.io.IOException => () }
    }
  }
}
