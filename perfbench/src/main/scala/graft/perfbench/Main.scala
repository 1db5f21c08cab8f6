package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Entry point of the closed-loop benchmark: one JVM, one pinned session,
  * one workload per invocation.
  *
  * {{{
  *   Main --workload <etl_reload|store_upsert|corpus_serve> --seed <n>
  *        --seconds <s> --trace <0|1> --root <scratch dir> [--spans <file>]
  * }}}
  *
  * The last stdout line is one JSON object (correct, attempted, failed,
  * metrics). `--trace 0` reports the end-to-end metrics. `--trace 1` runs
  * an untraced loop of half the time, a traced loop, and another untraced
  * half, all on the same warmed instance; it reports the per-layer metrics
  * of the traced loop plus the ratio between the untraced and the traced
  * loops, and writes the spans to `--spans` when given.
  */
object Main {

  /** Untimed steps on the timed instance between its set-up and the first
    * timed op, so the timed loop starts with a warm JIT and warm caches:
    * with one, the first timed step of either workload still ran 10-20%
    * slower than the later ones.
    */
  val WarmSteps = 2

  /** Fixed, not derived from the machine, so the plan shape never moves. */
  val ShufflePartitions = 4

  /** Workloads whose traced run ends with a traced phase of another one:
    * `store_upsert`'s traced run also drives `corpus_serve`, so the `ext`
    * layer and `ManifestStore.readPartitions` are measured on a listed
    * workload.
    */
  val TracedCompanions: Map[String, Workload] = Map("store_upsert" -> CorpusServe)
  /** Per-layer metrics a traced companion phase reports. */
  def companionMetric(name: String): Boolean = name.startsWith("ext.") || name == "store.read_partitions_s"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String,
      spans: Option[String])

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $other")
      },
      need("root"), kv.get("spans"))
  }

  val workloads: Map[String, Workload] =
    Seq(EtlReload, StoreUpsert, CorpusServe).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val workload = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${args.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val root = new File(args.root).getAbsoluteFile
    // every run starts from an empty root of its own: nothing but the JVM's
    // temporary directory may be there yet
    require(Option(root.list()).forall(_.forall(_ == "tmp")), s"scratch root $root is not empty")
    require(root.isDirectory || root.mkdirs(), s"cannot create scratch root $root")
    try {
      val spark = session(root)
      val sessionReady = uptime
      val line = try run(spark, workload, args, root, sessionReady)
        finally spark.stop()
      println(line)
    } finally Files.deleteRec(root)
  }

  /** The pinned session: the Bench/Verify I/O regime (raw local FS,
    * committer v2, UTC, nanosAsLong) at `local[nproc]`, with every local
    * directory under the run's scratch root.
    */
  def session(root: File): SparkSession = {
    val settings = pinnedSettings(root)
    val b = SparkSession.builder().master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
    settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val heap = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use")).mkString(" ")
    println(s"settings: master=local[${Runtime.getRuntime.availableProcessors}] jvm=[$heap] " +
      settings.filterNot(_._1.endsWith(".dir")).map { case (k, v) => s"$k=$v" }.mkString(" "))
    spark
  }

  def pinnedSettings(root: File): Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> ShufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.local.dir" -> new File(root, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(root, "warehouse").getPath,
  )

  private def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Set up `w` in an empty directory of its own under `root` and warm it
    * with `warmSteps` untimed steps. Returns the instance and the wall time
    * of the set-up and of each warm step.
    */
  def prepare(spark: SparkSession, w: Workload, root: File, seed: Long, warmSteps: Int): (Instance, Seq[Double]) = {
    val dir = new File(root, w.name)
    // fresh state: nothing under the instance's root may exist before its
    // first write
    require(!dir.exists(), s"$dir exists before set-up")
    var t0 = System.nanoTime()
    val inst = w.setup(new Ctx(spark, dir, seed))
    val times = ArrayBuffer((System.nanoTime() - t0) / 1e9)
    val ops = new Ops(Tracer.off, dir)
    for (_ <- 0 until warmSteps) {
      t0 = System.nanoTime()
      inst.step(ops)
      times += (System.nanoTime() - t0) / 1e9
    }
    require(ops.failed == 0, s"warm-up failed: ${ops.failures.mkString("; ")}")
    (inst, times.toSeq)
  }

  def run(spark: SparkSession, w: Workload, args: Args, root: File, sessionReady: Double): String = {
    val rng = new java.util.Random(args.seed)
    val (inst, times) = prepare(spark, w, root, rng.nextLong(), WarmSteps)
    // JVM start to the first timed op: session start, inputs, base state
    // and warm-up
    val setupS = uptime
    def series(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    println(f"setup: session $sessionReady%.3f s, set-up ${times.head}%.3f s, warm steps ${series(times.tail)} s, " +
      f"first timed op at $setupS%.3f s")

    if (!args.trace) {
      val r = Loop.run(inst, args.seconds, Tracer.off)
      val end = inst.finish()
      Report.line(Seq(r), Seq(end), EndToEnd.metrics(r, end, setupS))
    } else {
      // untraced, traced, untraced: whatever drifts along the run (the
      // instance's growing state, the JIT) lands on both sides of the
      // traced loop, so the ratio isolates the tracing cost
      val before = Loop.run(inst, args.seconds / 2.0, Tracer.off)
      val tracer = Tracer.on(spark)
      val traced = try Loop.run(inst, args.seconds, tracer) finally tracer.close()
      val after = Loop.run(inst, args.seconds / 2.0, Tracer.off)
      val end = inst.finish()
      args.spans.foreach(p => tracer.dump(new File(p)))
      val untracedRowsPerS = (before.rows + after.rows) / (before.wall + after.wall)
      println(f"overhead: untraced ${before.rowsPerS}%.2f / ${after.rowsPerS}%.2f rows/s around traced ${traced.rowsPerS}%.2f rows/s")
      val layers = Layers.metrics(traced, end, tracer, untracedRowsPerS / traced.rowsPerS)
      TracedCompanions.get(w.name) match {
        case None => Report.line(Seq(before, traced, after), Seq(end), layers)
        case Some(c) =>
          // one warm step, not two: this phase yields per-layer figures
          // only, and a second step would take the traced run past the
          // 180 s a run may last on a slow machine
          val (ci, ctimes) = prepare(spark, c, root, rng.nextLong(), 1)
          println(s"${c.name} phase: set-up ${series(ctimes.take(1))} s, warm step ${series(ctimes.tail)} s")
          val ct = Tracer.on(spark)
          val cr = try Loop.run(ci, args.seconds / 2.0, ct) finally ct.close()
          val cend = ci.finish()
          args.spans.foreach(p => ct.dump(new File(p.stripSuffix(".jsonl") + s"_${c.name}.jsonl")))
          val cl = Layers.metrics(cr, cend, ct, Double.NaN).filter(m => companionMetric(m._1)).toMap
          Report.line(Seq(before, traced, after, cr), Seq(end, cend),
            layers.map { case (k, m) => k -> cl.getOrElse(k, m) })
      }
    }
  }
}

object Files {
  def deleteRec(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete()
    ()
  }

  /** (bytes, files) of every regular file under `f`. */
  def usage(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(usage)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Every regular file under `f` with its size, by absolute path. */
  def listing(f: File): Map[String, Long] =
    if (!f.exists()) Map.empty
    else if (f.isFile) Map(f.getPath -> f.length())
    else Option(f.listFiles()).getOrElse(Array.empty[File]).flatMap(listing).toMap
}
