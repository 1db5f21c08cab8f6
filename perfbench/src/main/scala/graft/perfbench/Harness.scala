package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a workload's set-up gets: the shared session, an empty directory
  * of its own, and a seed derived from the run's seed.
  */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long) {
  val rng = new java.util.Random(seed)
  def path(name: String): String = new File(dir, name).getPath
}

trait Workload {
  def name: String
  /** Build the base state and inputs under `ctx.dir` and return the
    * instance the timed loop drives.
    */
  def setup(ctx: Ctx): Instance
}

trait Instance {
  def dir: File
  /** One closed-loop cycle: every op goes through `ops`. */
  def step(ops: Ops): Unit
  /** End-of-run checks against the workload's own model. */
  def finish(): End
}

/** End-of-run facts: whether the final-state checks passed, stored bytes
  * per live row, ANN recall where the workload probes an index, and
  * workload counters the traced run reports.
  */
final case class End(
    correct: Boolean,
    storedBytesPerRow: Double,
    recall: Option[Double] = None,
    counters: Map[String, Double] = Map.empty,
    notes: Seq[String] = Nil)

/** Thrown by an op's output check; counted as a failed op. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit = if (!cond) throw new CheckFailed(what)
}

/** The closed loop's op recorder. Each op is timed around the call that
  * does the work; its output check runs after the clock stops. `write`
  * and `read` ops feed the latency metrics; `background` ops (compaction)
  * count only toward the timed wall.
  */
final class Ops(val tracer: Tracer, fsRoot: File) {
  val writes = ArrayBuffer.empty[Double]
  val reads = ArrayBuffer.empty[Double]
  var wall = 0.0
  var rows = 0L
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Traced runs only: what each op did to the files under the instance. */
  val fs = ArrayBuffer.empty[(String, FsDelta)]

  def write[T](name: String, rows: Long)(body: => T)(check: T => Unit): Unit =
    op(name, writes, rows)(body)(check)
  def read[T](name: String, rows: Long)(body: => T)(check: T => Unit): Unit =
    op(name, reads, rows)(body)(check)
  def background[T](name: String, rows: Long)(body: => T)(check: T => Unit): Unit =
    op(name, null, rows)(body)(check)

  private def op[T](name: String, into: ArrayBuffer[Double], n: Long)(body: => T)(check: T => Unit): Unit = {
    attempted += 1
    tracer.beginOp(attempted)
    val before = if (tracer.enabled) Files.listing(fsRoot) else null
    val t0 = System.nanoTime()
    val out = try Right(tracer.span(name)(body)) catch { case e: Exception => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (before != null) fs += name -> FsDelta(before, Files.listing(fsRoot))
    wall += dt
    val err = out.flatMap(v => try Right(check(v)) catch { case e: Exception => Left(e) })
    err match {
      case Right(_) =>
        if (into != null) into += dt
        rows += n
      case Left(e) =>
        failed += 1
        if (failures.size < 5) failures += s"$name: $e"
    }
  }
}

/** Files an op left behind: new (or rewritten) files and removed ones. */
final case class FsDelta(written: Map[String, Long], deleted: Int) {
  def bytes: Long = written.values.sum
}

object FsDelta {
  def apply(before: Map[String, Long], after: Map[String, Long]): FsDelta =
    FsDelta(after.filter { case (p, n) => !before.get(p).contains(n) }, before.keySet.count(!after.contains(_)))
}

object Loop {
  final case class Result(
      writes: Seq[Double], reads: Seq[Double], wall: Double, rows: Long,
      attempted: Long, failed: Long, failures: Seq[String], heapPeakMb: Double, elapsed: Double,
      fs: Seq[(String, FsDelta)]) {
    def rowsPerS: Double = rows / wall
  }

  /** Drive `inst` for `seconds` of wall time, one cycle at a time. */
  def run(inst: Instance, seconds: Double, tracer: Tracer): Result = {
    val ops = new Ops(tracer, inst.dir)
    val heap = new HeapPeak
    System.gc()
    heap.start()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try while (elapsed < seconds) inst.step(ops)
    finally heap.finish()
    Result(ops.writes.toSeq, ops.reads.toSeq, ops.wall, ops.rows, ops.attempted, ops.failed,
      ops.failures.toSeq, heap.peakMb, elapsed, ops.fs.toSeq)
  }
}

/** Peak used heap, sampled every few milliseconds. */
final class HeapPeak extends Thread("heap-peak") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var peak = 0L
  private val mem = ManagementFactory.getMemoryMXBean
  private def sample(): Unit = peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  override def run(): Unit = while (running) { sample(); Thread.sleep(2) }
  def finish(): Unit = { running = false; join(); sample() }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile a sample supports: the highest nearest-rank
    * percentile with at least 10 samples beyond it, but never below p75,
    * so the tail never sits at or below the median. Returns (percentile,
    * value, samples beyond it); fewer than 10 beyond means the sample is
    * too small for the rule, and p75 stands in.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    require(n > 0, "tail of no samples")
    // nearest rank of p75 is ceil(0.75 n); the rule's rank is n - 10
    val rank = math.max(n - 10, math.ceil(0.75 * n).toInt)
    (100.0 * rank / n, xs.sorted.apply(rank - 1), n - rank)
  }
}

final case class Metric(value: Double, unit: String)

object EndToEnd {
  def metrics(r: Loop.Result, end: End, setupS: Double): Seq[(String, Metric)] = {
    val (wp, wt, wb) = Stats.tail(r.writes)
    val (rp, rt, rb) = Stats.tail(r.reads)
    println(f"latency: write n=${r.writes.size} tail=p$wp%.1f ($wb beyond), read n=${r.reads.size} tail=p$rp%.1f " +
      f"($rb beyond), ops wall ${r.wall}%.3f s of ${r.elapsed}%.3f s")
    def series(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    println(s"write latencies (s, in op order): ${series(r.writes)}")
    println(s"read latencies (s, in op order): ${series(r.reads)}")
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "rows_per_s" -> Metric(r.rowsPerS, "rows/s"),
      "write_p50_s" -> Metric(Stats.median(r.writes), "s"),
      "write_tail_s" -> Metric(wt, "s"),
      "read_p50_s" -> Metric(Stats.median(r.reads), "s"),
      "read_tail_s" -> Metric(rt, "s"),
      "heap_peak_mb" -> Metric(r.heapPeakMb, "MB"),
      "stored_bytes_per_row" -> Metric(end.storedBytesPerRow, "B/row")) ++
      end.recall.map(v => "recall_at_10" -> Metric(v, "ratio"))
  }
}

object Report {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** The result line over every loop a run drove and every instance it
    * checked.
    */
  def line(loops: Seq[Loop.Result], ends: Seq[End], metrics: Seq[(String, Metric)]): String = {
    val attempted = loops.map(_.attempted).sum
    val failed = loops.map(_.failed).sum
    val correct = ends.forall(_.correct)
    loops.flatMap(_.failures).foreach(f => println(s"failed op: $f"))
    ends.flatMap(_.notes).foreach(n => println(s"note: $n"))
    println(s"ops: attempted $attempted, failed $failed, end-of-run checks ${if (correct) "passed" else "FAILED"}")
    val ms = metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": ${correct && failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
