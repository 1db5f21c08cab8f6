package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.operators.Transformer
import graft.runner.JobRunner
import graft.sinks.{ConnectorSink, LogStore, MergeRouter}
import graft.spec.Specs._

/** `etl_reload`: daily reload jobs through [[JobRunner.runAll]], the
  * reference's own use case. Each job extracts one generated day file —
  * CSV and fixed-width TXT families alternate — transforms it with
  * expressions, value mappings and coercions, routes it in `Update` mode
  * against the [[LogStore]] state, loads it through a [[ConnectorSink]]
  * handler and appends the results to the log.
  *
  * Why: row work in sources, operators/expr and sinks dominates — each
  * job carries enough rows that they, not job launches, set its wall
  * time — while ManifestStore and ext are never called, so a store-kernel
  * change must show no change here.
  */
object EtlReload extends Workload {
  val name = "etl_reload"

  /** Job families; even ones read CSV, odd ones fixed-width TXT. */
  val Families = 2
  /** Rows per day file. */
  val RowsPerJob = 25000
  /** Share of a day's rows whose keys were loaded on earlier days. */
  val UpdateShare = 0.3

  def jobName(f: Int): String = s"partners_$f"
  def pkOf(f: Int, n: Int): String = f"P$f%d$n%09d"
  /** The destination id the handler assigns: a pure function of the pk. */
  def idOf(pk: String): Long = pk.substring(1, 2).toLong * 1000000000L + pk.substring(2).toLong
  def idCol(pk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(pk, 2, 1).cast("long") * lit(1000000000L) + substring(pk, 3, 9).cast("long")

  val Cities: Map[String, String] = (0 until 24).map(i => f"C$i%03d" -> s"City ${(65 + i).toChar}").toMap
  val Countries: Map[String, String] = Map("PE" -> "Peru", "CL" -> "Chile", "CO" -> "Colombia", "EC" -> "Ecuador")
  val Categories: Map[String, String] = Map("RET" -> "retail", "WHO" -> "wholesale", "GOV" -> "government")

  /** The source layout: CSV reads the names, TXT the positions too. */
  val Columns: Seq[FwColumn] = Seq(
    FwColumn("ref", position = 1, length = 11),
    FwColumn("name", position = 12, length = 24),
    FwColumn("street", position = 36, length = 28),
    FwColumn("city", position = 64, length = 4),
    FwColumn("country", position = 68, length = 2),
    FwColumn("category", position = 70, length = 3),
    FwColumn("amount", position = 73, length = 12, align = "rjust", dataType = "double"),
    FwColumn("qty", position = 85, length = 6, align = "rjust", fillChar = "0", dataType = "int"),
    FwColumn("day", position = 91, length = 10, dataType = "date"),
    FwColumn("active", position = 101, length = 1),
    FwColumn("email", position = 102, length = 30),
    FwColumn("note", position = 132, length = 20))

  val Transform: TransformSpec = TransformSpec(
    fields = Seq(
      FieldSpec("name", expr = Some("upper(trim(name))")),
      FieldSpec("street", expr = Some("initcap(street)")),
      FieldSpec("city", mapping = Some(MappingSpec(Cities, default = Some("OTHER")))),
      FieldSpec("country", mapping = Some(MappingSpec(Countries, returnNull = true))),
      FieldSpec("category", mapping = Some(MappingSpec(Categories))),
      FieldSpec("amount", expr = Some("round(amount * 1.18, 2)"), fieldType = "float"),
      FieldSpec("qty", fieldType = "int"),
      FieldSpec("total", expr = Some("amount * qty"), fieldType = "float"),
      FieldSpec("day", fieldName = Some("date_order"), fieldType = "date"),
      FieldSpec("active", expr = Some("active = 'Y'"), fieldType = "boolean"),
      FieldSpec("email", expr = Some("lower(email)")),
      FieldSpec("note", expr = Some("concat_ws(' ', category, note)"))),
    reprocess = ReprocessMode.Update,
    pkField = Some("ref"))

  def setup(ctx: Ctx): Instance = {
    val inst = new Inst(ctx)
    require(!new File(inst.logPath).exists(), s"${inst.logPath} exists before the first write")
    // the base day of every family: afterwards each job's update share
    // finds keys loaded on an earlier day, and pays a state lookup
    val base = new Ops(Tracer.off, ctx.dir)
    inst.step(base)
    require(base.failed == 0, s"set-up jobs failed: ${base.failures.mkString("; ")}")
    inst
  }

  /** The in-benchmark connector: deterministic ids, one rendered payload
    * per row as an RPC client would send, and counts of what it did.
    */
  class Handler(inserted: LongAccumulator, updated: LongAccumulator, payload: LongAccumulator)
      extends ConnectorSink.Handler {
    private def render(r: Row): Int = r.toSeq.iterator.map(v => String.valueOf(v).length + 1).sum
    def create(rows: Iterator[Row]): Iterator[ConnectorSink.LoadResult] = rows.map { r =>
      val pk = r.getAs[String]("pk")
      inserted.add(1); payload.add(render(r))
      ConnectorSink.LoadResult(pk, "insert", Some(idOf(pk)), None)
    }
    def update(rows: Iterator[Row]): Iterator[ConnectorSink.LoadResult] = rows.map { r =>
      updated.add(1); payload.add(render(r))
      ConnectorSink.LoadResult(r.getAs[String]("pk"), "update", Some(r.getAs[Long](MergeRouter.IdCol)), None)
    }
    def delete(rows: Iterator[Row]): Iterator[ConnectorSink.LoadResult] =
      rows.map(r => ConnectorSink.LoadResult(r.getAs[String]("pk"), "delete", None, None))
  }

  /** The traced run's connector: the same handler, timing the task time it
    * spends on each row it loads.
    */
  final class TimedHandler(inserted: LongAccumulator, updated: LongAccumulator, payload: LongAccumulator,
      busyNs: LongAccumulator) extends Handler(inserted, updated, payload) {
    private def timed[T](it: Iterator[T]): Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = { val t0 = System.nanoTime(); val r = it.next(); busyNs.add(System.nanoTime() - t0); r }
    }
    override def create(rows: Iterator[Row]): Iterator[ConnectorSink.LoadResult] = timed(super.create(rows))
    override def update(rows: Iterator[Row]): Iterator[ConnectorSink.LoadResult] = timed(super.update(rows))
  }

  final class Inst(ctx: Ctx) extends Instance {
    private val spark = ctx.spark
    private val rng = ctx.rng
    val dir: File = ctx.dir
    val logPath: String = ctx.path("log")
    private val daysDir = new File(dir, "days")
    daysDir.mkdirs()
    /** Model: family f has loaded exactly the keys 0 until loaded(f). */
    private val loaded = Array.fill(Families)(0)
    private var days = 0L
    private var rowsLoaded = 0L
    private var insertedTotal = 0L
    private var updatedTotal = 0L
    private val inserted = spark.sparkContext.longAccumulator("inserted")
    private val updated = spark.sparkContext.longAccumulator("updated")
    private val payload = spark.sparkContext.longAccumulator("payload")
    private val handler = new Handler(inserted, updated, payload)
    private val busyNs = spark.sparkContext.longAccumulator("handler busy")
    private val timedHandler = new TimedHandler(inserted, updated, payload, busyNs)

    /** One day: a job of every family in turn — CSV, then TXT — each
      * after the state lookup it pays. Whole days keep every run's mix of
      * formats the same.
      */
    def step(ops: Ops): Unit = {
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(days)
      for (f <- 0 until Families) job(ops, f, date)
      days += 1
    }

    private def job(ops: Ops, f: Int, date: java.time.LocalDate): Unit = {
      val (file, nUpd, nIns) = writeDay(f, date)
      val job = JobSpec(jobName(f), date,
        Left(FileResource(file.getPath, if (f % 2 == 0) "csv" else "txt", Columns)), Transform)
      if (loaded(f) > 0) readState(ops, f)
      // traced runs time the transform's plan building on its own; inside
      // the job it is fused into JobRunner.run
      if (ops.tracer.enabled) {
        val extracted = JobRunner.extract(spark, job)
        ops.tracer.span("operators.transform")(Transformer(extracted, Transform))
      }
      inserted.reset(); updated.reset(); payload.reset()
      ops.write("etl.job", RowsPerJob)(
        JobRunner.runAll(spark, Seq(job), logPath = Some(logPath),
          load = load(ops.tracer, if (ops.tracer.enabled) timedHandler else handler)))({ outcomes =>
        Check(outcomes.map(_.state) == Seq("done"), s"job ${job.name} on $date: $outcomes")
        Check(inserted.value == nIns && updated.value == nUpd,
          s"job ${job.name} on $date loaded ${inserted.value} inserts / ${updated.value} updates, model says $nIns / $nUpd")
        Check(payload.value > 0, "handler rendered no payload")
      })
      loaded(f) += nIns
      rowsLoaded += RowsPerJob
      insertedTotal += nIns
      updatedTotal += nUpd
      file.delete()
    }

    private def load(tracer: Tracer, h: Handler)(r: JobRunner.JobResult): Unit = {
      val results = tracer.span("sinks.connector")(ConnectorSink(r.routed, h))
      tracer.span("sinks.log_append")(LogStore.append(spark, logPath, ConnectorSink.toLog(results, r.job)))
    }

    /** The state lookup the next job of family `f` pays, materialised. */
    private def readState(ops: Ops, f: Int): Unit = {
      val want = loaded(f).toLong
      ops.read("sinks.state_read", 0)(
        LogStore.stateFor(LogStore.readOrEmpty(spark, logPath), jobName(f)).count()) { n =>
        Check(n == want, s"state of ${jobName(f)} has $n keys, model has $want")
      }
    }

    /** Generate family `f`'s file for `date`: a fixed share of keys loaded
      * earlier (updates), the rest new. Returns (file, updates, inserts).
      */
    private def writeDay(f: Int, date: java.time.LocalDate): (File, Int, Int) = {
      val nUpd = if (loaded(f) == 0) 0 else math.min(loaded(f), (RowsPerJob * UpdateShare).toInt)
      val nIns = RowsPerJob - nUpd
      val keys = new Array[Int](RowsPerJob)
      val seen = new java.util.BitSet(loaded(f))
      var i = 0
      while (i < nUpd) {
        val k = rng.nextInt(loaded(f))
        if (!seen.get(k)) { seen.set(k); keys(i) = k; i += 1 }
      }
      while (i < RowsPerJob) { keys(i) = loaded(f) + (i - nUpd); i += 1 }
      for (j <- keys.length - 1 to 1 by -1) {
        val s = rng.nextInt(j + 1); val t = keys(j); keys(j) = keys(s); keys(s) = t
      }
      val csv = f % 2 == 0
      val file = new File(daysDir, s"${jobName(f)}_$date.${if (csv) "csv" else "txt"}")
      val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
      try {
        val sb = new java.lang.StringBuilder(256)
        if (csv) out.write((Columns.map(_.name).mkString(",") + "\n").getBytes(StandardCharsets.UTF_8))
        for (k <- keys) {
          sb.setLength(0)
          val vals = Seq(
            pkOf(f, k),
            s"Partner ${k % 9973} ${(65 + k % 26).toChar}",
            s"street ${rng.nextInt(9000) + 100} ${(97 + rng.nextInt(26)).toChar}",
            f"C${rng.nextInt(30)}%03d",
            Seq("PE", "CL", "CO", "EC", "AR")(rng.nextInt(5)),
            Seq("RET", "WHO", "GOV", "EDU")(rng.nextInt(4)),
            f"${rng.nextInt(10000000) / 100.0}%.2f",
            (rng.nextInt(500) + 1).toString,
            date.toString,
            if (rng.nextInt(10) < 8) "Y" else "N",
            s"User.${k}@Example.com",
            s"n${rng.nextInt(100000)}")
          if (csv) sb.append(vals.mkString(","))
          else Columns.zip(vals).foreach { case (c, v) =>
            val pad = c.length - v.length
            if (c.align == "rjust") { for (_ <- 0 until pad) sb.append(c.fillChar); sb.append(v) }
            else { sb.append(v); for (_ <- 0 until pad) sb.append(' ') }
          }
          sb.append('\n')
          out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
        }
      } finally out.close()
      (file, nUpd, nIns)
    }


    def finish(): End = {
      val log = LogStore.read(spark, logPath)
      val digests = (0 until Families).map { f =>
        LogStore.stateFor(log, jobName(f))
          .agg(count(lit(1)), coalesce(sum(col("model_id")), lit(0L)),
            sum(when(col("model_id") =!= idCol(col("pk")), 1).otherwise(0)))
          .collect().head
      }
      val ok = (0 until Families).forall { f =>
        val d = digests(f)
        val n = loaded(f).toLong
        val idSum = (0 until loaded(f)).iterator.map(k => idOf(pkOf(f, k))).sum
        d.getLong(0) == n && d.getLong(1) == idSum && d.getLong(2) == 0L
      }
      val logRows = log.count()
      val errors = log.filter(col("level") === "error").count()
      val (bytes, _) = Files.usage(new File(logPath))
      End(
        correct = ok && logRows == rowsLoaded && errors == 0,
        storedBytesPerRow = bytes.toDouble / logRows,
        counters = Map("jobs" -> (days * Families).toDouble, "sinks.rows_inserted" -> insertedTotal.toDouble,
          "sinks.rows_updated" -> updatedTotal.toDouble, "sinks.load_errors" -> errors.toDouble,
          "sinks.load_stage_s" -> busyNs.value / 1e9),
        notes = if (ok && logRows == rowsLoaded && errors == 0) Nil
          else Seq(s"final log differs from the model: state ${digests.mkString(" ")}, rows $logRows vs $rowsLoaded, errors $errors"))
    }
  }
}
