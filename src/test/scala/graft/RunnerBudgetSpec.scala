package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.operators.Transformer
import graft.runner.JobRunner
import graft.sinks.{ConnectorSink, LogStore, MergeRouter}
import graft.spec.Specs._

/** A connector whose destination ids are a pure function of the pk. */
object PkIdHandler extends ConnectorSink.Handler {
  private def id(r: Row): Long = r.getAs[String]("pk").substring(1).toLong
  def create(rows: Iterator[Row]) = rows.map(r => ConnectorSink.LoadResult(r.getAs[String]("pk"), "insert", Some(id(r)), None))
  def update(rows: Iterator[Row]) =
    rows.map(r => ConnectorSink.LoadResult(r.getAs[String]("pk"), "update", Some(r.getAs[Long](MergeRouter.IdCol)), None))
  def delete(rows: Iterator[Row]) = rows.map(r => ConnectorSink.LoadResult(r.getAs[String]("pk"), "delete", None, None))
}

/** Spark job budgets and routing of an ETL job on a day file of a few MB
  * (one input partition): building [[JobRunner.run]]'s plan runs no job,
  * the load stage runs on several tasks after the routing-key spread, the
  * route joins the key state co-partitioned with the spread rows (no
  * broadcast), and the spread changes no routed row. A file under the
  * spread's size threshold, or an input already split across the cores,
  * keeps one stage from scan to log and a broadcast route join.
  */
class RunnerBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val Date = java.time.LocalDate.of(2024, 1, 15)
  private val Columns = Seq(
    FwColumn("ref", position = 1, length = 10),
    FwColumn("name", position = 11, length = 24),
    FwColumn("amount", position = 35, length = 12, align = "rjust", dataType = "double"),
    FwColumn("note", position = 47, length = 60))
  private val Header = Seq(FwColumn("batch", position = 2, length = 8))
  private val Footer = Seq(FwColumn("count", position = 2, length = 9, dataType = "int"))
  private val Transform = TransformSpec(
    fields = Seq(
      FieldSpec("name", expr = Some("upper(trim(name))")),
      FieldSpec("amount", expr = Some("round(amount * 1.18, 2)"), fieldType = "float"),
      FieldSpec("note", expr = Some("lower(note)"))),
    reprocess = ReprocessMode.Update,
    pkField = Some("ref"))
  /** Rows of a day file of 2.9 MB (CSV) or 3.2 MB (TXT): above twice
    * AQE's 1 MB minimum partition size, below the 4 MB open cost, so one
    * input partition.
    */
  private val DayRows = 30000

  private def pk(k: Int): String = f"P$k%09d"
  private def fields(k: Int): Seq[String] =
    Seq(pk(k), s"Partner ${k % 9973} ${(65 + k % 26).toChar}", f"${k * 37 % 1000000 / 100.0}%.2f",
      f"Note $k%09d " + new scala.util.Random(k).alphanumeric.take(45).mkString)

  private def dir(): File = {
    val d = new File(graft.Scratch.path(s"runner_budget_${java.util.UUID.randomUUID().toString.take(8)}"))
    d.mkdirs()
    d
  }

  private def writeLines(f: File, lines: Iterator[String]): File = {
    val out = new PrintWriter(f, "UTF-8")
    try lines.foreach(l => out.write(l + "\n")) finally out.close()
    f
  }

  private def csv(d: File, keys: Range, name: String = "day.csv"): File =
    writeLines(new File(d, name), Iterator(Columns.map(_.name).mkString(",")) ++
      keys.iterator.map(k => fields(k).mkString(",")))

  private def txt(d: File, keys: Range, headerFooter: Boolean): File = {
    val body = keys.iterator.map(k => Columns.zip(fields(k)).map { case (c, v) =>
      if (c.align == "rjust") v.reverse.padTo(c.length, ' ').reverse else v.padTo(c.length, ' ')
    }.mkString)
    writeLines(new File(d, if (headerFooter) "day_hf.txt" else "day.txt"),
      if (headerFooter) Iterator("H20240115") ++ body ++ Iterator(f"T${keys.size}%09d") else body)
  }

  private def requireNarrow(f: File): File = {
    val min = spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val open = spark.sessionState.conf.filesOpenCostInBytes
    assert(f.length >= 2 * min && f.length < open, s"$f is ${f.length} B, not in [${2 * min}, $open)")
    f
  }

  private def job(name: String, file: File, mode: ReprocessMode = ReprocessMode.Update): JobSpec = {
    val hf = file.getName.endsWith("_hf.txt")
    JobSpec(name, Date, Left(FileResource(file.getPath, if (file.getName.endsWith(".txt")) "txt" else "csv",
      Columns, headerColumns = if (hf) Header else Nil, footerColumns = if (hf) Footer else Nil)),
      Transform.copy(reprocess = mode))
  }

  /** A log whose state for `jobName` holds every third key of the day. */
  private def seededLog(jobName: String): String = {
    val log = new File(dir(), "log").getPath
    LogStore.append(spark, log, spark.range(0, DayRows, 3).select(
      lit(jobName).as("job"), format_string("P%09d", $"id").as("pk"), $"id".as("model_id"),
      lit("info").as("level"), lit("seed").as("message"), current_timestamp().as("ts")))
    log
  }

  private def load(log: String)(r: JobRunner.JobResult): Unit =
    LogStore.append(spark, log, ConnectorSink.toLog(ConnectorSink(r.routed, PkIdHandler), r.job))

  private def logFiles(log: String, jobName: String): Set[String] =
    Option(new File(log, s"job=$jobName").list()).toSeq.flatten.filter(_.endsWith(".parquet")).toSet

  /** The root of `df`'s executed plan, with AQE's wrapper taken off; `df`
    * must have run.
    */
  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Every node of `df`'s executed plan, query stages and reused
    * exchanges opened; `df` must have run.
    */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => p.children.flatMap(walk)
    })
    walk(executed(df))
  }

  /** Shuffle exchanges between the scans of the files under `path` and the
    * root of `df`'s executed plan, one entry per scan; `df` must have run.
    */
  private def exchangesAbove(df: DataFrame, path: File): Seq[Int] = {
    def walk(p: SparkPlan): Seq[Int] = p match {
      case s: FileSourceScanExec =>
        if (s.relation.location.inputFiles.exists(_.contains(path.getPath))) Seq(0) else Nil
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => p.children.flatMap(walk).map(_ + (if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0))
    }
    walk(executed(df))
  }

  /** Whether `df`'s route joins the state co-partitioned: a shuffled hash
    * join built from the spread side, and nothing broadcast.
    */
  private def coPartitioned(df: DataFrame): Boolean = {
    val plan = nodes(df)
    plan.exists { case j: ShuffledHashJoinExec => j.buildSide == BuildLeft; case _ => false } &&
      !plan.exists(p => p.isInstanceOf[BroadcastExchangeExec] || p.isInstanceOf[BroadcastHashJoinExec])
  }

  private def broadcastJoin(df: DataFrame): Boolean =
    nodes(df).exists(_.isInstanceOf[BroadcastHashJoinExec])

  /** Runs one job through [[JobRunner.runAll]] with the load the
    * benchmark runs: the connector, then the log append.
    */
  private def runJob(j: JobSpec, log: String): SparkSpec.Work = {
    var outcomes = Seq.empty[JobRunner.JobOutcome]
    val work = sparkWork { outcomes = JobRunner.runAll(spark, Seq(j), logPath = Some(log), load = load(log)) }
    assert(outcomes.map(_.state) == Seq("done"), outcomes)
    work
  }

  test("building JobRunner.run's plan runs no Spark job, for CSV, TXT and TXT with a header and footer") {
    val d = dir()
    for (file <- Seq(csv(d, 0 until DayRows), txt(d, 0 until DayRows, headerFooter = false),
        txt(d, 0 until DayRows, headerFooter = true)).map(requireNarrow)) withClue(s"${file.getName}: ") {
      val j = job("plan_" + file.getName.replace('.', '_'), file)
      val log = seededLog(j.name)
      assert(jobs(JobRunner.run(spark, j, Some(log))) == 0)
      assert(jobs(JobRunner.run(spark, j, None)) == 0, "no log")
    }
  }

  test("a narrow day file loads on several tasks at a pinned job count, at most shuffle.partitions log files") {
    val d = dir()
    val cases = Seq(
      csv(d, 0 until DayRows) -> 3,
      txt(d, 0 until DayRows, headerFooter = false) -> 3,
      // header and footer: one bounds aggregate (its shuffle and its broadcast)
      txt(d, 0 until DayRows, headerFooter = true) -> 5)
    for ((file, pinned) <- cases) withClue(s"${requireNarrow(file).getName}: ") {
      val j = job("load_" + file.getName.replace('.', '_'), file)
      val log = seededLog(j.name)
      val before = logFiles(log, j.name)
      val work = runJob(j, log)
      assert(work.jobs == pinned, work)
      assert(work.stageTasks.last >= 2, s"load stage tasks: $work")
      val written = logFiles(log, j.name) -- before
      assert(written.nonEmpty && written.size <= spark.conf.get("spark.sql.shuffle.partitions").toInt, written)
      assert(LogStore.stateFor(LogStore.read(spark, log), j.name).count() == DayRows)
    }
  }

  test("a spread job joins its key state co-partitioned: one exchange above each scan, nothing broadcast") {
    val d = dir()
    for (file <- Seq(csv(d, 0 until DayRows), txt(d, 0 until DayRows, headerFooter = false)).map(requireNarrow))
      withClue(s"${file.getName}: ") {
        val j = job("copart_" + file.getName.replace('.', '_'), file)
        val log = seededLog(j.name)
        val results = ConnectorSink(JobRunner.run(spark, j, Some(log)).routed, PkIdHandler)
        results.collect()
        assert(coPartitioned(results), executed(results))
        assert(exchangesAbove(results, file) == Seq(1))
        assert(exchangesAbove(results, new File(log)) == Seq(1))
      }
  }

  test("a file under the size threshold, or an input split across the cores, is not spread") {
    val d = dir()
    val small = csv(d, 0 until 1000, "small.csv")
    val splitDir = new File(d, "split")
    splitDir.mkdirs()
    val cores = spark.sparkContext.defaultParallelism
    val per = DayRows / 2
    (0 until cores).foreach(i => csv(splitDir, i * per until (i + 1) * per, s"part$i.csv"))
    assert(new File(splitDir, "part0.csv").length >= spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    for ((input, scanned) <- Seq(small -> small, splitDir -> new File(splitDir, "part0.csv"))) withClue(s"${input.getName}: ") {
      val j = job("wide_" + input.getName.replace('.', '_'), input)
      val log = seededLog(j.name)
      assert(runJob(j, log).jobs == 3)
      val results = ConnectorSink(JobRunner.run(spark, j, Some(log)).routed, PkIdHandler)
      results.collect()
      assert(exchangesAbove(results, scanned) == Seq(0))
      assert(broadcastJoin(results), executed(results))
    }
  }

  test("the spread changes no routed row in any reprocess mode; Delete routes through one exchange") {
    val file = requireNarrow(csv(dir(), 0 until DayRows))
    for (mode <- Seq(ReprocessMode.Insert, ReprocessMode.Update, ReprocessMode.NoUpdate,
        ReprocessMode.OnlyUpdate, ReprocessMode.Delete)) withClue(s"$mode: ") {
      val j = job("route_" + mode.toString.toLowerCase, file, mode)
      val log = seededLog(j.name)
      val routed = JobRunner.run(spark, j, Some(log)).routed
      val unspread = MergeRouter.route(Transformer(JobRunner.extract(spark, j), j.transform),
        LogStore.stateFor(LogStore.read(spark, log), j.name), "pk", mode)
      val got = sortedRows(routed)
      assert(got.size >= DayRows)
      assert(got == sortedRows(unspread))
      val results = ConnectorSink(routed, PkIdHandler)
      results.collect()
      assert(exchangesAbove(results, file) == Seq(1))
      if (mode == ReprocessMode.Delete) assert(broadcastJoin(results), executed(results))
      else assert(coPartitioned(results), executed(results))
    }
    val delete = job("route_delete_load", file, ReprocessMode.Delete)
    assert(runJob(delete, seededLog(delete.name)).jobs == 4)
  }

  /** A log of `jobName` that holds, over the day's keys 0 until DayRows:
    * two `info` rows with different ids for every third key (the smaller,
    * the key itself, must win); `error` rows for keys with no `info` row;
    * `info` rows with a null id; and `info` rows for keys past the day.
    * A second job's rows sit in the same log.
    */
  private def messyLog(jobName: String): String = {
    val log = new File(dir(), "log").getPath
    def rows(ids: org.apache.spark.sql.Dataset[java.lang.Long], job: String, id: org.apache.spark.sql.Column,
        level: String) = ids.select(lit(job).as("job"), format_string("P%09d", $"id").as("pk"),
      id.cast("long").as("model_id"), lit(level).as("level"), lit("seed").as("message"), current_timestamp().as("ts"))
    val day = spark.range(0, DayRows)
    LogStore.append(spark, log, Seq(
      rows(day.filter($"id" % 3 === 0), jobName, $"id" + 1000000, "info"),
      rows(day.filter($"id" % 3 === 0), jobName, $"id", "info"),
      rows(day.filter($"id" % 3 =!= 0 && $"id" % 5 === 1), jobName, $"id" + 7, "error"),
      rows(day.filter($"id" % 3 =!= 0 && $"id" % 7 === 2), jobName, lit(null), "info"),
      rows(spark.range(DayRows, DayRows + 5000), jobName, $"id", "info"),
      rows(day, jobName + "_other", $"id" + 500, "info")).reduce(_ unionByName _))
    log
  }

  /** A log that holds only another job's rows: no partition for `jobName`. */
  private def otherJobLog(jobName: String): String = {
    val log = new File(dir(), "log").getPath
    LogStore.append(spark, log, spark.range(0, DayRows, 2).select(lit(jobName + "_other").as("job"),
      format_string("P%09d", $"id").as("pk"), $"id".as("model_id"), lit("info").as("level"),
      lit("seed").as("message"), current_timestamp().as("ts")))
    log
  }

  test("on a messy log, the co-partitioned route equals the broadcast route row for row in every mode") {
    val file = requireNarrow(csv(dir(), 0 until DayRows))
    val logs = Seq[(String, String => Option[String])](
      "messy" -> (n => Some(messyLog(n))), "no log" -> (_ => None), "no partition" -> (n => Some(otherJobLog(n))))
    for ((logCase, mkLog) <- logs; mode <- Seq(ReprocessMode.Insert, ReprocessMode.Update,
        ReprocessMode.NoUpdate, ReprocessMode.OnlyUpdate, ReprocessMode.Delete)) withClue(s"$logCase, $mode: ") {
      val j = job("messy_" + mode.toString.toLowerCase, file, mode)
      val log = mkLog(j.name)
      val state = log.fold(Seq.empty[(String, Long)].toDF("pk", "model_id"))(
        l => LogStore.stateFor(LogStore.read(spark, l), j.name))
      val transformed = Transformer(JobRunner.extract(spark, j), j.transform)
      val spread = MergeRouter.route(transformed.repartition(col("pk").cast("string")), state, "pk", mode)
      val unspread = MergeRouter.route(transformed, state, "pk", mode)
      val want = sortedRows(unspread)
      assert(want.size >= DayRows)
      assert(sortedRows(spread) == want)
      if (mode != ReprocessMode.Delete) assert(sortedRows(JobRunner.run(spark, j, log).routed) == want)
      if (logCase == "messy") {
        assert(coPartitioned(spread), executed(spread))
        assert(broadcastJoin(unspread), executed(unspread))
        if (mode == ReprocessMode.Update) {
          val updates = spread.filter(col(MergeRouter.ActionCol) === "update")
            .select(col("pk"), col(MergeRouter.IdCol)).as[(String, Long)].collect()
          assert(updates.length == (DayRows + 2) / 3)
          assert(updates.forall { case (pk, id) => pk.substring(1).toLong == id }, "min(model_id) must win")
        }
      }
    }
  }
}
