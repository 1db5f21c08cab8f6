package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is the closed-loop op it ran under;
  * `parent` is 0 for an op's root span.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long, start: Long, startMs: Long) {
  var end: Long = start
  var endMs: Long = startMs
  def seconds: Double = (end - start) / 1e9
}

/** Spans wrap the benchmark's calls into each layer's public functions.
  * Spark jobs an action issues inside a span carry the span id as their
  * job group, so the listener can book them to it. Spans stay in memory
  * and are written out when the run ends.
  */
final class Tracer private (spark: SparkSession) {
  val enabled: Boolean = spark != null
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var opId = 0L
  val listener: SparkEvents = if (enabled) new SparkEvents else null

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.plans)
  }

  def beginOp(id: Long): Unit = opId = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id), opId, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      stack ::= s
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every event posted so far has been handled once this returns. */
  def drain(): Unit = if (enabled) PerfbenchAccess.drain(spark.sparkContext)

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener.plans)
  }

  /** Spans of `name`, in issue order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The span ids under `root`, itself included. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(k => go(k.id)).toSet + id
    go(root.id)
  }

  def dump(f: File): Unit = if (enabled) {
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally out.close()
  }
}

object Tracer {
  val off: Tracer = new Tracer(null)
  def on(spark: SparkSession): Tracer = new Tracer(spark)
}

final case class JobRec(id: Int, group: Option[Int], execId: Option[Long], start: Long, stages: Seq[Int]) {
  @volatile var end: Long = start
}

final class StageRec(val id: Int, val scopes: Seq[String]) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  def readsFile(formats: Set[String]): Boolean =
    scopes.exists(s => formats.exists(f => s.startsWith(s"Scan $f")))
}

/** What one SQL execution's final physical plan says about itself. */
final case class PlanRec(broadcastJoin: Boolean, scanRows: Long, scanBytes: Long)

/** Job/stage/task counters from a [[SparkListener]], and plan facts from a
  * [[QueryExecutionListener]], joined by SQL execution id.
  */
final class SparkEvents extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  // the two listeners run on different bus queues, so either side of the
  // qe → execution id join can arrive first
  private val execOf = new ConcurrentHashMap[QueryExecution, Long]()
  private val planOf = new ConcurrentHashMap[QueryExecution, PlanRec]()

  /** Scans of these formats are the day files an ETL job extracts. */
  val scanFormats = Set("csv", "text")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).flatMap(_.toIntOption)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
    jobs.put(e.jobId, JobRec(e.jobId, group, exec, e.time, e.stageIds))
    e.stageInfos.foreach { si =>
      stages.putIfAbsent(si.stageId, new StageRec(si.stageId,
        si.rddInfos.flatMap(_.scope.map(_.name))))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stages.get(e.stageId)
    if (m != null && s != null) s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(PerfbenchAccess.queryOf(end)).foreach(execOf.put(_, end.executionId))
    case _ =>
  }

  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planOf.put(qe, describe(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def isDayScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => scanFormats.exists(f => s.nodeName.startsWith(s"Scan $f"))
    case _ => false
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  private def describe(plan: SparkPlan): PlanRec = {
    val all = nodes(plan).distinct
    val scans = all.filter(isDayScan)
    PlanRec(
      broadcastJoin = all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      scanBytes = scans.map(metric(_, "filesSize")).sum)
  }

  /** Jobs booked to any of `spanIds`. */
  def jobsOf(spanIds: Set[Int]): Seq[JobRec] =
    jobs.values.asScala.filter(_.group.exists(spanIds)).toSeq.sortBy(_.id)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
      .filter(_.tasks > 0)

  /** One plan per SQL execution the jobs ran under. */
  def plansOf(js: Seq[JobRec]): Seq[PlanRec] = {
    val ids = js.flatMap(_.execId).toSet
    execOf.asScala.toSeq.collect { case (qe, id) if ids(id) && planOf.containsKey(qe) => id -> planOf.get(qe) }
      .groupBy(_._1).values.map(_.head._2).toSeq
  }
}
