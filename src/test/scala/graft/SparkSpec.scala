package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Failpoints

/** Shared local session for all suites (one JVM, one session). */
object SparkSpec {
  lazy val session: SparkSession = Session.local(4)

  final case class Work(jobs: Int, stageTasks: Seq[Int])
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  def sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs `body` runs on this thread (its own job group, so
    * work other threads leave running is not counted) and the task count
    * of each stage they submit, in submission order.
    */
  def sparkWork(body: => Any): SparkSpec.Work = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    def ours(p: java.util.Properties) = Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (ours(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties)) stageTasks.add(ss.stageInfo.numTasks)
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      body
      ListenerBusAccess.drain(sc)
      import scala.jdk.CollectionConverters._
      SparkSpec.Work(jobs.get, stageTasks.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The Spark jobs `body` runs on this thread, see [[sparkWork]]. */
  def jobs(body: => Any): Int = sparkWork(body).jobs

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rowsOf(df).sortBy(_.mkString("|"))

  /** Crash `op` right after each durable step a crash-free run of it
    * takes, every time on a fresh `fixture()` root. `inWindow(root,
    * step, last)` inspects the open window (`last`: the crash hit the
    * final step, so the op had already completed); then `op` is
    * replayed and must converge on the crash-free run's `result`.
    * Returns the crash-free steps (paths relative to the fixture root,
    * "" for the root itself) and result.
    */
  def crashEveryStep[T](fixture: () => String, op: String => Unit, result: String => T)(
      inWindow: (String, Failpoints.Step, Boolean) => Unit): (Seq[Failpoints.Step], T) = {
    val ref = fixture()
    val steps = Failpoints.steps(op(ref)).map { st =>
      assert(st.path.startsWith(ref), s"$st lies outside the fixture root $ref")
      st.copy(path = st.path.stripPrefix(ref))
    }
    val want = result(ref)
    for ((st, i) <- steps.zipWithIndex) {
      val root = fixture()
      Failpoints.crashAfter(root + st.path, st.nth)(op(root))
      inWindow(root, st, i == steps.size - 1)
      op(root)
      assert(result(root) == want, s"replay after a crash at $st diverged")
    }
    (steps, want)
  }
}
