package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostics over the gated queries, run on the session Bench runs
  * (`SPARK_GRAFT_CPUS` cores, default 32):
  *
  *  - `time <sfDir> <passes> [k=v ...] -- <query>...` runs each query
  *    `passes` times and reports the min, with the `k=v` session configs
  *    applied over Bench's: the A/B behind config choices in Bench;
  *  - `explain <sfDir> <outDir> <suffix> <query>...` writes
  *    `<outDir>/<query>_<suffix>.txt` with the formatted plan the query
  *    executed: the evidence trail under `plans/rNN/`;
  *  - `jobs <sfDir> <query>...` runs each query once and prints the wall
  *    time of every Spark job it started: where a lifecycle gate's commit
  *    floors go (job count × per-job overhead vs real compute).
  *
  * Usage: `runMain graft.Tool <subcommand> <args>`.
  */
object Tool {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: passes :: rest =>
      val (confs, queries) = rest.span(_ != "--")
      val overrides = confs.map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
      run(overrides)(time(_, sfDir, passes.toInt, confs, queries.drop(1)))
    case "explain" :: sfDir :: outDir :: suffix :: queries =>
      run()(explain(_, sfDir, outDir, suffix, queries))
    case "jobs" :: sfDir :: queries =>
      run()(jobs(_, sfDir, queries))
    case _ =>
      System.err.println(
        "usage: graft.Tool time <sfDir> <passes> [k=v ...] -- <query>...\n" +
          "       graft.Tool explain <sfDir> <outDir> <suffix> <query>...\n" +
          "       graft.Tool jobs <sfDir> <query>...")
      sys.exit(2)
  }

  private def run(overrides: Seq[(String, String)] = Nil)(
      body: SparkSession => Unit): Unit = {
    val spark = Session.local(Session.envCpus(32), overrides)
    try body(spark) finally spark.stop()
  }

  private def time(
      spark: SparkSession, sfDir: String, passes: Int,
      confs: Seq[String], queries: Seq[String]): Unit = {
    println(s"confs: ${confs.mkString(" ")}")
    val mins = queries.map { n =>
      val times = (0 until passes).map(_ => Bench.timed(spark, n, sfDir))
      val min = Bench.bestOf(times)
      println(f"$n%-28s min=$min%7.3f  all=${times.map(t => f"$t%.2f").mkString(",")}")
      min
    }
    println(f"TOTAL min-sum ${mins.filter(_ >= 0).sum}%.3f s over ${queries.length} queries")
  }

  private def explain(
      spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, queries: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // count through df's own plan (Dataset.count() plans a separate
      // aggregate), so AQE has settled it and the dump is the final plan
      df.queryExecution.toRdd.count()
      val out = s"$outDir/${n}_$suffix.txt"
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(df.queryExecution.explainString(FormattedMode)) finally w.close()
      println(s"wrote $out")
    }
  }

  private def jobs(
      spark: SparkSession, sfDir: String, queries: Seq[String]): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (System.nanoTime(), desc, nTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc, nTasks) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, nTasks, desc))
        }
      }
    })
    queries.foreach { n =>
      rows.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async: read the rows once the bus has
      // delivered every event posted so far
      ListenerBusAccess.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val js = rows.asScala.toSeq.sortBy(_._1)
      println(f"===== $n wall=$wall%.2f s jobs=${js.size} jobWall=${js.map(_._2).sum}%.2f s tasks=${js.map(_._3).sum}")
      js.foreach { case (id, s, nt, d) =>
        println(f"  job $id%5d ${s}%7.3f s $nt%5d tasks  $d")
      }
    }
  }
}
