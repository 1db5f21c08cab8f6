package graft.perfbench

/** Per-layer metrics of a traced run. Layers are the repo's modules;
  * `store` is sources/ManifestStore plus ext/Par. Times of calls are
  * medians over the calls made; Spark and fs counters are per op. A layer
  * the workload never calls reports 0.
  */
object Layers {

  /** Every per-layer metric, with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "runner.plan_s" -> "s", "runner.spark_jobs_per_job" -> "count",
    "sources.rows_read" -> "count", "sources.bytes_read" -> "B", "sources.scan_stage_s" -> "s",
    "operators.plan_s" -> "s",
    "sinks.route_broadcast" -> "ratio", "sinks.route_stage_s" -> "s", "sinks.load_stage_s" -> "s",
    "sinks.log_append_s" -> "s", "sinks.state_read_s" -> "s",
    "sinks.rows_inserted" -> "count", "sinks.rows_updated" -> "count", "sinks.load_errors" -> "count",
    "store.merge_s" -> "s", "store.delete_s" -> "s", "store.compact_s" -> "s", "store.read_s" -> "s",
    "store.read_partitions_s" -> "s", "store.spark_jobs_per_commit" -> "count",
    "store.driver_gap_per_commit_s" -> "s", "store.partitions_touched_per_commit" -> "count",
    "store.files_per_commit" -> "count", "store.live_files" -> "count",
    "store.manifest_version" -> "count", "store.claim_retries" -> "count",
    "ext.vector_probe_s" -> "s", "ext.dedup_probe_s" -> "s", "ext.vector_append_s" -> "s",
    "ext.dedup_append_s" -> "s", "ext.partitions_probed_per_query" -> "count", "ext.recall_at_10" -> "ratio",
    "ext.candidates_per_result" -> "ratio", "ext.planted_dups_found" -> "count", "ext.planted_dups" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.driver_gap_s" -> "s",
    "fs.bytes_written" -> "B", "fs.files_written" -> "count", "fs.files_deleted" -> "count",
    "trace.overhead_ratio" -> "ratio")

  /** Root spans of the closed loop's ops, by op name. */
  val OpNames = Set("etl.job", "sinks.state_read", "store.merge", "store.delete", "store.compact",
    "store.read", "ext.probe_batch", "ext.append_day")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Milliseconds of `span` not covered by any of `jobs`' intervals. */
  private def gapMs(span: Span, jobs: Seq[JobRec]): Long = {
    val iv = jobs.map(j => (math.max(j.start, span.startMs), math.min(j.end, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = span.startMs
    for ((a, b) <- iv) {
      val s = math.max(a, cur)
      if (b > s) { covered += b - s; cur = b }
    }
    (span.endMs - span.startMs) - covered
  }

  def metrics(r: Loop.Result, end: End, t: Tracer, overheadRatio: Double): Seq[(String, Metric)] = {
    t.drain()
    val ev = t.listener
    val out = scala.collection.mutable.LinkedHashMap(Units.map { case (k, _) => k -> 0.0 }: _*)
    val ops = t.spans.filter(s => s.parent == 0 && OpNames(s.name)).toSeq
    def jobsUnder(s: Span) = ev.jobsOf(t.subtree(s))
    val opJobs = ops.map(jobsUnder)
    val allJobs = opJobs.flatten
    val allStages = ev.stagesOf(allJobs)
    val nOps = math.max(1, ops.size).toDouble

    out("spark.jobs") = allJobs.size / nOps
    out("spark.stages") = allStages.size / nOps
    out("spark.tasks") = allStages.map(_.tasks).sum / nOps
    out("spark.task_s") = allStages.map(_.runMs).sum / 1e3 / nOps
    out("spark.task_cpu_s") = allStages.map(_.cpuNs).sum / 1e9 / nOps
    out("spark.gc_s") = allStages.map(_.gcMs).sum / 1e3 / nOps
    out("spark.shuffle_write_bytes") = allStages.map(_.shuffleWrite).sum / nOps
    out("spark.shuffle_read_bytes") = allStages.map(_.shuffleRead).sum / nOps
    out("spark.driver_gap_s") = ops.zip(opJobs).map { case (s, js) => gapMs(s, js) }.sum / 1e3 / nOps
    out("fs.bytes_written") = r.fs.map(_._2.bytes.toDouble).sum / nOps
    out("fs.files_written") = r.fs.map(_._2.written.size.toDouble).sum / nOps
    out("fs.files_deleted") = r.fs.map(_._2.deleted.toDouble).sum / nOps
    def spanMed(name: String) = med(t.named(name).map(_.seconds))

    // runner, sources, operators, sinks: one ETL job per `etl.job` op;
    // each job's load is a `sinks.log_append`
    val reloads = ops.filter(_.name == "etl.job")
    val appends = t.named("sinks.log_append")
    if (appends.nonEmpty) {
      val n = appends.size.toDouble
      // a job's plan is built between its op's start and its connector call
      out("runner.plan_s") = med(reloads.flatMap { op =>
        val kids = t.spans.filter(_.parent == op.id).sortBy(_.start)
        kids.zipWithIndex.collect { case (c, i) if c.name == "sinks.connector" =>
          val from = kids.take(i).filter(_.name == "sinks.log_append").lastOption.fold(op.start)(_.end)
          (c.start - from) / 1e9
        }
      }.toSeq)
      out("runner.spark_jobs_per_job") = reloads.map(jobsUnder(_).size).sum / n
      out("operators.plan_s") = spanMed("operators.transform")
      out("sinks.log_append_s") = spanMed("sinks.log_append")
      out("sinks.state_read_s") = spanMed("sinks.state_read")
      val appendJobs = appends.map(s => ev.jobsOf(t.subtree(s)))
      // a write's command plan and its query plan share the same operator
      // metrics: keep one record per append
      val plans = appendJobs.map(js => ev.plansOf(js).sortBy(-_.scanRows).headOption)
      out("sinks.route_broadcast") = mean(plans.map(p => if (p.exists(_.broadcastJoin)) 1.0 else 0.0))
      out("sources.rows_read") = plans.map(_.fold(0.0)(_.scanRows.toDouble)).sum / n
      out("sources.bytes_read") = plans.map(_.fold(0.0)(_.scanBytes.toDouble)).sum / n
      // the day-file scan, the transform, the route probe, the connector
      // and the log write run fused in one stage; the connector's share is
      // timed inside the traced run's handler
      val stages = appendJobs.map(ev.stagesOf)
      out("sources.scan_stage_s") = stages.map(_.filter(_.readsFile(ev.scanFormats)).map(_.runMs.toDouble).sum).sum / 1e3 / n
      out("sinks.route_stage_s") = stages.map(_.filterNot(_.readsFile(ev.scanFormats)).map(_.runMs.toDouble).sum).sum / 1e3 / n
      Seq("sinks.rows_inserted", "sinks.rows_updated", "sinks.load_errors")
        .foreach(k => out(k) = end.counters.getOrElse(k, 0.0) / end.counters.getOrElse("jobs", 1.0))
      out("sinks.load_stage_s") = end.counters.getOrElse("sinks.load_stage_s", 0.0) / n
    }

    // store: one commit per merge/delete op
    val commits = ops.filter(s => s.name == "store.merge" || s.name == "store.delete")
    if (commits.nonEmpty) {
      val n = commits.size.toDouble
      out("store.merge_s") = spanMed("store.merge")
      out("store.delete_s") = spanMed("store.delete")
      out("store.compact_s") = spanMed("store.compact")
      out("store.read_s") = spanMed("store.read")
      out("store.spark_jobs_per_commit") = commits.map(jobsUnder(_).size).sum / n
      out("store.driver_gap_per_commit_s") = commits.map(s => gapMs(s, jobsUnder(s))).sum / 1e3 / n
      val commitFs = r.fs.filter { case (name, _) => name == "store.merge" || name == "store.delete" }.map(_._2)
      val dataFiles = commitFs.map(_.written.keys.filter(_.endsWith(".parquet")).toSeq)
      out("store.files_per_commit") = mean(dataFiles.map(_.size.toDouble))
      out("store.partitions_touched_per_commit") = mean(dataFiles.map(_.map(p => new java.io.File(p).getParent).distinct.size.toDouble))
    }
    out("store.read_partitions_s") = spanMed("store.read_partitions")

    // ext: probe batches and daily appends
    out("ext.vector_probe_s") = spanMed("ext.vector_probe")
    out("ext.dedup_probe_s") = spanMed("ext.dedup_probe")
    out("ext.vector_append_s") = spanMed("ext.vector_append")
    out("ext.dedup_append_s") = spanMed("ext.dedup_append")

    Seq("store.live_files", "store.manifest_version", "store.claim_retries",
      "ext.partitions_probed_per_query", "ext.recall_at_10", "ext.candidates_per_result", "ext.planted_dups_found", "ext.planted_dups")
      .foreach(k => end.counters.get(k).foreach(out(k) = _))

    out("trace.overhead_ratio") = overheadRatio
    val shape = if (out("spark.task_s") > out("spark.driver_gap_s")) "row-bound" else "floor-bound"
    println(f"trace: ${ops.size} ops, ${t.spans.size} spans, ${allJobs.size} Spark jobs; per op: task ${out("spark.task_s")}%.3f s, " +
      f"driver gap ${out("spark.driver_gap_s")}%.3f s ($shape)")
    val units = Units.toMap
    out.toSeq.map { case (k, v) => k -> Metric(v, units(k)) }
  }
}
