package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.envCpus(32)
    val spark = Session.local(cpus)
    // local-iteration filter, mirroring Verify: the driver sets no such
    // variable and always benches the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def benched = SparkEntry.queries.keySet.filter(k => only.forall(_.contains(k)))
    // Warm-up pass at the smallest SF: JIT + codegen compilation dominate
    // first executions in a fresh JVM (observed 3-10x inflation on the
    // first query to touch each operator family); timed numbers should
    // measure the engine, not the JIT.
    //
    // ENGINE queries + a small store-core sample only (r14 post-mortem):
    // warming all 104 lifecycle gates at sf0.001 cost the driver budget
    // ~15 min of commit-floor I/O that JIT does not need — their sf0.001
    // prototype builds aren't even reused at the bench SF — and that
    // overhead is what pushed the r14 post-close bench past the driver's
    // wall clock (rc 124). The sample below still JITs the store
    // machinery the whole lifecycle family shares (manifest merge/read,
    // streaming upsert, sketch/index/vector/card/sample appends).
    val lifecycleWarm = Set(
      "q46_manifest_merge", "x45_stream_upsert", "x88_card_store",
      "x114_cm_store", "x129_vector_store", "x156_index_store",
      "x195_sample_store")
    val warmDir = "/root/testdata/sf0.001"
    benched
      .filter(k => !SparkEntry.lifecycleQueries.contains(k) || lifecycleWarm(k))
      .foreach(timed(spark, _, warmDir))
    // Three timed passes, report the per-query MIN over SUCCESSFUL runs:
    // single-pass numbers in a shared JVM are GC/JIT-noise-dominated
    // (observed 3-10x spread on the same query; totals swung 37-46s with
    // min-of-2 under machine-load noise). A failed run must never
    // contribute its (fast) elapsed time — a query that failed every
    // pass reports -1 so the breakage is visible in the JSON.
    def pass(): Map[String, Double] = benched.map(k => k -> timed(spark, k, sfDir)).toMap
    // Fixed calibration probe before each pass: the same cheap aggregation
    // every round, so machine-load noise shows up as calibration drift
    // instead of masquerading as a per-query regression (the r5 driver
    // bench read 30% hot purely from external load).
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    // POLLUTION-GATED passes (r11 verdict #5): pass 3 of r11 ran 2.1×
    // under external machine load and only min-of-3 saved the artifact —
    // two polluted passes would silently corrupt every min with no flag.
    // The gate: collect passes until 3 are CLEAN (total ≤ 1.5× the best
    // collected total) or 5 have run; per-query MIN is over clean passes
    // only, and every pass carries an explicit verdict in the artifacts,
    // so a number can never silently include a loaded-machine sample.
    val timedBuf = scala.collection.mutable.ArrayBuffer[(Double, Map[String, Double])]()
    def verdicts: Seq[Boolean] = {
      val totals = timedBuf.map(t => passTotal(t._2))
      if (totals.isEmpty) Nil
      else { val best = totals.min; totals.map(_ <= 1.5 * best).toSeq }
    }
    // WALL-BUDGET STOP (r14 post-mortem): the driver kills the whole
    // process at its own timeout, losing the artifact entirely (rc 124,
    // parsed:null) — an artifact from 2 clean passes beats no artifact
    // from 5. Stop collecting extra passes once the timed wall exceeds
    // the budget, as long as ≥ 2 passes ran; the pass verdicts still
    // label anything polluted.
    val budgetSec =
      sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toDouble).getOrElse(2400.0)
    val tStart = System.nanoTime()
    def timedWall: Double = (System.nanoTime() - tStart) / 1e9
    while (timedBuf.size < 5 && verdicts.count(identity) < 3 &&
        (timedBuf.size < 2 || timedWall < budgetSec))
      timedBuf += ((calibrate(), pass()))
    val (calibs, passes) = (timedBuf.map(_._1).toSeq, timedBuf.map(_._2).toSeq)
    val clean = verdicts
    val cleanPasses = passes.zip(clean).collect { case (p, true) => p }
    val results = passes.head.keys.map(k => k -> bestOf(cleanPasses.map(_(k)))).toMap
    // the -1 failure sentinel stays visible per query but must not deflate
    // the headline total; broken queries surface as an explicit count
    val total = results.values.filter(_ >= 0).sum
    val failed = results.values.count(_ < 0)
    // The COMPLETE per-query map as a first-class committed artifact
    // (r8 verdict #1): the stdout line above is captured through a
    // bounded tail that has repeatedly truncated the middle of the map,
    // leaving regression claims only partially auditable. This file is
    // the authoritative record — full min-of-passes map, every per-pass
    // map, and the calibration probes — written where `git add` finds it.
    writeDetail(results, passes, clean, calibs, sfDir, cpus)
    def line(queries: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","passes":${clean.count(identity)},"failed":$failed,${familiesJson(results)},"pass_totals":${arr(passes.map(passTotal))},"pass_verdicts":${verdictsJson(clean)},"calib":${arr(calibs)},"queries":${qmap(queries)},"sf":"$sfDir"}"""
    val slowest = results.toSeq.sortBy(-_._2)
    println(line(slowest))
    // Repeat the headline + slowest queries as a SHORT self-contained JSON
    // line LAST: whatever the capture buffer size, this one survives whole.
    println(line(slowest.take(8)))
    spark.stop()
  }

  /** Wall seconds of one `count()` of the gated query `name` over `dir`,
    * or NaN when it throws. The failure is printed to stderr, so a NaN
    * (and the -1 it becomes in the JSON) always has a reason beside it.
    */
  def timed(spark: SparkSession, name: String, dir: String): Double = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        Double.NaN
    }
  }

  /** Min over the runs that succeeded; -1 when every run failed. A failed
    * run must never contribute its (fast) elapsed time.
    */
  def bestOf(times: Seq[Double]): Double = {
    val ok = times.filterNot(_.isNaN)
    if (ok.isEmpty) -1.0 else ok.min
  }

  // 3-decimal values: the harness that captures the stdout line keeps only
  // a bounded TAIL of stdout (r2/r3 both came back `parsed: null` with the
  // line's head — including the headline total — sliced off), so the
  // line must be as short as full query names allow
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def arr(xs: Seq[Double]): String = xs.map(f3).mkString("[", ",", "]")
  private def qmap(kvs: Seq[(String, Double)]): String = kvs
    .map { case (k, v) => "\"" + k + "\":" + (if (v.isNaN) "-1.0" else f3(v)) }
    .mkString("{", ",", "}")
  // per-pass totals over queries that succeeded in THAT pass: uniform
  // inflation across passes = load noise; one slow pass = GC/JIT blip
  private def passTotal(p: Map[String, Double]): Double = p.values.filterNot(_.isNaN).sum
  private def verdictsJson(clean: Seq[Boolean]): String =
    clean.map(c => "\"" + (if (c) "clean" else "polluted") + "\"").mkString("[", ",", "]")

  /** Engine-vs-lifecycle split (SparkEntry.lifecycleQueries): the
    * lifecycle family's wall-time is micro-batch + store-commit floors,
    * so its subtotal tracks commit-cycle count, not engine speed —
    * per-query regression signal lives in the ENGINE subtotal.
    */
  private def familiesJson(results: Map[String, Double]): String = {
    def total(in: String => Boolean): Double =
      results.collect { case (k, v) if in(k) && v >= 0 => v }.sum
    s""""engine":${f3(total(k => !SparkEntry.lifecycleQueries.contains(k)))},""" +
      s""""lifecycle":${f3(total(SparkEntry.lifecycleQueries.contains))}"""
  }

  /** Write `BENCH_DETAIL_r{NN}_c{cpus}.json` (plus the legacy
    * `BENCH_DETAIL_r{NN}.json` alias when cpus = 32, the documented main
    * run) to the repo root. The cpus suffix keeps a lower-core scaling
    * run from overwriting the 32-core map (r15 post-mortem: the 8-core
    * run clobbered the 32-core detail). Round number: `SPARK_GRAFT_ROUND`
    * if set, else 1 + the highest `BENCH_r{NN}.json` already on disk (the
    * driver commits round N's headline AFTER the round, so during round N
    * the newest committed file is N−1's and the inference is stable
    * across every in-round re-run). The inference assumes cwd = repo
    * root, which is where both the driver and the documented bench
    * invocation run; set SPARK_GRAFT_ROUND explicitly when benching from
    * elsewhere or after the round's headline landed.
    */
  private def writeDetail(
      results: Map[String, Double],
      passes: Seq[Map[String, Double]],
      clean: Seq[Boolean],
      calibs: Seq[Double],
      sfDir: String,
      cpus: Int): Unit = {
    try {
      val root = new java.io.File(".").getCanonicalFile
      val prior = Option(root.listFiles()).getOrElse(Array.empty)
        .flatMap { f =>
          val m = "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName)
          m.map(_.group(1).toInt)
        }
      val round = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
        .getOrElse(if (prior.isEmpty) 1 else prior.max + 1)
      def byName(m: Map[String, Double]): String = qmap(m.toSeq.sortBy(_._1))
      // cold-vs-steady cost visibility (r15 verdict #5): with per-JVM
      // ProtoStores, pass 1 pays every prototype build and later passes
      // hardlink-clone them — so the min map measures each gate's
      // mutation/probe subject, not the scaffold rebuild. Record both
      // totals first-class so that convention stays auditable per round:
      // build_pass_total = pass 1 (carries the proto builds);
      // steady_pass_total = best CLEAN pass after it (or pass 1 when it
      // is the only clean pass).
      val buildPassTotal = passes.headOption.map(passTotal).getOrElse(0.0)
      val steadyCleans = passes.zip(clean).drop(1).collect { case (p, true) => passTotal(p) }
      val steadyPassTotal = if (steadyCleans.nonEmpty) steadyCleans.min else buildPassTotal
      val json =
        s"""{"round":$round,"sf":"$sfDir","cpus":$cpus,"passes":${clean.count(identity)},
           |"pass_verdicts":${verdictsJson(clean)},
           |"build_pass_total":${f3(buildPassTotal)},
           |"steady_pass_total":${f3(steadyPassTotal)},
           |${familiesJson(results)},
           |"calib":${arr(calibs)},
           |"min":${byName(results)},
           |"per_pass":${passes.map(byName).mkString("[", ",", "]")}}""".stripMargin
      def write(name: String): Unit = {
        val out = new java.io.File(root, name)
        val w = new java.io.PrintWriter(out, "UTF-8")
        try w.println(json) finally w.close()
        println(s"bench detail -> ${out.getPath}")
      }
      write(f"BENCH_DETAIL_r$round%02d_c$cpus.json")
      // legacy alias: the 32-core main run keeps the unsuffixed name the
      // driver and prior rounds' audits read
      if (cpus == 32) write(f"BENCH_DETAIL_r$round%02d.json")
    } catch {
      case e: Throwable =>
        // the artifact is best-effort: a read-only cwd must not fail the bench
        println(s"bench detail write failed: ${e.getMessage}")
    }
  }
}
