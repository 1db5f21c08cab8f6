package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.sources.Bucketing

/** Scale-mechanics: salted aggregation/join correctness, bucketed
  * co-located joins with plan-level shuffle assertions.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation") {
    val df = (Seq.fill(500)("hot") ++ Seq("a", "b", "c")).toDF("k")
      .withColumn("v", lit(1L))
    val plain = df.groupBy("k").agg(count(lit(1)).as("c"), sum("v").as("s"))
    val salted = Skew.saltedAgg(df, Seq("k"), buckets = 8,
      partial = Seq(count(lit(1)).as("c"), sum("v").as("s")),
      merge = Seq(sum("c").as("c"), sum("s").as("s")))
    assert(sortedRows(salted) == sortedRows(plain))
  }

  test("salted join equals plain join") {
    val fact = (Seq.fill(300)(1) ++ Seq(2, 3)).toDF("k").withColumn("fv", col("k") * 10)
    val dim = Seq((1, "one"), (2, "two"), (4, "four")).toDF("k", "dv")
    val plain = fact.join(dim, "k").select("k", "fv", "dv")
    val salted = Skew.saltedJoin(fact, dim, "k", buckets = 4).select("k", "fv", "dv")
    assert(sortedRows(salted) == sortedRows(plain))
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a killed JVM can leave warehouse dirs the (in-memory) catalog
    // no longer knows about — clear the locations too
    for (t <- Seq("b_orders", "b_lineitem")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4, Some("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 4, Some("l_orderkey"))
    // disable auto-broadcast: at test scale orders would broadcast, which
    // also avoids the shuffle but isn't the property under test (at real
    // scale neither side broadcasts — the bucketing is what saves the
    // shuffle there)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).agg(sum("l_quantity").as("q"))
      // execute first so AQE finalizes the physical plan
      joined.collect()
      // AQE echoes the pre-adaptive plan after "== Initial Plan ==";
      // assert on the final plan section only
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin, got:\n$plan")
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      // and it is still correct
      val expected = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).agg(sum("l_quantity").as("q"))
      assert(sortedRows(joined) == sortedRows(expected))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
  test("plan shapes: pushdown, pruning, broadcast, single-shuffle window") {
    // q05: the Odoo-domain predicate (OR of LIKE / AND) reaches the scan
    val q05 = graft.queries.CoreQueries.q05DomainFilter(spark, sfDir)
    val p05 = q05.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p05.contains("PushedFilters: [Or(StringContains(o_orderpriority,URGENT)"),
      s"domain filter not pushed:\n$p05")

    // q02: the customer dim is broadcast, never shuffled
    val q02 = graft.queries.CoreQueries.q02TopOrders(spark, sfDir)
    q02.collect()
    val p02 = q02.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p02.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p02")

    // x24: projection pruning — the scan reads only the 3 needed columns,
    // not the (wide) text column
    val x24 = graft.queries.ExtQueries.x24HashSample(spark, sfDir)
    val p24 = x24.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p24.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"),
      s"expected pruned scan:\n$p24")

    // x22: the packing cumsum is ONE shuffle (partition by source), not two
    val x22 = graft.queries.ExtQueries.x22SequencePack(spark, sfDir)
    x22.collect()
    val p22 = x22.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p22).length == 1,
      s"expected exactly one exchange:\n$p22")
  }

  test("plan shapes: passage dedup tiles narrowly, two wide stages") {
    // x49: tiling must NOT shuffle word-level rows — the only exchanges
    // are the first-occurrence window (tile content) and the reassembly
    // groupBy (id). A third exchange would mean the tile construction
    // degenerated into a relational word-level regroup.
    val x49 = graft.queries.ExtQueries.x49PassageDedup(spark, sfDir)
    x49.collect()
    val p49 = x49.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p49).length == 2,
      s"expected exactly two exchanges (tile window + doc regroup):\n$p49")
    assert(p49.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"passage dedup scan should prune to (doc_id, text):\n$p49")
  }

  test("plan shapes: shard planning never range-sorts the corpus") {
    // x51's global order must come from the bucket-offset composition,
    // not a global ORDER BY: a range-partitioned sort (what a global
    // window would plan) funnels every row's sort through one stage and
    // its window through ONE task. Only the ≤65536-row offsets rollup
    // may pass through a single partition.
    val x51 = graft.queries.ExtQueries.x51ShardPlan(spark, sfDir)
    x51.collect()
    val p51 = x51.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p51.contains("Exchange rangepartitioning"),
      s"shard planning must not globally sort the corpus:\n$p51")
    assert(p51.contains("Exchange hashpartitioning"),
      s"expected bucket-hash cumsum:\n$p51")
  }

  test("plan shapes r6: chunking/redaction stay narrow, kmv aggregates partially") {
    // x41 chunking: projection + generator only — NO exchange; chunk rows
    // inherit the scan's partitioning
    val x41 = graft.queries.ExtQueries.x41DocChunks(spark, sfDir)
    val p41 = x41.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p41.contains("Exchange"), s"chunking should not shuffle:\n$p41")

    // x38 redaction: a narrow per-row map — no exchange, codegen'd
    val x38 = graft.queries.ExtQueries.x38PiiRedact(spark, sfDir)
    val p38 = x38.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p38.contains("Exchange"), s"redaction should not shuffle:\n$p38")
    // `*(1)` is the WholeStageCodegen stage marker in the compact plan form
    assert(p38.contains("*(1) Project"), s"redaction should codegen:\n$p38")
    assert(p38.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"redaction scan should prune to (doc_id, text):\n$p38")

    // x40 KMV: stage-1 sketch is a PARTIAL aggregate (map-side combine
    // before the (group, salt) exchange) — the mergeability that keeps a
    // 100 TB distinct-count from shuffling the data
    val x40 = graft.queries.ExtQueries.x40KmvDistinct(spark, sfDir)
    x40.collect()
    val p40 = x40.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p40.contains("partial_collect_set"),
      s"kmv stage 1 should combine map-side:\n$p40")
  }

  test("plan shapes r6b: quantiles aggregate before windowing; funnel broadcasts the gram set") {
    // x47: the window must run over the aggregated (group, value, count)
    // distribution, not raw rows — the partial count is the map-side
    // combine that keeps the shuffle O(distinct values)
    val x47 = graft.queries.ExtQueries.x47GroupQuantiles(spark, sfDir)
    x47.collect()
    val p47 = x47.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p47.contains("partial_count"),
      s"quantiles stage 1 should combine map-side:\n$p47")
    assert(p47.indexOf("Window") < p47.indexOf("partial_count"),
      s"window must consume the aggregate (appear above it in the plan):\n$p47")

    // x46: the benchmark gram set must reach the corpus probe as a
    // broadcast — the decontamination stage never shuffles the corpus
    // posting table for the probe
    val x46 = graft.queries.ExtQueries.x46CorpusFunnel(spark, sfDir)
    x46.collect()
    val p46 = x46.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p46.contains("BroadcastExchange"),
      s"funnel decontamination should broadcast the gram set:\n$p46")
  }

  test("z-order buckets bound BOTH dimensions (the data-skipping property)") {
    import graft.ext.ZOrder
    // Morton identities: bit i of x -> bit 2i, bit i of y -> bit 2i+1
    val ids = spark.range(1).select(
      ZOrder.zValue(lit(1L), lit(0L)), ZOrder.zValue(lit(0L), lit(1L)),
      ZOrder.zValue(lit(3L), lit(3L)), ZOrder.zValue(lit(65535L), lit(65535L)))
      .head.toSeq
    assert(ids == Seq(1L, 2L, 15L, 4294967295L))

    // 64x64 uniform grid, 16 buckets: a linear (sort-by-x) layout gives
    // each bucket the FULL y range (64); the z layout bounds both
    // dimensions to ~16 — that bound is what makes min/max file stats
    // prune on either column
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val zst = ZOrder.zOrderStats(grid, "x", "y", 16).collect()
    assert(zst.map(_.getLong(1)).sum == 64L * 64L) // every row assigned
    val meanX = zst.map(r => r.getLong(3) - r.getLong(2) + 1).sum.toDouble / zst.length
    val meanY = zst.map(r => r.getLong(5) - r.getLong(4) + 1).sum.toDouble / zst.length
    assert(meanX <= 20.0 && meanY <= 20.0,
      s"z buckets should bound both dims (~16): meanX=$meanX meanY=$meanY")
  }

  test("merge router broadcasts a small state table") {
    import graft.sinks.MergeRouter
    import graft.spec.Specs.ReprocessMode
    val incoming = spark.read.parquet(s"$sfDir/orders.parquet").select(col("o_orderkey"))
    val state = Seq(("1", 100L), ("2", 200L)).toDF("pk", "model_id")
    val routed = MergeRouter.route(incoming, state, "o_orderkey", ReprocessMode.Update)
    routed.collect()
    val plan = routed.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"small state table should broadcast:\n$plan")
  }

  test("template-mode id list above the inline limit becomes a broadcast semi-join") {
    import graft.runner.JobRunner
    import graft.spec.Specs._
    spark.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("orders_ids_plan")
    // deliberately INT ids against the LongType o_orderkey column: a spec
    // parser routinely yields Int, and the semi-join path must apply the
    // same literal coercion the inline isin path gets from the analyzer
    // (building Row(v) against the column's exact dataType instead throws
    // 'not a valid external type' at execution — ADVICE r3)
    val manyIds: Seq[Any] = (1 to (JobRunner.MaxInlineIds + 500)).map(_ * 2)
    val job = JobSpec(
      name = "ids_plan",
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Right(ConnectorResource(model = "orders_ids_plan",
        ids = Some(manyIds), idField = "o_orderkey",
        fields = Seq("o_orderkey", "o_orderstatus"))),
      transform = TransformSpec(
        fields = Seq(FieldSpec("o_orderkey", fieldType = "int"), FieldSpec("o_orderstatus")),
        pkField = Some("o_orderkey")))
    val routed = JobRunner.run(spark, job, None).routed
    routed.collect()
    val plan = routed.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"large id list should probe via broadcast semi-join, not an IN literal tree:\n$plan")
    assert(!plan.contains("o_orderkey IN ("), s"IN literal tree leaked into the plan:\n$plan")
    // and the filter semantics match the inline path
    val expected = spark.table("orders_ids_plan")
      .filter(col("o_orderkey").isin(manyIds: _*)).count()
    assert(routed.count() == expected)
  }

  test("partitioned store prunes non-matching partition directories") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_part").toString + "/orders"
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("order_year", year(col("o_orderdate")))
    ManifestStore.write(spark, orders, path, "order_year")
    val all = ManifestStore.read(spark, path)
    val years = all.select("order_year").distinct().count()
    assert(years > 1)
    val pruned = all.filter(col("order_year") === 1995)
    pruned.collect()
    assert(ManifestStore.selectedPartitionTotal(pruned) == 1L,
      s"expected 1 selected partition of $years")
    assert(ManifestStore.selectedPartitionTotal(all.filter(col("o_totalprice") > 0))
      == years) // non-partition filter prunes nothing
  }

  test("watermark drops late events in append-mode windowed aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      // advance event time far past the window + watermark → it finalizes
      mem.addData((ts("2024-01-01 11:00:00"), 3L))
      q.processAllAvailable()
      // LATE event for the already-finalized window: behind the watermark
      mem.addData((ts("2024-01-01 10:02:00"), 4L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:00:00"), 5L))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT date_format(window.start, 'HH:mm') s, n FROM wm_test ORDER BY s")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // the 10:00 window emitted exactly once with 2 events — the late
      // 10:02 arrival was dropped, not re-emitted
      assert(rows.count(_._1 == "10:00") == 1)
      assert(rows.find(_._1 == "10:00").get._2 == 2L)
    } finally q.stop()
  }
  test("copy-on-write merge rewrites only the touched partitions") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_merge").toString + "/t"
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
    ManifestStore.write(spark, orders, path, "order_year")
    def files(version: Option[Int], year: Int): Set[String] =
      ManifestStore.read(spark, path, version).inputFiles.filter(_.contains(s"/order_year=$year/")).toSet
    val years = orders.select("order_year").distinct()
      .collect().map(_.getInt(0)).sorted
    val (touchYear, quietYear) = (years.head, years.last)
    assert(files(Some(1), quietYear).nonEmpty)
    // batch: update some keys in touchYear + insert a brand-new 2024 row
    val updates = orders.filter(col("order_year") === touchYear && col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val insert = orders.orderBy("o_orderkey").limit(1)
      .withColumn("o_orderkey", lit(999999999L))
      .withColumn("order_year", lit(2024))
    ManifestStore.merge(spark, path, updates.unionByName(insert),
      Seq("o_orderkey"), "order_year")
    // untouched partition: read from v1's files, never rewritten
    assert(files(None, quietYear) == files(Some(1), quietYear))
    assert(files(None, touchYear).intersect(files(Some(1), touchYear)).isEmpty)
    // touched + new partitions hold the expected rows
    val merged = ManifestStore.read(spark, path)
    assert(files(None, 2024).nonEmpty)
    assert(sortedRows(merged.filter(col("order_year") === 2024)) ==
      sortedRows(insert.select(merged.columns.map(col).toSeq: _*)))
    val expectTouched = orders.filter(col("order_year") === touchYear)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2).otherwise(col("o_totalprice")))
    assert(sortedRows(merged.filter(col("order_year") === touchYear)) ==
      sortedRows(expectTouched.select(merged.columns.map(col).toSeq: _*)))
  }

  test("streaming dedup drops repeats within the watermark window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("dd_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 2L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:02:00"), 1L)) // repeat inside the window
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 11:00:00"), 3L))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM dd_test").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L)) // the 10:02 repeat of id 1 was dropped
    } finally q.stop()
  }

  test("manifest store: atomic merge, snapshot isolation, vacuum") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore").toString + "/t"
    val v1 = Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20)).toDF("k", "v", "p")
    ManifestStore.write(spark, v1, path, "p")
    val snap1 = ManifestStore.read(spark, path) // lazy plan pinned to v1's files
    assert(snap1.count() == 3)
    // merge: update k=1, insert k=4 into a NEW partition
    val batch = Seq((1L, "a2", 10), (4L, "d", 30)).toDF("k", "v", "p")
    ManifestStore.merge(spark, path, batch, Seq("k"), "p")
    val snap2 = ManifestStore.read(spark, path)
    val got = snap2.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, "a2", 10), (2L, "b", 10), (3L, "c", 20), (4L, "d", 30)))
    // snapshot isolation: the pre-merge plan still reads v1's files —
    // the merge wrote new files and flipped a manifest, deleted nothing
    val old = snap1.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(old == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "pre-merge reader must keep its snapshot after a commit")
    // explicit time travel: version 1 is readable by number until vacuumed
    assert(ManifestStore.versions(spark, path) == Seq(2, 1))
    val tt = ManifestStore.read(spark, path, version = Some(1)).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(tt == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // an orphaned commit (crash before manifest rename) is invisible and
    // vacuumable
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path, "commits/orphan-crashed/p=99"))
    assert(ManifestStore.read(spark, path).count() == 4)
    // vacuum at minAge 0 (sole writer here) drops the orphan AND p=10's
    // superseded v1 subdir, and must not change the readable snapshot;
    // at the default retention the young orphan must SURVIVE (it could be
    // an in-flight merge's commit)
    assert(ManifestStore.vacuum(spark, path) == 0,
      "default retention must not vacuum young directories")
    assert(ManifestStore.vacuum(spark, path, minAgeMillis = 0L) >= 2)
    val after = ManifestStore.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(after == got)
    // vacuum expired snapshot v1 WITH its data: versions() stays
    // consistent with what read(version) can actually scan
    assert(ManifestStore.versions(spark, path) == Seq(2))
  }

  test("manifest store: multi-level partitioning merges and vacuums by leaf") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore_ml").toString + "/t"
    val v1 = Seq((1L, "a", 2023, 1), (2L, "b", 2023, 2), (3L, "c", 2024, 1))
      .toDF("k", "v", "y", "m")
    ManifestStore.write(spark, v1, path, Seq("y", "m"))
    assert(ManifestStore.read(spark, path).count() == 3)
    // touch exactly one (y,m) leaf + insert a new leaf
    val batch = Seq((1L, "a2", 2023, 1), (4L, "d", 2024, 7)).toDF("k", "v", "y", "m")
    ManifestStore.merge(spark, path, batch, Seq("k"), Seq("y", "m"))
    val got = ManifestStore.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got == Seq((1L, "a2", 2023, 1), (2L, "b", 2023, 2), (3L, "c", 2024, 1), (4L, "d", 2024, 7)))
    // vacuum reclaims only the superseded y=2023/m=1 leaf of commit 1;
    // untouched leaves of the same commit survive and the snapshot holds
    assert(ManifestStore.vacuum(spark, path, minAgeMillis = 0L) >= 1)
    val after = ManifestStore.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(after == got)
  }

  test("manifest store: an empty batch is a no-op; a real merge then commits") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore_empty").toString + "/t"
    val v1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p")
    ManifestStore.write(spark, v1, path, "p")
    // an empty merge batch is a no-op: no commit, no version bump
    ManifestStore.merge(spark, path, v1.filter(lit(false)), Seq("k"), Seq("p"))
    assert(ManifestStore.versions(spark, path) == Seq(1))
    ManifestStore.merge(spark, path, Seq((3L, "c", 10)).toDF("k", "v", "p"), Seq("k"), "p")
    assert(ManifestStore.read(spark, path).count() == 3)
  }

  test("manifest store: torn claim is invisible, blocks its version, and heals via vacuum") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore_torn").toString + "/t"
    val v1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p")
    ManifestStore.write(spark, v1, path, "p")
    // a committer crashed mid-write after claiming v2: garbage content
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(path, "_manifests/v00000002.json")
    val out = fs.create(torn, false)
    out.write("{torn".getBytes("UTF-8")); out.close()
    // readers fall back to the last parseable version
    assert(ManifestStore.read(spark, path).count() == 2)
    // a merge targets v2 and must hit the existing claim, not overwrite it
    val batch = Seq((3L, "c", 10)).toDF("k", "v", "p")
    intercept[java.io.IOException] {
      ManifestStore.merge(spark, path, batch, Seq("k"), "p")
    }
    // aged vacuum heals the torn claim; the merge then succeeds
    assert(ManifestStore.vacuum(spark, path, minAgeMillis = 0L) >= 1)
    ManifestStore.merge(spark, path, batch, Seq("k"), "p")
    assert(ManifestStore.read(spark, path).count() == 3)
  }

  test("manifest store: a write whose claim fails reclaims its staged commit") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore_wclaim").toString + "/t"
    val v1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p")
    ManifestStore.write(spark, v1, path, "p")
    // a live committer's young torn claim on v2
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_manifests/v00000002.json"), false)
    out.write("{torn".getBytes("UTF-8")); out.close()
    def commitDirs(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, "commits")).map(_.getPath.getName).toSet
    val before = commitDirs()
    val e = intercept[java.io.IOException] {
      ManifestStore.write(spark, Seq((3L, "c", 10)).toDF("k", "v", "p"), path, "p")
    }
    assert(e.getMessage.contains("in-flight committer"), e.getMessage)
    // no manifest references the staged commit, so it must not linger
    // until vacuum
    assert(commitDirs() == before)
    assert(ManifestStore.read(spark, path).count() == 2)
  }

  test("manifest store: snapshot resolution cost is flat in commit count (hint compaction)") {
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore_hint").toString + "/t"
    def commit(i: Int): Unit =
      ManifestStore.write(spark, Seq((i.toLong, s"v$i", 10)).toDF("k", "v", "p"), path, "p")
    (1 to 12).foreach(commit)
    def resolveOps(): Long = {
      val before = ManifestStore.metaOps.get()
      assert(ManifestStore.read(spark, path).count() == 1)
      ManifestStore.metaOps.get() - before
    }
    val at12 = resolveOps()
    (13 to 24).foreach(commit)
    val at24 = resolveOps()
    // the hint makes resolution O(1): same op count at 12 and 24 commits,
    // and small in absolute terms (hint read + one failed probe + one
    // manifest read, not a directory listing)
    assert(at24 == at12, s"resolution cost grew with commit count: $at12 -> $at24")
    assert(at12 <= 8L, s"resolution took $at12 metadata ops, expected O(1)")
    // a lost hint degrades to the listing, never to a wrong answer
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_manifests/_latest"), false)
    assert(ManifestStore.read(spark, path).count() == 1)
    assert(ManifestStore.versions(spark, path).head == 24)
  }

  test("manifest store: two concurrent writers both land via optimistic retry") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import graft.sources.ManifestStore
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_mstore_cc").toString + "/t"
    ManifestStore.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p"), path, "p")
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(batch: Seq[(Long, String, Int)]): Runnable = () =>
      try { gate.await(); ManifestStore.merge(spark, path, batch.toDF("k", "v", "p"), Seq("k"), Seq("p")) }
      catch { case t: Throwable => errs.add(t) }
    pool.submit(writer(Seq((1L, "a2", 10), (3L, "c", 30))))
    pool.submit(writer(Seq((2L, "b2", 20), (4L, "d", 40))))
    gate.countDown() // maximize claim contention: both merges start together
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writers did not finish")
    assert(errs.isEmpty, s"concurrent merge failed: ${errs.peek()}")
    val got = ManifestStore.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, "a2", 10), (2L, "b2", 20), (3L, "c", 30), (4L, "d", 40)),
      s"both writers' batches must land: $got")
    // the loser's first-attempt commit directory was reclaimed inline:
    // every surviving commit dir is referenced by some manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val commitDirs = fs.listStatus(new org.apache.hadoop.fs.Path(path, "commits"))
      .map(_.getPath.getName).toSet
    assert(commitDirs.size <= 3, s"orphaned loser commits not reclaimed: $commitDirs")
    ManifestStore.versions(spark, path).foreach(v =>
      ManifestStore.read(spark, path, Some(v)).count()) // every listed snapshot scannable
  }

  test("contamination probe broadcasts the benchmark gram set (plan shape)") {
    import graft.ext.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Dedup.benchmarkOverlap(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", shingleN = 6)
    out.collect() // AQE finalizes the plan
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"benchmark gram set should probe via a broadcast left join (hit marker):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus posting table must not shuffle for the probe:\n$plan")
  }

  test("plan shapes r8: asof probe, CM cells broadcast, funnel slices pushed, no cartesian census") {
    // x92: the SCD2 probe is the union+window asof — NO range/cartesian
    // join anywhere, and the union shuffles once on the user key
    val x92 = graft.queries.ExtQueries.x92Scd2Probe(spark, sfDir)
    val p92 = x92.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p92.contains("CartesianProduct") && !p92.contains("BroadcastNestedLoopJoin"),
      s"asof probe must not plan a range/cartesian join:\n$p92")
    assert(p92.contains("Union") && "Window \\[last".r.findAllIn(p92).nonEmpty,
      s"expected the union+last-carry window:\n$p92")

    // x96: the d×w cell table reaches the probe as a BROADCAST
    val x96 = graft.queries.ExtQueries.x96CountMin(spark, sfDir)
    x96.collect()
    val p96 = x96.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p96.contains("BroadcastHashJoin"),
      s"CM cell table should broadcast to the probe:\n$p96")

    // x94: the final funnel plan aggregates the MATERIALIZED reached
    // sets — no events FileScan survives into it (each stage's pushed
    // scan ran once inside its checkpoint; re-counting must not rescan)
    val x94 = graft.queries.ExtQueries.x94EventFunnel(spark, sfDir)
    x94.collect()
    val p94 = x94.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p94.contains("Union") && !p94.contains("events.parquet"),
      s"funnel counts must run on checkpointed reached sets, not rescans:\n$p94")

    // x103: the triangle census joins the ORIENTED edge list — no
    // cartesian/nested-loop anywhere despite the three-way structure
    val x103 = graft.queries.ExtQueries.x103TriangleStats(spark, sfDir)
    x103.collect()
    val p103 = x103.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p103.contains("CartesianProduct"),
      s"triangle census must never plan a cartesian join:\n$p103")
  }
}
