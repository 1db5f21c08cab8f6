package graft

import org.apache.spark.sql.functions._
import graft.sources.{Failpoints, ManifestStore, ZoneMaps}

/** Zone-map data skipping (x163): pruning on clustered layouts,
  * conservative behavior everywhere else, staleness semantics.
  */
class ZoneMapsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"zmspec_${java.util.UUID.randomUUID().toString.take(8)}")

  private val rows = (1L to 400L).map(i => (i, i * 3)) // v clustered with id

  test("clustered layout: range read skips non-overlapping partitions, results exact") {
    val root = fresh()
    // pt = v div 300 → values 3..1200 spread over 5 partitions
    ManifestStore.write(spark,
      rows.toDF("id", "v").withColumn("pt", expr("v div 300L")), root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    val out = ZoneMaps.readWhere(spark, root, "v", 310L, 580L, requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 1L) // pt=1 only
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet ==
      (104L to 193L).toSet) // 310/3=103.3 → 104; 580/3=193.3 → 193
  }

  test("hash layout: nothing skips, results still exact (correctness never depends on the maps)") {
    val root = fresh()
    ManifestStore.write(spark,
      rows.toDF("id", "v").withColumn("pt", pmod(xxhash64(col("id")), lit(4L))),
      root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    val out = ZoneMaps.readWhere(spark, root, "v", 310L, 580L, requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 4L)
    assert(out.count() == 90L)
  }

  test("stale maps: silent fallback scans everything; requireFresh is loud") {
    val root = fresh()
    ManifestStore.write(spark,
      rows.toDF("id", "v").withColumn("pt", expr("v div 300L")), root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    // a later commit bumps the snapshot past the stamp
    ManifestStore.merge(spark, root,
      Seq((1000L, 5L)).toDF("id", "v").withColumn("pt", expr("v div 300L")),
      Seq("id"), "pt")
    val out = ZoneMaps.readWhere(spark, root, "v", 1L, 10L)
    // the un-skipped fallback still finds the new row the maps predate
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 1000L))
    intercept[IllegalArgumentException] {
      ZoneMaps.readWhere(spark, root, "v", 1L, 10L, requireFresh = true)
    }
    // re-refreshing re-stamps and skipping resumes (the post-merge
    // table spans two commits → sum selected partitions over ALL scans)
    ZoneMaps.refresh(spark, root, "v")
    val again = ZoneMaps.readWhere(spark, root, "v", 1L, 10L, requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(again) == 1L)
    assert(again.count() == 4L)
  }

  private def rangesOf(root: String) = {
    val zt = new org.apache.hadoop.fs.Path(root, "_zones/v").toString
    ManifestStore.read(spark, zt)
      .select(col("pt"), col("__lo"), col("__hi"))
      .collect().map(r => (r.get(0).toString, r.get(1), r.get(2))).toSet
  }

  test("mergeAppend: one commit widens the maps without rescanning history, identical to refresh on pure appends") {
    val root = fresh()
    val (first, second) = rows.partition(_._1 % 3 < 2) // pt-mixture in both
    ManifestStore.write(spark,
      first.toDF("id", "v").withColumn("pt", expr("v div 300L")), root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    val batch = second.toDF("id", "v").withColumn("pt", expr("v div 300L"))
    ManifestStore.merge(spark, root, batch, Seq("id"), "pt")
    ZoneMaps.mergeAppend(spark, root, "v", batch)
    // fresh at the NEW snapshot, skipping intact
    val out = ZoneMaps.readWhere(spark, root, "v", 310L, 580L, requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) >= 1L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet ==
      (104L to 193L).toSet)
    val merged = rangesOf(root)
    ZoneMaps.refresh(spark, root, "v")
    assert(merged == rangesOf(root))
  }

  test("mergeAppend: refuses a version gap; replay after a crash before the stamp converges") {
    val b1 = Seq((1001L, 40L)).toDF("id", "v").withColumn("pt", expr("v div 300L"))
    def merged(): String = {
      val root = fresh()
      ManifestStore.write(spark,
        rows.toDF("id", "v").withColumn("pt", expr("v div 300L")), root, "pt")
      ZoneMaps.refresh(spark, root, "v")
      ManifestStore.merge(spark, root, b1, Seq("id"), "pt")
      root
    }
    val ref = merged()
    ZoneMaps.mergeAppend(spark, ref, "v", b1)
    val once = rangesOf(ref)
    // crash window: maps committed, stamp not — the replay converges
    val root = merged()
    Failpoints.crashAfter(s"$root/_zones/v")(ZoneMaps.mergeAppend(spark, root, "v", b1))
    ZoneMaps.mergeAppend(spark, root, "v", b1)
    assert(rangesOf(root) == once) // min/max re-merge is idempotent
    // two commits past the stamp: loud refusal, never false negatives
    ManifestStore.merge(spark, root,
      Seq((1002L, 41L)).toDF("id", "v").withColumn("pt", expr("v div 300L")),
      Seq("id"), "pt")
    ManifestStore.merge(spark, root,
      Seq((1003L, 42L)).toDF("id", "v").withColumn("pt", expr("v div 300L")),
      Seq("id"), "pt")
    intercept[IllegalArgumentException] {
      ZoneMaps.mergeAppend(spark, root, "v",
        Seq((1003L, 42L)).toDF("id", "v").withColumn("pt", expr("v div 300L")))
    }
  }

  test("mergeAppend: an all-null history partition picks up the batch's real range") {
    val root = fresh()
    ManifestStore.write(spark,
      Seq((1L, Some(5L), 0L), (2L, None, 1L)).toDF("id", "v", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    val batch = Seq((3L, Some(900L), 1L)).toDF("id", "v", "pt")
    ManifestStore.merge(spark, root, batch, Seq("id"), "pt")
    ZoneMaps.mergeAppend(spark, root, "v", batch)
    // pt=1's NULL range merged away: a [800, 1000] read now prunes pt=0
    val out = ZoneMaps.readWhere(spark, root, "v", 800L, 1000L, requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("maintainAppend: no-op at stamp==snapshot, fold at gap 1, rebuild at a torn window") {
    val root = fresh()
    val (first, rest) = rows.partition(_._1 <= 200)
    ManifestStore.write(spark,
      first.toDF("id", "v").withColumn("pt", expr("v div 300L")), root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    val before = rangesOf(root)
    ZoneMaps.maintainAppend(spark, root, "v",
      first.toDF("id", "v").withColumn("pt", expr("v div 300L")))
    assert(rangesOf(root) == before) // gap 0 → untouched
    val (b1, b2) = rest.partition(_._1 <= 300)
    val d1 = b1.toDF("id", "v").withColumn("pt", expr("v div 300L"))
    ManifestStore.merge(spark, root, d1, Seq("id"), "pt")
    ZoneMaps.maintainAppend(spark, root, "v", d1) // gap 1 → fold
    // torn window: two commits, one batch handed in → rebuild covers both
    val (d2a, d2b) = (b2.filter(_._1 % 2 == 0), b2.filter(_._1 % 2 == 1))
    ManifestStore.merge(spark, root,
      d2a.toDF("id", "v").withColumn("pt", expr("v div 300L")), Seq("id"), "pt")
    ManifestStore.merge(spark, root,
      d2b.toDF("id", "v").withColumn("pt", expr("v div 300L")), Seq("id"), "pt")
    ZoneMaps.maintainAppend(spark, root, "v",
      d2b.toDF("id", "v").withColumn("pt", expr("v div 300L")))
    val out = ZoneMaps.readWhere(spark, root, "v", 1L, 1200L, requireFresh = true)
    assert(out.count() == 400L) // nothing lost anywhere in the window
    val narrow = ZoneMaps.readWhere(spark, root, "v", 310L, 580L, requireFresh = true)
    assert(narrow.count() == 90L)
    assert(ManifestStore.selectedPartitionTotal(narrow) < 5L)
  }

  test("all-null partitions scan conservatively; mapping a partition column is refused") {
    val root = fresh()
    val df = Seq((1L, Some(5L), 0L), (2L, None, 1L), (3L, None, 1L))
      .toDF("id", "v", "pt")
    ManifestStore.write(spark, df, root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    // pt=1 has a NULL range — it must still be scanned (and contribute
    // nothing), never silently skipped
    val out = ZoneMaps.readWhere(spark, root, "v", 1L, 10L, requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 2L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet == Set(1L))
    intercept[IllegalArgumentException] {
      ZoneMaps.refresh(spark, root, "pt")
    }
  }
}
