package graft

import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, ManifestStore, SkippingIndexes, ZoneMaps}
import graft.sources.SkippingIndexes.{Between, Eq, HasTokens, In}

/** Composite skipping (x168): intersection prunes multiplicatively on
  * grid layouts, stale indexes degrade silently, correctness never
  * depends on any index.
  */
class SkippingIndexesSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"skpspec_${java.util.UUID.randomUUID().toString.take(8)}")

  // a 4x4 grid layout: x and y each cluster within a pt cell — each
  // dimension's zone maps prune to one STRIPE, the intersection to one CELL
  private val grid = for (i <- 0L until 400L) yield {
    val (x, y) = (i % 20, i / 20)
    (i, s"n_$i", x * 50, y * 50, (x / 5) * 4 + (y / 5))
  }

  test("intersection scans one cell where each single index scans a stripe") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.toDF("id", "name", "x", "y", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "x")
    ZoneMaps.refresh(spark, root, "y")
    val both = SkippingIndexes.readWhere(spark, root,
      Seq(Between("x", 300L, 400L), Between("y", 300L, 400L)),
      requireFresh = true)
    val one = SkippingIndexes.readWhere(spark, root,
      Seq(Between("x", 300L, 400L)), requireFresh = true)
    val sBoth = ManifestStore.selectedPartitionTotal(both)
    val sOne = ManifestStore.selectedPartitionTotal(one)
    assert(sBoth == 1L && sOne == 4L) // a cell vs an x-stripe
    val expected = grid.filter(g => g._3 >= 300 && g._3 <= 400 &&
      g._4 >= 300 && g._4 <= 400).map(_._1).toSet
    assert(both.select(col("id")).collect().map(_.getLong(0)).toSet == expected)
  }

  test("a bloom Eq composes with zone ranges; an indexless predicate only filters") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.toDF("id", "name", "x", "y", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "x")
    BloomIndex.refresh(spark, root, "name")
    // n_137: x = 137%20*50 = 850, y = 137/20*50 = 300
    val out = SkippingIndexes.readWhere(spark, root,
      Seq(Eq("name", "n_137"), Between("x", 800L, 900L), Between("y", 0L, 2000L)))
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(137L))
    // the y predicate has no maps: silent in default mode, loud in requireFresh
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    intercept[IllegalArgumentException] {
      SkippingIndexes.readWhere(spark, root,
        Seq(Between("y", 0L, 2000L)), requireFresh = true)
    }
  }

  test("stale indexes contribute nothing; the residual filter keeps results exact") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.toDF("id", "name", "x", "y", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "x")
    ManifestStore.merge(spark, root,
      Seq((1000L, "n_new", 325L, 325L, 10L)).toDF("id", "name", "x", "y", "pt"),
      Seq("id"), "pt")
    // maps predate the merge: no pruning, but the new row is found
    val out = SkippingIndexes.readWhere(spark, root,
      Seq(Between("x", 300L, 400L), Between("y", 300L, 400L)))
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet
      .contains(1000L))
    assert(ManifestStore.selectedPartitionTotal(out) == 16L) // all cells
  }

  test("lifecycle interplay: vacuum keeps indexes fresh, compact stales them, an empty fold re-stamps") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.filter(_._1 < 300).toDF("id", "name", "x", "y", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "x")
    BloomIndex.refresh(spark, root, "name")
    val d2 = grid.filter(_._1 >= 300).toDF("id", "name", "x", "y", "pt")
    ManifestStore.merge(spark, root, d2, Seq("id"), "pt")
    ZoneMaps.maintainAppend(spark, root, "x", d2)
    BloomIndex.maintainAppend(spark, root, "name", d2)
    val preds = Seq(Between("x", 300L, 400L), Eq("name", "n_126"))
    def readBoth() = SkippingIndexes.readWhere(spark, root, preds,
      requireFresh = true)
    assert(readBoth().select(col("id")).collect()
      .map(_.getLong(0)).toSeq == Seq(126L))
    // vacuum drops superseded files only — no manifest flip, still fresh
    ManifestStore.vacuum(spark, root, minAgeMillis = 0L)
    assert(readBoth().count() == 1L)
    // compact flips a (content-identical) manifest — the stamps now lie
    // one version behind and requireFresh is LOUD
    assert(ManifestStore.compact(spark, root) > 0)
    intercept[IllegalArgumentException] { readBoth() }
    // the cheap response: fold an EMPTY batch — content is unchanged, so
    // maintainAppend just re-stamps at O(index), no table rescan
    val empty = ManifestStore.read(spark, root).limit(0)
    ZoneMaps.maintainAppend(spark, root, "x", empty)
    BloomIndex.maintainAppend(spark, root, "name", empty)
    val out = readBoth()
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(126L))
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
  }

  test("refreshAll: identical side tables to single-column refreshes, from merged one-scan passes") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.toDF("id", "name", "x", "y", "pt"), root, "pt")
    SkippingIndexes.refreshAll(spark, root,
      zoneCols = Seq("x", "y"), bloomCols = Seq("name", "id"))
    // maps compare as exploded (word, bits) entries — collect_list
    // packing order is nondeterministic, the entry SET is the content
    def sideTables() = {
      val zones = Seq("_zones/x", "_zones/y").map { st =>
        val p = new org.apache.hadoop.fs.Path(root, st).toString
        ManifestStore.read(spark, p).select(col("pt"), col("__lo"), col("__hi"))
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      }
      val blooms = Seq("_bloom/name", "_bloom/id").map { st =>
        val p = new org.apache.hadoop.fs.Path(root, st).toString
        ManifestStore.read(spark, p)
          .select(col("pt"), explode(col("__words")).as(Seq("__w", "__b")))
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      }
      zones ++ blooms
    }
    val merged = sideTables()
    ZoneMaps.refresh(spark, root, "x")
    ZoneMaps.refresh(spark, root, "y")
    BloomIndex.refresh(spark, root, "name")
    BloomIndex.refresh(spark, root, "id")
    assert(sideTables() == merged)
    // the merged builders: one table scan, bounded shuffles, any column count
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.count() // force AQE finalization
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    val pcols = Seq("pt")
    val zPlan = planOf(ZoneMaps.statsFrame(
      ManifestStore.read(spark, root), pcols, Seq("x", "y")))
    assert("Scan parquet".r.findAllIn(zPlan).length == 1, s"one scan:\n$zPlan")
    assert("Exchange".r.findAllIn(zPlan).length == 1, s"one shuffle:\n$zPlan")
    val bPlan = planOf(BloomIndex.packedFrame(
      ManifestStore.read(spark, root), pcols, Seq("name", "id"), 1 << 17, 5))
    assert("Scan parquet".r.findAllIn(bPlan).length == 1, s"one scan:\n$bPlan")
    assert("Exchange".r.findAllIn(bPlan).length <= 2, s"two shuffles:\n$bPlan")
    // and the composite read over the refreshAll-built indexes prunes
    val out = SkippingIndexes.readWhere(spark, root,
      Seq(Between("x", 300L, 400L), Between("y", 300L, 400L),
        Eq("name", "n_126")), requireFresh = true)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(126L))
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
  }

  test("an In predicate composes: union of the keys' partitions, intersected with the range") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.toDF("id", "name", "x", "y", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "y")
    BloomIndex.refresh(spark, root, "name")
    // n_126 (y=300) and n_9 (y=0): the In qualifies both cells, the y
    // range keeps only n_126's — intersection scans ONE cell
    val out = SkippingIndexes.readWhere(spark, root,
      Seq(In("name", Seq("n_126", "n_9")), Between("y", 250L, 475L)),
      requireFresh = true)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(126L))
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    // the In alone scans both keys' cells
    val alone = SkippingIndexes.readWhere(spark, root,
      Seq(In("name", Seq("n_126", "n_9"))))
    assert(ManifestStore.selectedPartitionTotal(alone) == 2L)
    assert(alone.select(col("id")).collect().map(_.getLong(0)).toSet ==
      Set(9L, 126L))
  }

  test("a HasTokens predicate composes with zone ranges in the same conjunction") {
    val root = fresh()
    // text clusters with the layout: partition p's docs mention token
    // "zone<p>"; a shared token "common" appears everywhere
    val rows = (0L until 80L).map { i =>
      val p = i / 20
      // partition 3 interleaves alpha/beta docs: its BLOOM holds both
      // tokens though no single doc does — the residual-exactness case
      val text = if (p == 3L) (if (i % 2 == 0) "alpha filler" else "beta filler")
        else s"common zone$p filler"
      (i, i * 10, text, p)
    }
    ManifestStore.write(spark, rows.toDF("id", "v", "text", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "v")
    BloomIndex.refreshTokens(spark, root, "text")
    // the range alone spans partitions 0-1; the token pins partition 1:
    // the intersection scans exactly one
    val out = SkippingIndexes.readWhere(spark, root,
      Seq(Between("v", 0L, 390L), HasTokens("text", Seq("zone1"))),
      requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet ==
      (20L until 40L).toSet.filter(_ * 10 <= 390L))
    // residual exactness: partition 3's bloom holds BOTH tokens (its
    // docs interleave them), so the probe must scan it — and the
    // conjunctive residual must still return zero rows
    val none = SkippingIndexes.readWhere(spark, root,
      Seq(HasTokens("text", Seq("alpha", "beta"))), requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(none) == 1L)
    assert(none.count() == 0L,
      "no single doc holds both tokens — the residual must filter them")
  }

  test("an out-of-domain range proves the table empty without scanning it") {
    val root = fresh()
    ManifestStore.write(spark,
      grid.toDF("id", "name", "x", "y", "pt"), root, "pt")
    ZoneMaps.refresh(spark, root, "x")
    ZoneMaps.refresh(spark, root, "y")
    val out = SkippingIndexes.readWhere(spark, root,
      Seq(Between("x", 2000L, 3000L), Between("y", 300L, 400L)),
      requireFresh = true)
    assert(out.count() == 0L)
    assert(ManifestStore.selectedPartitionTotal(out) == 0L)
  }
}
