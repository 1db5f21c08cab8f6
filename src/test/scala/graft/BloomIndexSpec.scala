package graft

import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, Failpoints, ManifestStore}

/** Per-partition Bloom equality skipping (x164): point lookups prune on
  * layouts zone maps can't help, no false negatives ever, staleness and
  * null semantics.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"blmspec_${java.util.UUID.randomUUID().toString.take(8)}")

  // ids land in partitions by RANGE (date-partitioned-corpus shape): a
  // point lookup on `name` has no usable min/max range per partition
  private val rows = (1L to 400L).map(i => (i, s"doc_$i", i / 100))

  test("point lookup scans only the partitions whose bloom might contain the value") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    val out = BloomIndex.readEq(spark, root, "name", "doc_250", requireFresh = true)
    // doc_250 lives in pt=2 only; 2^17 bits over ~100 values per
    // partition makes a cross-partition false positive astronomically
    // unlikely for a fixed seed — pin exactly 1 scanned
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(250L))
  }

  test("no false negatives: every stored value is found (exhaustive over the table)") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name", bits = 256, hashes = 3) // tiny → many FPs
    // even a saturated bloom may only ADD scanned partitions, never lose rows
    (1L to 400L by 37L).foreach { i =>
      val out = BloomIndex.readEq(spark, root, "name", s"doc_$i", requireFresh = true)
      assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(i))
    }
  }

  test("absent value: zero partitions scanned, empty result with the table schema") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    val out = BloomIndex.readEq(spark, root, "name", "doc_9999", requireFresh = true)
    assert(out.count() == 0L)
    assert(out.columns.toSet == Set("id", "name", "pt"))
  }

  test("stale index: silent fallback still finds rows the blooms predate; requireFresh is loud") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    ManifestStore.merge(spark, root,
      Seq((1000L, "doc_new", 9L)).toDF("id", "name", "pt"), Seq("id"), "pt")
    val out = BloomIndex.readEq(spark, root, "name", "doc_new")
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(1000L))
    intercept[IllegalArgumentException] {
      BloomIndex.readEq(spark, root, "name", "doc_new", requireFresh = true)
    }
    // re-refresh re-stamps; the new value then probes to its partition
    BloomIndex.refresh(spark, root, "name")
    val again = BloomIndex.readEq(spark, root, "name", "doc_new", requireFresh = true)
    assert(again.count() == 1L)
  }

  test("null handling: all-null partitions are skippable, null probe refused, nulls never match") {
    val root = fresh()
    val df = Seq((1L, Some("a"), 0L), (2L, None, 1L), (3L, None, 1L))
      .toDF("id", "name", "pt")
    ManifestStore.write(spark, df, root, "pt")
    BloomIndex.refresh(spark, root, "name")
    // pt=1 is all-null → no bloom row → provably empty of `name = 'a'`
    val out = BloomIndex.readEq(spark, root, "name", "a", requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      BloomIndex.readEq(spark, root, "name", null)
    }
    intercept[IllegalArgumentException] {
      BloomIndex.refresh(spark, root, "pt")
    }
  }

  private def wordsOf(root: String, valCol: String) = {
    val bt = new org.apache.hadoop.fs.Path(root, s"_bloom/$valCol").toString
    ManifestStore.read(spark, bt)
      .select(col("pt"), explode(col("__words")).as(Seq("__w", "__bits")))
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
  }

  test("mergeAppend: one commit folds in without rescanning history, bit-identical to refresh") {
    val root = fresh()
    ManifestStore.write(spark,
      rows.filter(_._3 < 3).toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    val day3 = rows.filter(_._3 == 3).toDF("id", "name", "pt")
    ManifestStore.merge(spark, root, day3, Seq("id"), "pt")
    BloomIndex.mergeAppend(spark, root, "name", day3)
    // fresh at the NEW snapshot: both an old and a new value probe
    val newer = BloomIndex.readEq(spark, root, "name", "doc_350", requireFresh = true)
    assert(newer.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(350L))
    assert(ManifestStore.selectedPartitionTotal(newer) == 1L)
    val older = BloomIndex.readEq(spark, root, "name", "doc_50", requireFresh = true)
    assert(older.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(50L))
    // pure append: the merged index IS the from-scratch index, bit for bit
    val merged = wordsOf(root, "name")
    BloomIndex.refresh(spark, root, "name")
    assert(merged == wordsOf(root, "name"))
  }

  test("mergeAppend: refuses a version gap (an uncovered commit would mean false negatives)") {
    val root = fresh()
    ManifestStore.write(spark,
      rows.filter(_._3 < 3).toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    val d3 = rows.filter(_._3 == 3).toDF("id", "name", "pt")
    ManifestStore.merge(spark, root, d3, Seq("id"), "pt")
    ManifestStore.merge(spark, root,
      Seq((2000L, "doc_x", 9L)).toDF("id", "name", "pt"), Seq("id"), "pt")
    intercept[IllegalArgumentException] {
      BloomIndex.mergeAppend(spark, root, "name", d3)
    }
  }

  test("mergeAppend: replay after a crash before the stamp converges (bit_or is idempotent)") {
    val day3 = rows.filter(_._3 == 3).toDF("id", "name", "pt")
    def merged(): String = {
      val root = fresh()
      ManifestStore.write(spark,
        rows.filter(_._3 < 3).toDF("id", "name", "pt"), root, "pt")
      BloomIndex.refresh(spark, root, "name")
      ManifestStore.merge(spark, root, day3, Seq("id"), "pt")
      root
    }
    val ref = merged()
    BloomIndex.mergeAppend(spark, ref, "name", day3)
    val once = wordsOf(ref, "name")
    // crash window: words committed, sidecar not — replay the same batch
    val root = merged()
    Failpoints.crashAfter(s"$root/_bloom/name")(BloomIndex.mergeAppend(spark, root, "name", day3))
    BloomIndex.mergeAppend(spark, root, "name", day3)
    assert(wordsOf(root, "name") == once)
  }

  test("mergeAppend: a replace-merge keeps the old value's bits (false positive, never negative)") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    val upd = Seq((250L, "doc_renamed", 2L)).toDF("id", "name", "pt")
    ManifestStore.merge(spark, root, upd, Seq("id"), "pt")
    BloomIndex.mergeAppend(spark, root, "name", upd)
    // the new value is found
    val renamed = BloomIndex.readEq(spark, root, "name", "doc_renamed", requireFresh = true)
    assert(renamed.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(250L))
    // the replaced value's bits linger: its old partition still scans
    // (false positive) but the RESULT is exact — zero rows
    val gone = BloomIndex.readEq(spark, root, "name", "doc_250", requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(gone) == 1L)
    assert(gone.count() == 0L)
    // a full refresh re-measures and the lingering bits drop out
    BloomIndex.refresh(spark, root, "name")
    val after = BloomIndex.readEq(spark, root, "name", "doc_250", requireFresh = true)
    assert(after.count() == 0L)
    assert(ManifestStore.selectedPartitionTotal(after) == 0L)
  }

  test("maintainAppend: no-op at stamp==snapshot, fold at gap 1, sized rebuild at a torn window") {
    val root = fresh()
    ManifestStore.write(spark,
      rows.filter(_._3 < 2).toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name", bits = 1 << 12, hashes = 3)
    // gap 0: replay after a completed fold must not touch the index
    val before = wordsOf(root, "name")
    BloomIndex.maintainAppend(spark, root, "name",
      rows.filter(_._3 < 2).toDF("id", "name", "pt"))
    assert(wordsOf(root, "name") == before)
    // gap 1: folds
    val d2 = rows.filter(_._3 == 2).toDF("id", "name", "pt")
    ManifestStore.merge(spark, root, d2, Seq("id"), "pt")
    BloomIndex.maintainAppend(spark, root, "name", d2)
    assert(BloomIndex.readEq(spark, root, "name", "doc_250", requireFresh = true)
      .count() == 1L)
    // torn window: two commits land, the batch handed in covers one —
    // maintainAppend must REBUILD (covering both), keeping (m, K)
    val d3a = rows.filter(t => t._3 == 3 && t._1 % 2 == 0).toDF("id", "name", "pt")
    val d3b = rows.filter(t => t._3 == 3 && t._1 % 2 == 1).toDF("id", "name", "pt")
    ManifestStore.merge(spark, root, d3a, Seq("id"), "pt")
    ManifestStore.merge(spark, root, d3b, Seq("id"), "pt")
    BloomIndex.maintainAppend(spark, root, "name", d3b)
    val found = BloomIndex.readEq(spark, root, "name", "doc_302", requireFresh = true)
    assert(found.count() == 1L) // d3a's doc — only a full rebuild covers it
    val bt = new org.apache.hadoop.fs.Path(root, "_bloom/name").toString
    val meta = graft.ext.StoreSidecar.read(spark, bt,
      Seq("bits", "hashes")).get
    assert(meta("bits") == (1L << 12) && meta("hashes") == 3L)
  }

  test("readIn: scans the union of the keys' partitions, exact results, loud boundaries") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "name")
    // keys from two partitions (pt=0, pt=3) + one absent key
    val out = BloomIndex.readIn(spark, root, "name",
      Seq("doc_50", "doc_350", "doc_9999"), requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 2L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSet ==
      Set(50L, 350L))
    // all-absent: zero partitions
    val none = BloomIndex.readIn(spark, root, "name",
      Seq("doc_9998", "doc_9999"), requireFresh = true)
    assert(none.count() == 0L)
    assert(ManifestStore.selectedPartitionTotal(none) == 0L)
    // boundaries: empty / null-bearing / oversized lists are refused
    intercept[IllegalArgumentException] {
      BloomIndex.readIn(spark, root, "name", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      BloomIndex.readIn(spark, root, "name", Seq("doc_1", null))
    }
    intercept[IllegalArgumentException] {
      BloomIndex.readIn(spark, root, "name", (1 to 257).map(i => s"doc_$i"))
    }
  }

  test("non-string columns hash consistently between refresh and probe") {
    val root = fresh()
    ManifestStore.write(spark, rows.toDF("id", "name", "pt"), root, "pt")
    BloomIndex.refresh(spark, root, "id")
    val out = BloomIndex.readEq(spark, root, "id", 250L, requireFresh = true)
    assert(out.select(col("name")).collect().map(_.getString(0)).toSeq ==
      Seq("doc_250"))
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
  }

  // ---- token blooms (x174): keyword skipping inside a text column ----

  private val textRows = Seq(
    (1L, "alpha beta gamma", 0L),
    (2L, "beta delta epsilon", 0L),
    (3L, "zeta eta theta", 1L),
    (4L, "alpha theta iota", 2L),
    (5L, null.asInstanceOf[String], 2L))

  test("token probe scans only partitions whose bloom might contain ALL terms") {
    val root = fresh()
    ManifestStore.write(spark, textRows.toDF("id", "text", "pt"), root, "pt")
    BloomIndex.refreshTokens(spark, root, "text")
    // 'alpha' lives in pt 0 and 2; 'beta' only in pt 0 → conjunction
    // prunes to pt 0, and the residual keeps only doc 1
    val out = BloomIndex.readContainsAll(spark, root, "text",
      Seq("alpha", "beta"), requireFresh = true)
    assert(ManifestStore.selectedPartitionTotal(out) == 1L)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // single common term: both holders found across partitions
    val a = BloomIndex.readContainsAll(spark, root, "text", Seq("alpha"),
      requireFresh = true)
    assert(a.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
  }

  test("token probe: absent term scans nothing; null text never matches") {
    val root = fresh()
    ManifestStore.write(spark, textRows.toDF("id", "text", "pt"), root, "pt")
    BloomIndex.refreshTokens(spark, root, "text")
    val out = BloomIndex.readContainsAll(spark, root, "text", Seq("missing"),
      requireFresh = true)
    assert(out.count() == 0L)
  }

  test("token probe refuses terms outside the index alphabet") {
    val root = fresh()
    ManifestStore.write(spark, textRows.toDF("id", "text", "pt"), root, "pt")
    BloomIndex.refreshTokens(spark, root, "text")
    intercept[IllegalArgumentException] {
      BloomIndex.readContainsAll(spark, root, "text", Seq("Alpha"))
    }
    intercept[IllegalArgumentException] {
      BloomIndex.readContainsAll(spark, root, "text", Seq("two words"))
    }
  }

  test("token fold: a pure append's fold is bit-identical to a full refresh") {
    val root = fresh()
    ManifestStore.write(spark, textRows.toDF("id", "text", "pt"), root, "pt")
    BloomIndex.refreshTokens(spark, root, "text")
    val batch = Seq((6L, "kappa lambda", 3L)).toDF("id", "text", "pt")
    ManifestStore.merge(spark, root, batch, Seq("id"), "pt")
    BloomIndex.mergeAppendTokens(spark, root, "text", batch)
    val folded = sortedRows(ManifestStore.read(spark, s"$root/_bloomtok/text")
      .select(col("pt"), explode(col("__words")).as(Seq("w", "b"))))
    BloomIndex.refreshTokens(spark, root, "text")
    val refreshed = sortedRows(ManifestStore.read(spark, s"$root/_bloomtok/text")
      .select(col("pt"), explode(col("__words")).as(Seq("w", "b"))))
    assert(folded == refreshed)
    // and the folded index answers the new doc's terms
    val out = BloomIndex.readContainsAll(spark, root, "text", Seq("kappa"),
      requireFresh = true)
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("stale token index: silent fallback stays correct; requireFresh is loud") {
    val root = fresh()
    ManifestStore.write(spark, textRows.toDF("id", "text", "pt"), root, "pt")
    BloomIndex.refreshTokens(spark, root, "text")
    ManifestStore.merge(spark, root,
      Seq((7L, "omega alpha", 4L)).toDF("id", "text", "pt"), Seq("id"), "pt")
    val out = BloomIndex.readContainsAll(spark, root, "text", Seq("omega"))
    assert(out.select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(7L))
    intercept[IllegalArgumentException] {
      BloomIndex.readContainsAll(spark, root, "text", Seq("omega"),
        requireFresh = true)
    }
  }
}
