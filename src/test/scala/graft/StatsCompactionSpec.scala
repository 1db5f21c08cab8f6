package graft

import org.apache.spark.sql.functions._
import graft.ext.{IndexStore, Retrieval}
import graft.sources.{Failpoints, ManifestStore}

/** ManifestStore.replaceWhere (atomic INSERT OVERWRITE of selected
  * partitions) + IndexStore.compactStats (x224): overwrite semantics,
  * probe bit-equality across compaction, the started/completed crash
  * fence, and the epoch-namespace guard.
  */
class StatsCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): String =
    graft.Scratch.path(s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")

  test("replaceWhere: doomed partitions drop, batch partitions overwrite, atomically") {
    val table = fresh("rw")
    ManifestStore.write(spark,
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L)).toDF("v", "p"), table, "p")
    // fold p=0 and p=1 into p=9; also hand p=2 a complete replacement
    ManifestStore.replaceWhere(spark, table,
      Seq((100L, 9L), (40L, 2L)).toDF("v", "p"),
      Seq(0L, 1L).toDF("p"), Seq("p"))
    // partition values read back via directory-name inference (int) —
    // compare through an explicit cast
    val got = ManifestStore.read(spark, table)
      .select(col("v"), col("p").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 9L), (40L, 2L)))
    // absent doomed partitions are a no-op; an empty call changes nothing
    val v0 = ManifestStore.currentVersion(spark, table)
    ManifestStore.replaceWhere(spark, table,
      spark.emptyDataset[(Long, Long)].toDF("v", "p"),
      Seq(777L).toDF("p"), Seq("p"))
    assert(ManifestStore.currentVersion(spark, table) == v0)
    assert(ManifestStore.read(spark, table).count() == 2L)
  }

  private val docs = Seq(
    (1L, "alpha beta beta gamma"),
    (2L, "beta gamma gamma delta"),
    (3L, "alpha alpha epsilon"),
    (4L, "delta epsilon zeta alpha"),
    (5L, "zeta zeta beta")).toDF("doc_id", "text")

  private val qs = Seq(
    ("qa", Seq("alpha", "gamma")),
    ("qb", Seq("delta", "zeta"))).toDF("query_id", "terms")

  private def probe(root: String) =
    IndexStore.bm25Probe(spark, root, qs, "doc_id", topK = 10, partitions = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private def threeDay(root: String): Unit = {
    IndexStore.appendDay(spark, docs.filter(col("doc_id") <= 2),
      "doc_id", "text", "d0", root, partitions = 4)
    IndexStore.appendDay(spark, docs.filter(col("doc_id") === 3),
      "doc_id", "text", "d1", root, partitions = 4)
    IndexStore.appendDay(spark, docs.filter(col("doc_id") >= 4),
      "doc_id", "text", "d2", root, partitions = 4)
  }

  test("compaction is bit-invisible to the probe; forget subtracts from the epoch") {
    val root = fresh("cmp")
    threeDay(root)
    val before = probe(root)
    IndexStore.compactStats(spark, root, Seq("d0", "d1"), "epoch:a", 1L, partitions = 4)
    assert(probe(root) == before)
    assert(ManifestStore.read(spark, s"$root/stats")
      .select("day").collect().map(_.getString(0)).sorted.toSeq == Seq("d2", "epoch:a"))
    // replay converges
    IndexStore.compactStats(spark, root, Seq("d0", "d1"), "epoch:a", 1L, partitions = 4)
    assert(probe(root) == before)
    // forget a doc whose counts now live under the epoch
    IndexStore.forget(spark, docs.filter(col("doc_id") === 1),
      "doc_id", "text", root, forgetSeq = 1L, partitions = 4)
    val want = Retrieval.bm25TopK(docs.filter(col("doc_id") =!= 1),
        "doc_id", "text", qs, k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(probe(root) == want)
    // a second epoch folds the first one plus d2 — still bit-invisible
    IndexStore.compactStats(spark, root, Seq("epoch:a", "d2"), "epoch:b", 2L, partitions = 4)
    assert(probe(root) == want)
    assert(ManifestStore.read(spark, s"$root/stats").count() == 1L)
  }

  test("crash window: forget and a NEW compaction refuse; same-seq replay cures") {
    val root = fresh("fence")
    threeDay(root)
    // a crash between compactStats' two commits: the lens days are
    // rebadged (started marker) without the stats replacement
    Failpoints.crashAfter(s"$root/lens") {
      IndexStore.compactStats(spark, root, Seq("d0", "d1"), "epoch:a", 3L, partitions = 4)
    }
    intercept[IllegalArgumentException] {
      IndexStore.forget(spark, docs.filter(col("doc_id") === 1),
        "doc_id", "text", root, forgetSeq = 1L, partitions = 4)
    }
    intercept[IllegalArgumentException] {
      IndexStore.compactStats(spark, root, Seq("d2"), "epoch:z", 4L, partitions = 4)
    }
    // the cure: replay the OPEN compaction (same seq), then forget passes
    IndexStore.compactStats(spark, root, Seq("d0", "d1"), "epoch:a", 3L, partitions = 4)
    IndexStore.forget(spark, docs.filter(col("doc_id") === 1),
      "doc_id", "text", root, forgetSeq = 1L, partitions = 4)
    val want = Retrieval.bm25TopK(docs.filter(col("doc_id") =!= 1),
        "doc_id", "text", qs, k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(probe(root) == want)
  }

  test("momentsCompact: ledger folds away, direction bit-identical to survivors build") {
    import graft.ext.EmbedPost
    val dim = 4
    val vecs = (1L to 12L).map(i =>
      (i, Array.tabulate(dim)(d => ((i * 7 + d * 3) % 11).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val table = fresh("mom")
    (0 until 2).foreach { b =>
      EmbedPost.momentsAppendDay(spark,
        vecs.filter(col("vec_id") % 2 === b.toLong), "embedding", dim, s"d$b", table)
    }
    val doomed = vecs.filter(col("vec_id") % 3 === 0)
    EmbedPost.momentsForget(spark, doomed, "embedding", dim, "f1", table)
    val before = EmbedPost.directionFromMoments(spark, table, dim, iters = 3).toSeq
    EmbedPost.momentsCompact(spark, table, Seq("d0", "d1", "f1"), "epoch:a")
    EmbedPost.momentsCompact(spark, table, Seq("d0", "d1", "f1"), "epoch:a")
    assert(EmbedPost.directionFromMoments(spark, table, dim, iters = 3).toSeq == before)
    assert(ManifestStore.read(spark, s"$table/m1").count() == dim.toLong)
    // survivors-only from-scratch store gives the same direction
    val ref = fresh("momref")
    EmbedPost.momentsAppendDay(spark,
      vecs.filter(col("vec_id") % 3 =!= 0), "embedding", dim, "d0", ref)
    assert(EmbedPost.directionFromMoments(spark, ref, dim, iters = 3).toSeq == before)
    intercept[IllegalArgumentException] {
      EmbedPost.momentsAppendDay(spark, vecs, "embedding", dim, "epoch:x", table)
    }
    intercept[IllegalArgumentException] {
      EmbedPost.momentsForget(spark, doomed, "embedding", dim, "epoch:a", table)
    }
    intercept[IllegalArgumentException] {
      EmbedPost.momentsCompact(spark, table, Seq("epoch:a"), "nope")
    }
  }

  test("hllCompact: max fold is idempotent and the estimate unchanged") {
    import graft.ext.Sketches
    val rows = (1L to 60L).map(i => (s"g${i % 2}", s"v${i % 37}"))
      .toDF("grp", "v")
    val table = fresh("hll")
    (0 until 3).foreach { b =>
      Sketches.hllAppendDay(spark, rows.filter(xxhash64(col("v")) % 3 === b.toLong),
        "grp", "v", s"d$b", table)
    }
    val before = Sketches.hllEstimate(
        Sketches.hllRegistersFromStore(spark, table, "grp"), "grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Sketches.hllCompact(spark, table, "grp", Seq("d0", "d1", "d2"), "epoch:a")
    Sketches.hllCompact(spark, table, "grp", Seq("d0", "d1", "d2"), "epoch:a")
    val after = Sketches.hllEstimate(
        Sketches.hllRegistersFromStore(spark, table, "grp"), "grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before)
    assert(ManifestStore.read(spark, table).select("day").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("epoch:a"))
    intercept[IllegalArgumentException] {
      Sketches.hllAppendDay(spark, rows, "grp", "v", "epoch:a", table)
    }
  }

  test("kmvCompact: k-min set fold is exact, idempotent, and width-guarded") {
    import graft.ext.Sketches
    val rows = (1L to 200L).map(i => (s"g${i % 2}", s"v${i % 91}")).toDF("grp", "v")
    val table = fresh("kmv")
    (0 until 3).foreach { b =>
      Sketches.kmvAppendDay(spark, rows.filter(xxhash64(col("v")) % 3 === b.toLong),
        "grp", "v", s"d$b", table, k = 16)
    }
    val before = Sketches.kmvDistinctFromStore(spark, table, "grp", k = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Sketches.kmvCompact(spark, table, "grp", Seq("d0", "d1", "d2"), "epoch:a", k = 16)
    Sketches.kmvCompact(spark, table, "grp", Seq("d0", "d1", "d2"), "epoch:a", k = 16)
    assert(Sketches.kmvDistinctFromStore(spark, table, "grp", k = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet == before)
    assert(ManifestStore.read(spark, table).count() == 2L)
    // a narrower fold would drop mins later reads need — the sidecar's
    // k check is the width guard that refuses it
    intercept[IllegalArgumentException] {
      Sketches.kmvCompact(spark, table, "grp", Seq("epoch:a"), "epoch:b", k = 8)
    }
    intercept[IllegalArgumentException] {
      Sketches.kmvAppendDay(spark, rows, "grp", "v", "epoch:a", table, k = 16)
    }
  }

  test("kmv sidecar: narrow per-day arrays cannot launder a too-small fold k") {
    import graft.ext.Sketches
    // the adversarial case for the sidecar's k check: build k=16 over
    // days that each carry ≤ 8 distinct values, so no stored array is
    // wider than a k=8 fold — which would truncate the ≥ 8-wide UNION
    // and then read back as an "exact" count
    val rows = (1L to 12L).map(i => ("g", s"v$i")).toDF("grp", "v")
    val table = fresh("kmvnarrow")
    (0 until 3).foreach { b =>
      Sketches.kmvAppendDay(spark, rows.filter(pmod(xxhash64(col("v")), lit(3L)) === b.toLong),
        "grp", "v", s"d$b", table, k = 16)
    }
    val widest = ManifestStore.read(spark, table)
      .agg(max(size(col("mins")))).head().getInt(0)
    assert(widest <= 8, s"fixture days too wide ($widest) to exercise the hole")
    val e = intercept[IllegalArgumentException] {
      Sketches.kmvCompact(spark, table, "grp", Seq("d0", "d1", "d2"), "epoch:a", k = 8)
    }
    assert(e.getMessage.contains("k=16"))
    // a mismatched read width is refused the same way
    intercept[IllegalArgumentException] {
      Sketches.kmvDistinctFromStore(spark, table, "grp", k = 8)
    }
    // the store's own k still works and is exact (12 < 16 distinct)
    val got = Sketches.kmvDistinctFromStore(spark, table, "grp", k = 16)
      .head().getLong(1)
    assert(got == 12L)
  }

  test("compactStats: a stale compactSeq is refused even with the window closed") {
    val root = fresh("staleseq")
    threeDay(root)
    IndexStore.compactStats(spark, root, Seq("d0", "d1"), "epoch:01",
      compactSeq = 5L, partitions = 4)
    // seq 5 closed cleanly; a later invocation with seq 3 would commit
    // txn maps that REGRESS the started/completed fence — refused
    val e = intercept[IllegalArgumentException] {
      IndexStore.compactStats(spark, root, Seq("d2"), "epoch:02",
        compactSeq = 3L, partitions = 4)
    }
    assert(e.getMessage.contains("stale"))
    // replay with the SAME seq still converges, and a larger seq proceeds
    IndexStore.compactStats(spark, root, Seq("d0", "d1"), "epoch:01",
      compactSeq = 5L, partitions = 4)
    IndexStore.compactStats(spark, root, Seq("d2"), "epoch:02",
      compactSeq = 6L, partitions = 4)
  }

  test("epoch namespace is reserved: appendDay and compactStats refuse misuse") {
    val root = fresh("ns")
    threeDay(root)
    intercept[IllegalArgumentException] {
      IndexStore.appendDay(spark, docs, "doc_id", "text", "epoch:a", root, partitions = 4)
    }
    intercept[IllegalArgumentException] {
      IndexStore.compactStats(spark, root, Seq("d0"), "notanepoch", 1L, partitions = 4)
    }
    intercept[IllegalArgumentException] {
      IndexStore.compactStats(spark, root, Seq("d0", "epoch:a"), "epoch:a", 1L, partitions = 4)
    }
  }
}
