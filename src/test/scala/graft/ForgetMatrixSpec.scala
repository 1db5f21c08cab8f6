package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, DedupStores, IndexStore}
import graft.sources.{Failpoints, ManifestStore}

/** Right-to-be-forgotten over the text-side maintained stores (x171
  * dedup stores, x172 BM25 index) — the cases the sf-gate fixture can't
  * exercise: shared-fingerprint survival, crash-window convergence at
  * each commit boundary, and the stats txn fence.
  */
class ForgetMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(p: String): String =
    graft.Scratch.path(s"${p}_${java.util.UUID.randomUUID().toString.take(8)}")

  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
    (3L, "one two three four five six seven eight"),
    (4L, "totally different content with unique words here"),
    (5L, "one two three four five six seven nine") // near dup of 3
  ).toDF("doc_id", "text")

  test("forgetById cures the divergent fp orphans that keep flagging erased content") {
    import graft.ext.DedupStores
    import graft.sources.ManifestStore
    val (fpT, idxT) = (fresh("fpid"), fresh("idxid"))
    DedupStores.build(spark, corpus, "doc_id", "text", fpT, idxT, partitions = 4)
    val doomed = corpus.filter(col("doc_id") === 4L)
    // divergent request: wrong bytes → the fp delete matches nothing,
    // DETERMINISTICALLY (the key IS the content hash)
    DedupStores.forget(spark, doomed.withColumn("text", lit("wrong bytes")),
      "doc_id", "text", fpT, idxT)
    assert(ManifestStore.read(spark, fpT).filter(col("id") === 4L).count() == 1L)
    // the orphan keeps flagging the erased content as already-seen
    val leak = DedupStores.probe(spark,
      Seq((99L, "totally different content with unique words here"))
        .toDF("doc_id", "text"), "doc_id", "text", fpT, idxT)
    assert(leak.filter(col("is_exact_dup")).count() == 1L)
    DedupStores.forgetById(spark, Seq(4L).toDF("id"), "id", fpT, idxT)
    DedupStores.forgetById(spark, Seq(4L).toDF("id"), "id", fpT, idxT)
    assert(ManifestStore.read(spark, fpT).filter(col("id") === 4L).count() == 0L)
    val cured = DedupStores.probe(spark,
      Seq((99L, "totally different content with unique words here"))
        .toDF("doc_id", "text"), "doc_id", "text", fpT, idxT)
    assert(cured.filter(col("is_exact_dup")).count() == 0L)
    intercept[IllegalStateException] {
      DedupStores.forgetById(spark, Seq(4L).toDF("id"), "id", fpT, fresh("none"))
    }
  }

  test("x171: forgetting ONE holder of a shared fingerprint keeps exact-dup detection") {
    val fpT = fresh("fp")
    val idxT = fresh("idx")
    DedupStores.build(spark, corpus, "doc_id", "text", fpT, idxT)
    // forget doc 1; doc 2 has identical text and survives
    DedupStores.forget(spark, corpus.filter(col("doc_id") === 1L),
      "doc_id", "text", fpT, idxT)
    val probe = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = DedupStores.probe(spark, probe, "doc_id", "text", fpT, idxT)
      .collect().head
    assert(got.getAs[Boolean]("is_exact_dup"),
      "surviving holder's fp row must keep the content detectable")
    // now forget the LAST holder: the fp disappears
    DedupStores.forget(spark, corpus.filter(col("doc_id") === 2L),
      "doc_id", "text", fpT, idxT)
    val got2 = DedupStores.probe(spark, probe, "doc_id", "text", fpT, idxT)
      .collect().head
    assert(!got2.getAs[Boolean]("is_exact_dup"))
  }

  test("x171: forget removes near-dup detectability of exactly the doomed doc") {
    val fpT = fresh("fp")
    val idxT = fresh("idx")
    DedupStores.build(spark, corpus, "doc_id", "text", fpT, idxT)
    val probe = Seq((11L, "one two three four five six seven ten"))
      .toDF("doc_id", "text")
    // near-dups with 3 AND 5 pre-forget
    assert(DedupStores.probe(spark, probe, "doc_id", "text", fpT, idxT)
      .collect().head.getAs[Boolean]("is_near_dup"))
    DedupStores.forget(spark, corpus.filter(col("doc_id").isin(3L, 5L)),
      "doc_id", "text", fpT, idxT)
    assert(!DedupStores.probe(spark, probe, "doc_id", "text", fpT, idxT)
      .collect().head.getAs[Boolean]("is_near_dup"),
      "both near-dup sources forgotten — the index must no longer match")
    // other docs' rows untouched: store == build on survivors
    val rebuilt = fresh("idx2")
    val fpR = fresh("fp2")
    DedupStores.build(spark, corpus.filter(!col("doc_id").isin(3L, 5L)),
      "doc_id", "text", fpR, rebuilt)
    val a = ManifestStore.read(spark, idxT).select("id").collect().map(_.getLong(0)).sorted
    val b = ManifestStore.read(spark, rebuilt).select("id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "surviving index ids must equal a survivor-only build")
  }

  test("x171: crash between the fp delete and the index delete converges on re-run") {
    val fpT = fresh("fp")
    val idxT = fresh("idx")
    DedupStores.build(spark, corpus, "doc_id", "text", fpT, idxT)
    val doomed = corpus.filter(col("doc_id") === 4L)
    // simulate the half-committed state: fp rows deleted, index NOT
    val doomedFp = doomed.select(col("doc_id").as("id"),
        graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
      .withColumn("pt", pmod(xxhash64(col("fp")), lit(8L)))
    ManifestStore.delete(spark, fpT, doomedFp, Seq("fp", "id"), Seq("pt"))
    assert(ManifestStore.read(spark, idxT).filter(col("id") === 4L).count() == 1L)
    // recovery: the SAME forget re-run must converge
    DedupStores.forget(spark, doomed, "doc_id", "text", fpT, idxT)
    assert(ManifestStore.read(spark, idxT).filter(col("id") === 4L).count() == 0L)
    assert(ManifestStore.read(spark, fpT).filter(col("id") === 4L).count() == 0L)
  }

  // ---- x172: BM25 index forget ----

  private def buildIndex(root: String): Unit =
    Seq(("d0", 0L), ("d1", 1L)).foreach { case (d, parity) =>
      IndexStore.appendDay(spark,
        corpus.filter(col("doc_id") % 2 === parity), "doc_id", "text", d, root)
    }

  test("x172: forget subtracts the right day's stats and empties the doc's rows") {
    val root = fresh("bm")
    buildIndex(root)
    val doomed = corpus.filter(col("doc_id") === 3L) // odd → day d1
    IndexStore.forget(spark, doomed, "doc_id", "text", root, forgetSeq = 1L)
    assert(ManifestStore.read(spark, s"$root/postings")
      .filter(col("id") === 3L).count() == 0L)
    assert(ManifestStore.read(spark, s"$root/lens")
      .filter(col("id") === 3L).count() == 0L)
    val st = ManifestStore.read(spark, s"$root/stats")
      .orderBy("day").collect()
    assert(st.map(_.getAs[String]("day")).toSeq == Seq("d0", "d1"))
    // d0 (docs 2, 4) untouched; d1 (docs 1, 3, 5) lost doc 3's 8 tokens
    assert(st(0).getAs[Long]("nd") == 2L)
    assert(st(1).getAs[Long]("nd") == 2L)
    assert(st(1).getAs[Long]("tl") == 6L + 8L) // docs 1 (6 tokens) + 5 (8)
  }

  test("x172: the txn fence stops a replayed stats subtraction at every crash window") {
    val root = fresh("bm")
    buildIndex(root)
    val doomed = corpus.filter(col("doc_id") === 5L)
    def nd1(): Long = ManifestStore.read(spark, s"$root/stats")
      .filter(col("day") === "d1").collect().head.getAs[Long]("nd")
    // crash window A: postings deleted, stats + lens not — the re-run
    // must still subtract stats (fence not yet recorded) exactly once
    val cells = graft.ext.LangModel.tokenRows(doomed, "doc_id", "text")
      .select(col("w"), col("id")).distinct()
      .withColumn("pt", pmod(xxhash64(col("w").cast("string")), lit(8L)))
    ManifestStore.delete(spark, s"$root/postings", cells, Seq("w", "id"), Seq("pt"))
    IndexStore.forget(spark, doomed, "doc_id", "text", root, forgetSeq = 7L)
    assert(nd1() == 2L, "docs 1 and 3 remain on d1")
    // full replay after completion: presence gate is empty → no-op
    IndexStore.forget(spark, doomed, "doc_id", "text", root, forgetSeq = 7L)
    assert(nd1() == 2L)

    // crash window B on a SECOND request (doc 1): postings + fenced stats
    // committed, lens NOT — the re-run sees the doc as present, but the
    // fence must stop the second subtraction
    val doomed2 = corpus.filter(col("doc_id") === 1L)
    val present2 = ManifestStore.read(spark, s"$root/lens")
      .filter(col("id") === 1L).select(col("id"), col("len"), col("day"))
    val delta2 = present2.groupBy(col("day"))
      .agg(count(lit(1)).as("dn"), sum(col("len")).as("dl"))
    val corrected2 = ManifestStore.read(spark, s"$root/stats")
      .join(delta2, Seq("day"))
      .select(col("day"), (col("nd") - col("dn")).as("nd"),
        (col("tl") - col("dl")).as("tl"))
    ManifestStore.merge(spark, s"$root/stats", corrected2,
      Seq("day"), Seq("day"), txnRecord = Map("forget" -> 9L))
    assert(nd1() == 1L, "manual half-commit applied once")
    IndexStore.forget(spark, doomed2, "doc_id", "text", root, forgetSeq = 9L)
    assert(nd1() == 1L, "fence must stop the second subtraction")
    assert(ManifestStore.read(spark, s"$root/lens")
      .filter(col("id") === 1L).count() == 0L, "recovery run must finish the lens delete")
  }

  test("x172: probe after forget == batch BM25 over the survivors") {
    val root = fresh("bm")
    buildIndex(root)
    IndexStore.forget(spark, corpus.filter(col("doc_id").isin(1L, 3L)),
      "doc_id", "text", root, forgetSeq = 1L)
    val qs = Seq(("q1", Seq("one", "alpha")), ("q2", Seq("unique", "five")))
      .toDF("query_id", "terms")
    val got = IndexStore.bm25Probe(spark, root, qs, "doc_id", topK = 5)
      .orderBy("query_id", "rank").collect()
    val want = graft.ext.Retrieval.bm25TopK(
        corpus.filter(!col("doc_id").isin(1L, 3L)), "doc_id", "text", qs, 5)
      .orderBy("query_id", "rank").collect()
    assert(got.toSeq == want.toSeq)
  }

  // ---- x173: cluster-store forget ----

  import graft.ext.ClusterStore

  private def pairGraph = Seq(
    (1L, 2L), (2L, 3L), // cluster {1,2,3}, label 1, bridged by 2
    (10L, 11L) // cluster {10,11}, label 10
  ).toDF("id_a", "id_b")

  private def labelMap(root: String): Map[Long, Long] =
    ClusterStore.readLabels(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("x173: forgetting a cluster min relabels survivors to the min survivor") {
    val root = fresh("cl")
    ClusterStore.build(spark, pairGraph, root)
    ClusterStore.forget(spark, Seq(1L).toDF("id"), "id", root)
    assert(labelMap(root) == Map(2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L))
    // the twin follows: routed lookups see the new labels
    val twin = ManifestStore.read(spark, s"$root/_idindex")
      .select("id", "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twin == Map(2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L))
  }

  test("x173: forgetting the bridge keeps survivors together (documented no-split)") {
    val root = fresh("cl")
    ClusterStore.build(spark, pairGraph, root)
    ClusterStore.forget(spark, Seq(2L).toDF("id"), "id", root)
    // 1 and 3 were connected only through 2 — the conservative
    // semantics keep them one cluster under the surviving min
    assert(labelMap(root) == Map(1L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("x173: forgetting a whole cluster removes it; unknown ids are a no-op") {
    val root = fresh("cl")
    ClusterStore.build(spark, pairGraph, root)
    ClusterStore.forget(spark, Seq(10L, 11L, 999L).toDF("id"), "id", root)
    assert(labelMap(root) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    ClusterStore.forget(spark, Seq(999L).toDF("id"), "id", root)
    assert(labelMap(root) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("x173: a replayed forget converges from every crash window") {
    val doomed = Seq(1L, 10L).toDF("id")
    // recovery from every window: the SAME forget re-run to completion
    val (steps, (labels, twinIds)) = crashEveryStep(
      fixture = () => {
        val root = fresh("cl")
        ClusterStore.build(spark, pairGraph, root)
        root
      },
      op = root => ClusterStore.forget(spark, doomed, "id", root),
      result = root => (labelMap(root), ManifestStore.read(spark, s"$root/_idindex")
        .select("id").collect().map(_.getLong(0)).toSet))((_, _, _) => ())
    // members stay locatable at every crash point, so lookups die last:
    // twin merge, main merge, main delete, twin delete
    assert(steps == Seq(Failpoints.Step("/_idindex", 1), Failpoints.Step("", 1),
      Failpoints.Step("", 2), Failpoints.Step("/_idindex", 2)))
    assert(labels == Map(2L -> 2L, 3L -> 2L, 11L -> 11L))
    assert(twinIds == Set(2L, 3L, 11L))
  }

  test("x173: forget refuses to run inside an open append crash window") {
    val root = fresh("cl")
    ClusterStore.build(spark, pairGraph, root)
    // crash an append between its twin merge and its main-table commit
    Failpoints.crashAfter(s"$root/_idindex") {
      ClusterStore.appendPairs(spark, Seq((3L, 4L)).toDF("id_a", "id_b"), root)
    }
    val e = intercept[IllegalStateException] {
      ClusterStore.forget(spark, Seq(10L).toDF("id"), "id", root)
    }
    assert(e.getMessage.contains("unreplayed crashed append"))
    // replaying the append closes the window; the forget then runs
    ClusterStore.appendPairs(spark, Seq((3L, 4L)).toDF("id_a", "id_b"), root)
    ClusterStore.forget(spark, Seq(10L).toDF("id"), "id", root)
    assert(labelMap(root) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 11L -> 11L))
  }

  test("x172: forgetting ids the store never held is a no-op") {
    val root = fresh("bm")
    buildIndex(root)
    val before = ManifestStore.read(spark, s"$root/stats")
      .agg(sum(col("nd")), sum(col("tl"))).collect().head
    IndexStore.forget(spark,
      Seq((99L, "ghost words never ingested")).toDF("doc_id", "text"),
      "doc_id", "text", root, forgetSeq = 3L)
    val after = ManifestStore.read(spark, s"$root/stats")
      .agg(sum(col("nd")), sum(col("tl"))).collect().head
    assert(before == after)
    assert(ManifestStore.read(spark, s"$root/postings")
      .filter(col("id") === 99L).count() == 0L)
  }
}
