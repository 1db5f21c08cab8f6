package graft

import org.apache.spark.sql.functions._
import graft.ext.VectorStore
import graft.sources.{Failpoints, ManifestStore}

/** Right-to-be-forgotten over the maintained ANN index (x157):
  * pruned twin lookup, crash-path convergence.
  */
class VectorForgetSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"vforget_${java.util.UUID.randomUUID().toString.take(8)}")

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def buildStore(root: String): Unit =
    VectorStore.build(spark, emb, emb.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", root, dim = 64, m = 4, k = 16, stride = 3)

  test("forget removes codes + assignment; probe can no longer return the ids") {
    val root = fresh()
    buildStore(root)
    val doomed = emb.filter(col("vec_id") % 11 === 3).select(col("vec_id"))
    assert(doomed.count() > 0)
    VectorStore.forget(spark, doomed, "vec_id", root)
    assert(ManifestStore.read(spark, s"$root/codes")
      .join(doomed, Seq("vec_id"), "left_semi").count() == 0L)
    assert(ManifestStore.read(spark, s"$root/assign")
      .join(doomed, Seq("vec_id"), "left_semi").count() == 0L)
    val got = VectorStore.probe(spark, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", root, 64, 4, 16, 3, nprobe = 3, topK = 10)
    assert(got.filter(col("vec_id") % 11 === 3).count() == 0L)
    assert(got.count() > 0L)
  }

  test("assign lookup is partition-pruned: inputFiles ⊆ the ids' buckets") {
    val root = fresh()
    buildStore(root)
    val ids = Seq(3L, 17L).toDF("vec_id")
    val probe = VectorStore.assignProbe(spark, root, ids)
    val expected = ids
      .select(pmod(xxhash64(col("vec_id").cast("string")), lit(8L)).as("b"))
      .collect().map(r => s"ptid=${r.getLong(0)}").toSet
    assert(probe.inputFiles.nonEmpty &&
      probe.inputFiles.forall(f => expected.exists(b => f.contains(b))),
      s"expected ⊆ $expected, got ${probe.inputFiles.mkString(",")}")
  }

  test("crash between codes delete and twin delete: re-running converges") {
    val root = fresh()
    buildStore(root)
    val doomed = Seq(5L, 27L).toDF("vec_id")
    // the half-committed state: codes deleted, twin NOT — a crash after
    // forget's first commit
    Failpoints.crashAfter(s"$root/codes")(VectorStore.forget(spark, doomed, "vec_id", root))
    assert(ManifestStore.read(spark, s"$root/codes")
      .join(doomed, Seq("vec_id"), "left_semi").count() == 0L)
    assert(ManifestStore.read(spark, s"$root/assign")
      .join(doomed, Seq("vec_id"), "left_semi").count() == 2L)
    // the recovery path: the SAME forget, re-run, must converge
    VectorStore.forget(spark, doomed, "vec_id", root)
    assert(ManifestStore.read(spark, s"$root/codes")
      .join(doomed, Seq("vec_id"), "left_semi").count() == 0L)
    assert(ManifestStore.read(spark, s"$root/assign")
      .join(doomed, Seq("vec_id"), "left_semi").count() == 0L)
  }

  private def probeSet(r: String, qs: org.apache.spark.sql.DataFrame) =
    VectorStore.probe(spark, qs, "vec_id", "embedding", r,
      64, 4, 16, 3, nprobe = 3, topK = 10)
      .collect().map(_.toSeq).toSet

  test("rebuild: forget -> rebuild is bit-identical to build over survivors") {
    val root = fresh()
    buildStore(root)
    val doomed = emb.filter(col("vec_id") % 11 === 3).select(col("vec_id"))
    VectorStore.forget(spark, doomed, "vec_id", root)
    val surv = emb.filter(col("vec_id") % 11 =!= 3)
    val cents = surv.filter(col("vec_id") % 50 === 0)
    VectorStore.rebuild(spark, surv, cents, "vec_id", "embedding", root,
      64, 4, 16, 3, rebuildSeq = 1L)
    val want = fresh()
    VectorStore.build(spark, surv, cents, "vec_id", "embedding", want,
      64, 4, 16, 3)
    val qs = surv.filter(col("vec_id") < 12)
    assert(probeSet(root, qs) == probeSet(want, qs) && probeSet(root, qs).nonEmpty)
    // the MODEL genuinely retrained (the unlearning claim): every model
    // table equals the survivors-only build's, row for row
    for (sub <- Seq("codebook", "centroids", "codes", "assign")) {
      val a = ManifestStore.read(spark, s"$root/$sub").collect().map(_.toSeq).toSet
      val b = ManifestStore.read(spark, s"$want/$sub").collect().map(_.toSeq).toSet
      assert(a == b, s"$sub diverged after rebuild")
    }
  }

  test("rebuild replay converges from every crash position; the fence holds mid-window") {
    // an attrs-bearing store, so the attrs overwrite is a crash position too
    val attrs = Seq("label")
    val surv = emb.filter(col("vec_id") % 11 =!= 3)
    val cents = surv.filter(col("vec_id") % 50 === 0)
    val want = fresh()
    VectorStore.build(spark, surv, cents, "vec_id", "embedding", want,
      64, 4, 16, 3, attrCols = attrs)
    val qs = surv.filter(col("vec_id") < 12)
    def tableRows(r: String, sub: String) =
      ManifestStore.read(spark, s"$r/$sub").collect().map(_.toSeq).toSet
    val (steps, got) = crashEveryStep(
      fixture = () => {
        val root = fresh()
        VectorStore.build(spark, emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", root, 64, 4, 16, 3, attrCols = attrs)
        root
      },
      // the replay (same ticket, same inputs) closes the window
      op = root => VectorStore.rebuild(spark, surv, cents, "vec_id", "embedding", root,
        64, 4, 16, 3, rebuildSeq = 7L, attrCols = attrs),
      result = root => (probeSet(root, qs), tableRows(root, "attrs"))) { (root, st, last) =>
      // mid-window every read/write surface refuses loudly: the model
      // tables and codes disagree about which model encoded what. The
      // window right after the codebook commit is the one the r14
      // advice flagged: the fence is open but the geometry sidecar has
      // NOT yet flipped (pre-fix, the sidecar flipped first and a crash
      // there left new-geometry probes passing both checks)
      if (!last) for (op <- Seq[() => Any](
        () => VectorStore.probe(spark, qs, "vec_id", "embedding", root,
          64, 4, 16, 3, nprobe = 3, topK = 10),
        () => VectorStore.appendDay(spark, surv.limit(5), "vec_id", "embedding",
          root, 64, 4, 16, 3, attrCols = attrs),
        () => VectorStore.forget(spark, Seq(3L).toDF("vec_id"), "vec_id", root))) {
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("crashed rebuild"), s"$st: ${e.getMessage}")
      }
    }
    // codebook (fence opened), geometry sidecar, centroids, assign twin,
    // attrs, codes (fence closed)
    assert(steps.map(_.path) == Seq("/codebook", "/_graft_geometry.json", "/centroids",
      "/assign", "/attrs", "/codes"))
    // every replay converged to the survivors-only build
    assert(got == ((probeSet(want, qs), tableRows(want, "attrs"))))
  }

  test("forgetting ids the store never held is a no-op") {
    val root = fresh()
    buildStore(root)
    val before = ManifestStore.read(spark, s"$root/codes").count()
    VectorStore.forget(spark, Seq(999999L).toDF("vec_id"), "vec_id", root)
    assert(ManifestStore.read(spark, s"$root/codes").count() == before)
  }
}
