package graft

import org.apache.spark.sql.functions._
import graft.ext.ClusterStore
import graft.sources.Failpoints

/** Maintained cluster-label store (x147): incremental merge semantics
  * on hand-built graphs.
  */
class ClusterStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"clspec_${java.util.UUID.randomUUID().toString.take(8)}")

  test("appendPairs: min arriving later relabels the whole cluster") {
    val root = fresh()
    ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), root, 4)
    val pre = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pre == Set((2L, 2L), (3L, 2L)))
    // the new min (1) connects via ONE edge; both old members must
    // cascade to label 1 even though (1, 3) was never a pair
    ClusterStore.appendPairs(spark, Seq((1L, 2L)).toDF("id_a", "id_b"), root, 4)
    val got = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("appendPairs: bridging two stored clusters merges them") {
    val root = fresh()
    ClusterStore.build(spark,
      Seq((10L, 11L), (20L, 21L)).toDF("id_a", "id_b"), root, 4)
    ClusterStore.appendPairs(spark,
      Seq((11L, 21L)).toDF("id_a", "id_b"), root, 4)
    val got = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L)))
  }

  test("appendPairs: replay is idempotent; empty day is a no-op") {
    val root = fresh()
    ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), root, 4)
    val day = Seq((1L, 2L)).toDF("id_a", "id_b")
    ClusterStore.appendPairs(spark, day, root, 4)
    ClusterStore.appendPairs(spark, day, root, 4) // replay: replace, not dup
    ClusterStore.appendPairs(spark,
      spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b"), root, 4)
    val rows = ClusterStore.readLabels(spark, root).collect()
    assert(rows.length == 3 &&
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("appendPairs: replay converges from the crash window (merge committed, delete not)") {
    // the append crashes after each of its commits in turn; (root, 1)
    // is the window where the relabeled rows are merged into their NEW
    // partitions but the stale copies were never deleted — ids visible
    // under both labels. While a window is open a DIFFERENT day's append
    // must fail loudly (the replay fence); replaying the SAME day through
    // the public API must clear the duplicates and land on exactly the
    // final labels, and then the next day proceeds.
    val day1 = Seq((1L, 2L)).toDF("id_a", "id_b")
    val day2 = Seq((5L, 6L)).toDF("id_a", "id_b")
    def labels(root: String) = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (steps, (replayed, next)) = crashEveryStep(
      fixture = () => {
        val root = fresh()
        ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), root, 4)
        root
      },
      op = root => ClusterStore.appendPairs(spark, day1, root, 4),
      result = root => {
        val replayed = labels(root)
        ClusterStore.appendPairs(spark, day2, root, 4)
        (replayed, labels(root))
      }) { (root, st, last) =>
      if (st == Failpoints.Step("", 1))
        assert(labels(root).size > 3, "the merge-committed window should expose ids under two labels")
      if (!last) {
        val e = intercept[IllegalStateException](ClusterStore.appendPairs(spark, day2, root, 4))
        assert(e.getMessage.contains("unreplayed crashed append"), s"$st: ${e.getMessage}")
      }
    }
    // commit order: twin, main merge, stale delete
    assert(steps == Seq(Failpoints.Step("/_idindex", 1), Failpoints.Step("", 1),
      Failpoints.Step("", 2)))
    assert(replayed == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(next == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("twin lookup is partition-pruned: inputFiles ⊆ the touched ids' buckets") {
    val root = fresh()
    // 12 clusters spread over all 4 id buckets
    ClusterStore.build(spark,
      (0L until 12L).map(i => (i * 10 + 1, i * 10 + 2)).toDF("id_a", "id_b"), root, 4)
    val touched = Seq(11L, 42L).toDF("id")
    val probe = ClusterStore.twinProbe(spark, root, touched, 4)
    // the expected buckets via the same hash Spark uses: xxhash64 over
    // the id strings mod 4
    val expected = touched
      .select(pmod(xxhash64(col("id").cast("string")), lit(4L)).as("b"))
      .collect().map(r => s"ptid=${r.getLong(0)}").toSet
    assert(probe.inputFiles.nonEmpty &&
      probe.inputFiles.forall(f => expected.exists(b => f.contains(b))),
      s"expected ⊆ $expected, got ${probe.inputFiles.mkString(",")}")
  }

  test("cross-bucket relabel collision: fresh rows survive the stale delete") {
    // two clusters relabeled in ONE append where P's NEW label bucket
    // equals Q's OLD label bucket: a stale delete keyed on id alone
    // would also kill P's freshly merged rows in that partition — the
    // delete must be (id, pt)-scoped. Find ids exhibiting the collision
    // by searching the same hash Spark uses.
    def b(v: Long): Long = spark.range(1).select(
      pmod(xxhash64(lit(v).cast("string")), lit(4L))).head().getLong(0)
    // cluster P: {p1, p2} later joined by newMinP < p1 with
    // bucket(newMinP) == bucket(q1); cluster Q: {q1, q2} later joined
    // by newMinQ < q1 (any bucket)
    val cands = (1L to 200L)
    val p1 = cands.find(v => v > 50).get // label of P, day 0
    val q1 = cands.find(v => v > 50 && v != p1 && b(v) != b(p1)).get
    val newMinP = cands.find(v => v < 50 && b(v) == b(q1)).get
    val newMinQ = cands.find(v => v < newMinP).getOrElse(1L)
    assume(newMinQ < q1 && newMinP < p1 && newMinQ != newMinP)
    val root = fresh()
    ClusterStore.build(spark,
      Seq((p1, p1 + 500), (q1, q1 + 500)).toDF("id_a", "id_b"), root, 4)
    // ONE append relabels both: P → newMinP (landing in Q's old
    // bucket), Q → newMinQ (vacating that same bucket)
    ClusterStore.appendPairs(spark,
      Seq((newMinP, p1), (newMinQ, q1)).toDF("id_a", "id_b"), root, 4)
    val got = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((newMinP, newMinP), (p1, newMinP), (p1 + 500, newMinP),
      (newMinQ, newMinQ), (q1, newMinQ), (q1 + 500, newMinQ)),
      s"p1=$p1 q1=$q1 newMinP=$newMinP newMinQ=$newMinQ got=$got")
  }

  test("double crash: after main merge, replay, after twin merge, replay — no duplicates") {
    // the sequence that would orphan stale rows if prev_label were
    // min(member labels): append crashes between main merge and stale
    // delete, the REPLAY (whose member rows hold an id under BOTH
    // labels) crashes right after its twin merge — a min-based
    // breadcrumb would already point at the not-yet-deleted stale
    // copy's own (new) bucket, so the final replay could never find
    // and delete it. With max (= the pre-append bucket) it converges.
    val root = fresh()
    ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), root, 4)
    val day = Seq((1L, 2L)).toDF("id_a", "id_b")
    // crash 1: twin + main committed, stale delete not
    Failpoints.crashAfter(root)(ClusterStore.appendPairs(spark, day, root, 4))
    // fixture guard: the crash window really exposes live duplicates
    assert(ClusterStore.readLabels(spark, root).count() > 3,
      "crash 1 should leave ids visible under two labels")
    // crash 2: the replay dies right after its FIRST commit — the twin
    // merge must not have destroyed the pre-append breadcrumb
    Failpoints.crashAfter(s"$root/_idindex")(ClusterStore.appendPairs(spark, day, root, 4))
    // final replay through the public API: exactly the final labels,
    // no duplicate ids, no orphaned stale rows
    ClusterStore.appendPairs(spark, day, root, 4)
    val got = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)), s"got=$got")
  }

  test("replay fence: covers the delete leg; a completed append opens the gate") {
    // a day whose relabel leaves stale copies OUTSIDE the merged
    // buckets (willDelete): the completion record rides the DELETE
    // commit, so a crash between main merge and delete keeps the
    // window open — and a crash after the delete does not
    def b(v: Long): Long = spark.range(1).select(
      pmod(xxhash64(lit(v).cast("string")), lit(4L))).head().getLong(0)
    val v1 = 1L
    val v2 = (2L to 200L).find(v => b(v) != b(v1)).get
    val day1 = Seq((v1, v2)).toDF("id_a", "id_b")
    val day2 = Seq((501L, 502L)).toDF("id_a", "id_b")
    // crash AFTER the main merge, BEFORE the stale delete
    val root = fresh()
    ClusterStore.build(spark, Seq((v2, v2 + 300)).toDF("id_a", "id_b"), root, 4)
    Failpoints.crashAfter(root)(ClusterStore.appendPairs(spark, day1, root, 4))
    intercept[IllegalStateException] {
      ClusterStore.appendPairs(spark, day2, root, 4)
    }
    ClusterStore.appendPairs(spark, day1, root, 4) // replay closes it
    ClusterStore.appendPairs(spark, day2, root, 4)
    val got = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((v1, v1), (v2, v1), (v2 + 300, v1),
      (501L, 501L), (502L, 501L)))
    // same fixture, but the crash lands after the delete committed:
    // the append is complete and the next day needs no replay
    val root2 = fresh()
    ClusterStore.build(spark, Seq((v2, v2 + 300)).toDF("id_a", "id_b"), root2, 4)
    Failpoints.crashAfter(root2, nth = 2)(ClusterStore.appendPairs(spark, day1, root2, 4))
    ClusterStore.appendPairs(spark, day2, root2, 4) // no fence trip
    val got2 = ClusterStore.readLabels(spark, root2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((v1, v1), (v2, v1), (v2 + 300, v1),
      (501L, 501L), (502L, 501L)))
  }

  test("pinned readers are snapshot-isolated across the crash window") {
    val root = fresh()
    ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), root, 4)
    // a safe reader pins the newest version BEFORE the append starts
    val pinned = ClusterStore.versions(spark, root).head
    // an append crashed between its main merge and its stale delete:
    // the live view shows ids under BOTH labels
    Failpoints.crashAfter(root) {
      ClusterStore.appendPairs(spark, Seq((1L, 2L)).toDF("id_a", "id_b"), root, 4)
    }
    val live = ClusterStore.readLabels(spark, root).collect()
    assert(live.length > 3, "the crash window should expose duplicates live")
    // the pinned reader sees the consistent PRE-append snapshot: one
    // row per id, the old labels, no duplicates
    val atPin = ClusterStore.readLabels(spark, root, Some(pinned))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atPin == Set((2L, 2L), (3L, 2L)))
    // replaying the day completes the append; a fresh pin is clean
    ClusterStore.appendPairs(spark, Seq((1L, 2L)).toDF("id_a", "id_b"), root, 4)
    val after = ClusterStore.readLabels(spark, root,
      Some(ClusterStore.versions(spark, root).head))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // and the original pin STILL reads the old snapshot (immutability)
    val atPin2 = ClusterStore.readLabels(spark, root, Some(pinned))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atPin2 == atPin)
  }

  test("geometry: a partitions mismatch fails loudly") {
    val root = fresh()
    ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), root, 4)
    intercept[IllegalArgumentException] {
      ClusterStore.appendPairs(spark,
        Seq((1L, 2L)).toDF("id_a", "id_b"), root, 8)
    }
  }

  test("a crashed build leaves a store that appends and forgets refuse") {
    // the sidecar is build's last step, so a crash after either table
    // publish (twin first, then main) leaves no sidecar: an append must
    // not relabel from the day's pairs alone, nor a forget do nothing
    for (crashed <- Seq((r: String) => s"$r/_idindex", (r: String) => r)) {
      val root = fresh()
      Failpoints.crashAfter(crashed(root)) {
        ClusterStore.build(spark, Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), root, 4)
      }
      val e1 = intercept[IllegalStateException] {
        ClusterStore.appendPairs(spark, Seq((3L, 4L)).toDF("id_a", "id_b"), root, 4)
      }
      assert(e1.getMessage.contains("no geometry sidecar"), e1.getMessage)
      val e2 = intercept[IllegalStateException] {
        ClusterStore.forget(spark, Seq(1L).toDF("id"), "id", root, 4)
      }
      assert(e2.getMessage.contains("no geometry sidecar"), e2.getMessage)
    }
  }

  // ---- rebuildFromIndex: the cure for forget's over-grouping ----

  /** Fixture: 3 exact-dup groups (identical text → Jaccard 1.0 pairs),
    * both dedup stores + the cluster store built over them.
    */
  private def rebuildFixture(): (String, String, org.apache.spark.sql.DataFrame) = {
    import graft.ext.{Dedup, DedupStores}
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"),
      (10L, "zeta eta theta iota kappa"),
      (11L, "zeta eta theta iota kappa"),
      (30L, "mu nu xi omicron pi rho"),
      (31L, "mu nu xi omicron pi rho"),
      (20L, "totally unrelated words live here")).toDF("doc_id", "text")
    val root = fresh()
    DedupStores.build(spark, docs, "doc_id", "text",
      s"$root/fp", s"$root/idx", shingleN = 3, bands = 8, rowsPerBand = 2,
      partitions = 4)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.7)
    ClusterStore.build(spark, pairs, root, 4)
    (root, s"$root/idx", docs)
  }

  test("rebuildFromIndex: phantom singletons drop, intact clusters survive") {
    import graft.ext.DedupStores
    val (root, idx, docs) = rebuildFixture()
    // forget 2,3 (cluster {1,2,3} loses all partners of 1) and 10
    // (cluster {10,11} relabels to 11... then 11 is a phantom too)
    val doomed = Seq(2L, 3L, 10L).toDF("id")
    DedupStores.forget(spark,
      docs.join(doomed, docs("doc_id") === doomed("id"), "left_semi"),
      "doc_id", "text", s"$root/fp", idx)
    ClusterStore.forget(spark, doomed, "id", root, 4)
    // the documented leak: 1 and 11 linger as phantom singleton members
    val after = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((1L, 1L), (11L, 11L), (30L, 30L), (31L, 30L)),
      s"got $after")
    ClusterStore.rebuildFromIndex(spark, idx, root, threshold = 0.7, partitions = 4)
    // the cure: only the genuinely-paired survivors remain, and the
    // twin routes appends correctly afterwards
    val rebuilt = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rebuilt == Set((30L, 30L), (31L, 30L)), s"got $rebuilt")
    ClusterStore.appendPairs(spark, Seq((29L, 30L)).toDF("id_a", "id_b"), root, 4)
    val appended = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appended == Set((29L, 29L), (30L, 29L), (31L, 29L)), s"got $appended")
  }

  test("rebuild fence: a crash between the overwrites blocks appends/forgets; replay cures") {
    val (steps, got) = crashEveryStep(
      fixture = () => rebuildFixture()._1,
      op = root => ClusterStore.rebuildFromIndex(spark, s"$root/idx", root,
        threshold = 0.7, partitions = 4),
      // the replay closes the window: the store equals the index
      // components, and appends flow again
      result = root => {
        ClusterStore.appendPairs(spark, Seq((5L, 6L)).toDF("id_a", "id_b"), root, 4)
        ClusterStore.readLabels(spark, root)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }) { (root, _, last) =>
      if (!last) {
        val e = intercept[IllegalStateException] {
          ClusterStore.appendPairs(spark, Seq((5L, 6L)).toDF("id_a", "id_b"), root, 4)
        }
        assert(e.getMessage.contains("crashed rebuild"))
        val f = intercept[IllegalStateException] {
          ClusterStore.forget(spark, Seq(1L).toDF("id"), "id", root, 4)
        }
        assert(f.getMessage.contains("crashed rebuild"))
      }
    }
    // twin overwrite (started), main overwrite (completed)
    assert(steps == Seq(Failpoints.Step("/_idindex", 1), Failpoints.Step("", 1)))
    assert(got.contains((5L, 5L)) && got.contains((6L, 5L)) &&
      got.contains((1L, 1L)) && got.contains((2L, 1L)) && got.contains((3L, 1L)),
      s"got $got")
  }

  test("rebuild is the universal repair: it closes a crashed APPEND window") {
    val (root, idx, _) = rebuildFixture()
    // an append dies after its first commit — the append fence trips
    Failpoints.crashAfter(s"$root/_idindex") {
      ClusterStore.appendPairs(spark, Seq((40L, 41L)).toDF("id_a", "id_b"), root, 4)
    }
    intercept[IllegalStateException] {
      ClusterStore.appendPairs(spark, Seq((50L, 51L)).toDF("id_a", "id_b"), root, 4)
    }
    // rebuild reads nothing from the store — it runs through the open
    // window and closes it (the crashed day's pairs came from the index
    // maintenance in production, so the rebuild includes their truth)
    ClusterStore.rebuildFromIndex(spark, idx, root, threshold = 0.7, partitions = 4)
    ClusterStore.appendPairs(spark, Seq((50L, 51L)).toDF("id_a", "id_b"), root, 4)
    val got = ClusterStore.readLabels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((50L, 50L)) && got.contains((51L, 50L)), s"got $got")
  }
}
