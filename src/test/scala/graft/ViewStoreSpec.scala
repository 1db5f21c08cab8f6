package graft

import org.apache.spark.sql.functions._
import graft.ext.ViewStore
import graft.sources.{Failpoints, ManifestStore}

/** Incrementally maintained join view (x178): delta-rule correctness on
  * hand-built days — cross-day pairing, N:M fan-out, one-sided days,
  * replay/crash convergence, pruned reads, and the collision guard.
  */
class ViewStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"viewstore_${java.util.UUID.randomUUID().toString.take(8)}")

  private def emptyA = Seq.empty[(Long, Long, String)].toDF("jk", "a_id", "a_val")
  private def emptyB = Seq.empty[(Long, Long, String)].toDF("jk", "b_id", "b_val")

  private def append(root: String, a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit =
    ViewStore.appendDay(spark, root, a, b, "jk", Seq("a_id"), Seq("b_id"))

  private def view(root: String): Set[(Long, Long, Long)] =
    ViewStore.readView(spark, root)
      .select("jk", "a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("cross-day pairing flows through the persisted bases") {
    val root = fresh()
    // day 0: A rows only; day 1: their B partners arrive
    append(root, Seq((1L, 10L, "x"), (2L, 11L, "y")).toDF("jk", "a_id", "a_val"), emptyB)
    append(root, emptyA, Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"))
    assert(view(root) == Set((1L, 10L, 20L)))
    // day 2: a late A row for jk 1 pairs with the day-1 B row
    append(root, Seq((1L, 12L, "z")).toDF("jk", "a_id", "a_val"), emptyB)
    assert(view(root) == Set((1L, 10L, 20L), (1L, 12L, 20L)))
  }

  test("N:M fan-out: all pairs, including the same-day cross term exactly once") {
    val root = fresh()
    append(root,
      Seq((1L, 10L, "x"), (1L, 11L, "y")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p"), (1L, 21L, "q")).toDF("jk", "b_id", "b_val"))
    assert(view(root) ==
      Set((1L, 10L, 20L), (1L, 10L, 21L), (1L, 11L, 20L), (1L, 11L, 21L)))
    // a second day adds one row per side: new pairs only, old intact
    append(root,
      Seq((1L, 12L, "z")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 22L, "r")).toDF("jk", "b_id", "b_val"))
    assert(view(root).size == 9)
  }

  test("replays converge: same day re-delivered, then a crash-window replay") {
    val root = fresh()
    val dayA = Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val")
    val dayB = Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val")
    append(root, dayA, dayB)
    append(root, dayA, dayB) // completed-day replay
    assert(view(root) == Set((1L, 10L, 20L)))
    assert(ManifestStore.read(spark, s"$root/a").count() == 1L)
    // crash window: bases merged, view merge lost — simulate by merging
    // a new day's bases directly, then replaying the full append
    val dayA2 = Seq((2L, 12L, "z")).toDF("jk", "a_id", "a_val")
    ManifestStore.merge(spark, s"$root/a",
      dayA2.withColumn("__jpt", pmod(xxhash64(col("jk").cast("string")), lit(8L))),
      Seq("a_id"), "__jpt")
    val dayB2 = Seq((2L, 22L, "r")).toDF("jk", "b_id", "b_val")
    append(root, dayA2, dayB2)
    assert(view(root) == Set((1L, 10L, 20L), (2L, 12L, 22L)))
  }

  test("a late replay after further appends regenerates only rows the view already has") {
    val root = fresh()
    val d0a = Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val")
    val d0b = Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val")
    append(root, d0a, d0b)
    append(root, Seq((1L, 11L, "y")).toDF("jk", "a_id", "a_val"), emptyB)
    // day 0 re-delivered AFTER day 1 landed: its ΔA ⋈ B_now includes
    // nothing new, its ΔB ⋈ (A ∖ ΔA) regenerates (11, 20) — already
    // present; the keyed merge must leave the view exactly invariant
    val before = view(root)
    append(root, d0a, d0b)
    assert(view(root) == before)
    assert(before == Set((1L, 10L, 20L), (1L, 11L, 20L)))
  }

  test("a single-key day against a wide base joins correctly through the pruned read") {
    val root = fresh()
    // 64 distinct join keys spread the base across every bucket; the
    // one-row day's delta term reads only its key's bucket
    // (ManifestStore.readPartitions — the mechanism is plan-pinned in
    // the store suites; here pin the pruned path's OUTPUT)
    val manyB = (0L until 64L).map(i => (i, 100L + i, "b")).toDF("jk", "b_id", "b_val")
    append(root, emptyA, manyB)
    append(root, Seq((5L, 10L, "x")).toDF("jk", "a_id", "a_val"), emptyB)
    assert(view(root) == Set((5L, 10L, 105L)))
  }

  // ---- x179: maintained aggregate view ----

  private def appendAgg(root: String, a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, day: String): Unit =
    ViewStore.appendDayAgg(spark, root, a, b, "jk", Seq("a_id"), Seq("b_id"),
      day, groupCols = Seq("b_val"), sumCols = Seq("a_id"))

  private def agg(root: String): Map[String, (Long, Long)] =
    ViewStore.readAgg(spark, root, Seq("b_val"), Seq("a_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("x179: the aggregate view tracks cross-day joins exactly") {
    val root = fresh()
    appendAgg(root, Seq((1L, 10L, "x"), (2L, 11L, "y")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"), "d0")
    // d0: pair (jk1: a10 × b"p") → p: (1, 10)
    assert(agg(root) == Map("p" -> ((1L, 10L))))
    // d1: B partner for jk 2 arrives → q gains a11; late A row for jk 1
    appendAgg(root, Seq((1L, 12L, "z")).toDF("jk", "a_id", "a_val"),
      Seq((2L, 21L, "q")).toDF("jk", "b_id", "b_val"), "d1")
    assert(agg(root) == Map("p" -> ((2L, 22L)), "q" -> ((1L, 11L))))
  }

  test("x179: a late replay after further appends never double-counts") {
    val root = fresh()
    val d0a = Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val")
    val d0b = Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val")
    appendAgg(root, d0a, d0b, "d0")
    appendAgg(root, Seq((1L, 11L, "y")).toDF("jk", "a_id", "a_val"), emptyB, "d1")
    val before = agg(root)
    assert(before == Map("p" -> ((2L, 21L))))
    // day 0 re-delivered AFTER d1: its recomputed delta regenerates
    // (11, 20) — already in the row view → trueNew empty → the d0
    // subtotal stays the ORIGINAL commit, totals invariant
    appendAgg(root, d0a, d0b, "d0")
    assert(agg(root) == before)
    assert(ManifestStore.read(spark, s"$root/aggview")
      .select("day").distinct().count() == 2L)
  }

  test("x179: crash between the agg commit and the view merge replays into the same subtotal") {
    val root = fresh()
    appendAgg(root, Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"), "d0")
    // the crash window for d1: bases + agg committed, view NOT
    val d1a = Seq((1L, 11L, "y")).toDF("jk", "a_id", "a_val")
    Failpoints.crashAfter(s"$root/aggview")(appendAgg(root, d1a, emptyB, "d1"))
    assert(view(root) == Set((1L, 10L, 20L)))
    // the recovery replay: trueNew is still the same pair (view lacks
    // it), the day subtotal replaces identically, the view completes
    appendAgg(root, d1a, emptyB, "d1")
    assert(agg(root) == Map("p" -> ((2L, 21L))))
    assert(view(root) == Set((1L, 10L, 20L), (1L, 11L, 20L)))
  }

  // ---- x181: forget over the maintained views ----

  private def forget(root: String, rows: org.apache.spark.sql.DataFrame,
      seq: Long): Unit =
    ViewStore.forgetA(spark, root, rows, "jk", Seq("a_id"), seq,
      groupCols = Seq("b_val"), sumCols = Seq("a_id"))

  test("x181: forgetting an A row removes its base row, view rows, and aggregate mass") {
    val root = fresh()
    appendAgg(root, Seq((1L, 10L, "x"), (1L, 11L, "y")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"), "d0")
    assert(agg(root) == Map("p" -> ((2L, 21L))))
    forget(root, Seq((1L, 10L)).toDF("jk", "a_id").select(col("a_id"), col("jk")), 1L)
    assert(agg(root) == Map("p" -> ((1L, 11L))))
    assert(view(root) == Set((1L, 11L, 20L)))
    assert(ManifestStore.read(spark, s"$root/a")
      .filter(col("a_id") === 10L).count() == 0L)
    // replay: no doomed view rows remain — the correction stays put
    forget(root, Seq((1L, 10L)).toDF("jk", "a_id").select(col("a_id"), col("jk")), 1L)
    assert(agg(root) == Map("p" -> ((1L, 11L))))
  }

  test("x181: forgetting a group's whole mass drops the group from the rollup") {
    val root = fresh()
    appendAgg(root, Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"), "d0")
    forget(root, Seq((1L, 10L)).toDF("jk", "a_id"), 1L)
    assert(agg(root).isEmpty)
  }

  test("x181: crash after the correction commit — appends refused, the replay converges") {
    // the forget crashes after each of its commits in turn; while the
    // fence is open (correction committed, base-A delete not) appends
    // are refused. The replay: an identical correction replaces (or,
    // after the view delete, the committed one stays put), the deletes
    // complete, the fence closes — appends flow again
    val (steps, got) = crashEveryStep(
      fixture = () => {
        val root = fresh()
        appendAgg(root, Seq((1L, 10L, "x"), (2L, 11L, "y")).toDF("jk", "a_id", "a_val"),
          Seq((1L, 20L, "p"), (2L, 21L, "q")).toDF("jk", "b_id", "b_val"), "d0")
        root
      },
      op = root => forget(root, Seq((1L, 10L)).toDF("jk", "a_id"), 5L),
      result = root => {
        val forgotten = (agg(root), view(root))
        appendAgg(root, Seq((2L, 12L, "z")).toDF("jk", "a_id", "a_val"), emptyB, "d1")
        (forgotten, agg(root))
      }) { (root, _, last) =>
      if (!last) {
        val e = intercept[IllegalStateException] {
          appendAgg(root, Seq((3L, 12L, "z")).toDF("jk", "a_id", "a_val"), emptyB, "d1")
        }
        assert(e.getMessage.contains("unreplayed crashed forget"))
      }
    }
    // correction, view delete, base-A delete (closes the fence)
    assert(steps.map(_.path) == Seq("/aggview", "/view", "/a"))
    assert(got == (((Map("q" -> ((1L, 11L))), Set((2L, 11L, 21L))), Map("q" -> ((2L, 23L))))))
  }

  test("x237: compactAgg refuses inside an open forget window") {
    val root = fresh()
    appendAgg(root, Seq((1L, 10L, "x"), (2L, 11L, "y")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p"), (2L, 21L, "q")).toDF("jk", "b_id", "b_val"), "d0")
    // a forget crashed after its correction commit
    Failpoints.crashAfter(s"$root/aggview")(forget(root, Seq((1L, 10L)).toDF("jk", "a_id"), 5L))
    // folding the open window's correction day would be re-merged by
    // the replay's recomputed correction — refused like an append
    val e = intercept[IllegalStateException] {
      ViewStore.compactAgg(spark, root, Seq("d0", "__forget_5"), "epoch:01",
        Seq("b_val"), Seq("a_id"))
    }
    assert(e.getMessage.contains("unreplayed crashed forget"))
    // close the window (the replay), then the fold is legal and exact
    forget(root, Seq((1L, 10L)).toDF("jk", "a_id"), 5L)
    val before = agg(root)
    ViewStore.compactAgg(spark, root, Seq("d0", "__forget_5"), "epoch:01",
      Seq("b_val"), Seq("a_id"))
    assert(agg(root) == before)
  }

  test("x181: forgetting unknown rows is a no-op") {
    val root = fresh()
    appendAgg(root, Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val"),
      Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"), "d0")
    forget(root, Seq((9L, 99L)).toDF("jk", "a_id"), 1L)
    assert(agg(root) == Map("p" -> ((1L, 10L))))
    assert(view(root) == Set((1L, 10L, 20L)))
  }

  test("column collisions outside the join key are refused loudly") {
    val root = fresh()
    val a = Seq((1L, 10L, "x")).toDF("jk", "a_id", "v")
    val b = Seq((1L, 20L, "p")).toDF("jk", "b_id", "v")
    val e = intercept[IllegalArgumentException] {
      ViewStore.appendDay(spark, root, a, b, "jk", Seq("a_id"), Seq("b_id"))
    }
    assert(e.getMessage.contains("collision"))
  }

  test("geometry mismatch is refused loudly") {
    val root = fresh()
    append(root, Seq((1L, 10L, "x")).toDF("jk", "a_id", "a_val"), emptyB)
    val e = intercept[IllegalArgumentException] {
      ViewStore.appendDay(spark, root, emptyA,
        Seq((1L, 20L, "p")).toDF("jk", "b_id", "b_val"),
        "jk", Seq("a_id"), Seq("b_id"), partitions = 4)
    }
    assert(e.getMessage.contains("partitions"))
  }
}
