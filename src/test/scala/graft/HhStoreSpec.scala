package graft

import org.apache.spark.sql.functions._
import graft.ext.Sketches
import graft.sources.{Failpoints, ManifestStore}

/** Maintained heavy-hitter store (x176/x177): deterministic per-day
  * exact top-m summaries + TPUT-style merged bounds — the cases the
  * fixture can't exercise (kth > 0, undecided candidates, uncertifiable
  * thresholds, torn append windows).
  */
class HhStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"hhstore_${java.util.UUID.randomUUID().toString.take(8)}")

  private def day(vals: (String, Int)*) =
    vals.flatMap { case (v, n) => Seq.fill(n)(v) }.toDF("v")

  test("bounds: reporting days sum into c_lo, silent days' kth pads c_hi") {
    val t = fresh()
    // m=2 keeps the top 2 per day; day cutoffs (kth) apply to absentees
    // d0: a=10, b=5, c=3  → top {a,b}, kth=5? no — kth = min kept = 5
    // d1: a=8, c=6, d=2   → top {a,c}, kth=6
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 5, "c" -> 3), "v", "d0", t, m = 2)
    Sketches.hhAppendDay(spark, day("a" -> 8, "c" -> 6, "d" -> 2), "v", "d1", t, m = 2)
    // N = 18 + 16 = 34, Σkth = 5 + 6 = 11 → den must keep minCount > 11:
    // den = 2 → minCount = 17
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 2L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // a: lo 18 (both days), hi 18 → decided (true count 18 ≥ 17)
    assert(out("a") == ((18L, 18L, true)))
    // c: lo 6 (d1 only), hi 6 + kth(d0)=5 = 11 < 17 → filtered out
    // b: lo 5, hi 5 + 6 = 11 < 17 → filtered out
    assert(out.keySet == Set("a"))
  }

  test("an undecided candidate surfaces with decided=false, never silently dropped") {
    val t = fresh()
    // d0: a=10, b=9, c=8 → top2 {a,b}, kth=9
    // d1: b=10, c=9, a=1 → top2 {b,c}, kth=9  (a absent: its 1 hides)
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 9, "c" -> 8), "v", "d0", t, m = 2)
    Sketches.hhAppendDay(spark, day("b" -> 10, "c" -> 9, "a" -> 1), "v", "d1", t, m = 2)
    // N = 27 + 20 = 47, Σkth = 18 → den=2: minCount = 24 > 18 ✓
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 2L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // b: lo 19, hi 19 < 24 → out. a: lo 10 (d0), hi 10+9=19 < 24 → out.
    // c: absent from d0's top2, so lo 9 (d1), hi 9+9=18 < 24 → out.
    assert(out.isEmpty)
    // top up 'b' on a third day so it crosses a certifiable threshold
    Sketches.hhAppendDay(spark, day("b" -> 13), "v", "d2", t, m = 2)
    // N = 60, Σkth = 18 (d2 has 1 distinct ≤ m → kth 0) → den=3:
    // minCount = 20 > 18 ✓
    val out2 = Sketches.hhFromStore(spark, t, minFractionDen = 3L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // b: lo 32, hi 32 ≥ 20 decided. a: lo 10, hi 10+9=19 < 20 out.
    // c: lo 9, hi 9+9=18 < 20 out.
    assert(out2 == Map("b" -> ((32L, 32L, true))))
  }

  test("a candidate whose bounds straddle the threshold is undecided") {
    val t = fresh()
    // d0: a=20, b=6, c=5 → top2 {a,b}, kth=6
    // d1: a=20, b=7, d=5 → top2 {a,b}, kth=7
    // d2: c=9, d=8, b=1  → top2 {c,d}, kth=8
    Sketches.hhAppendDay(spark, day("a" -> 20, "b" -> 6, "c" -> 5), "v", "d0", t, m = 2)
    Sketches.hhAppendDay(spark, day("a" -> 20, "b" -> 7, "d" -> 5), "v", "d1", t, m = 2)
    Sketches.hhAppendDay(spark, day("c" -> 9, "d" -> 8, "b" -> 1), "v", "d2", t, m = 2)
    // N = 31+32+18 = 81, Σkth = 21 → den=3: minCount = 27 > 21 ✓
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 3L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // a: lo 40 (d0+d1), hi 40+kth(d2)=48 → decided true
    // b: lo 13, hi 13+8=21 → out; c: lo 9, hi 22 → out; d: lo 8, hi 21 → out
    assert(out("a") == ((40L, 48L, true)))
    assert(out.keySet == Set("a"))
    // push b into the straddle zone: lo < minCount ≤ hi → surfaced undecided
    Sketches.hhAppendDay(spark, day("b" -> 20, "e" -> 15, "a" -> 14), "v", "d3", t, m = 2)
    // N = 130, kth(d3) = 15, Σkth = 36 → den=3: minCount = 44 > 36 ✓
    val out2 = Sketches.hhFromStore(spark, t, minFractionDen = 3L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // a: lo 40, hi 40 + kth(d2)=8 + kth(d3)=15 = 63 ≥ 44, lo 40 < 44 → UNDECIDED
    assert(out2("a") == ((40L, 63L, false)))
  }

  test("uncertifiable thresholds are refused loudly") {
    val t = fresh()
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 5, "c" -> 3), "v", "d0", t, m = 2)
    // N = 18, kth = 5 → den=4: minCount = 5 ≤ 5 → refuse
    val e = intercept[IllegalArgumentException] {
      Sketches.hhFromStore(spark, t, minFractionDen = 4L)
    }
    assert(e.getMessage.contains("certifiable"))
  }

  test("torn append window (totals committed, summary not) is refused; replay converges") {
    val t = fresh()
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 5), "v", "d0", t, m = 2)
    // the crash window: d1's totals commit lands, its summary doesn't
    Failpoints.crashAfter(s"$t/totals") {
      Sketches.hhAppendDay(spark, day("a" -> 8, "c" -> 6, "d" -> 2), "v", "d1", t, m = 2)
    }
    val e = intercept[IllegalArgumentException] {
      Sketches.hhFromStore(spark, t, minFractionDen = 2L)
    }
    assert(e.getMessage.contains("crashed mid-window"))
    // the replay (wholesale day replace on both tables) converges
    Sketches.hhAppendDay(spark, day("a" -> 8, "c" -> 6, "d" -> 2), "v", "d1", t, m = 2)
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 2L)
    assert(out.count() >= 1L)
  }

  test("retention pruning: dropped days leave window-exact bounds; torn prune refused") {
    val t = fresh()
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 5, "c" -> 3), "v", "d0", t, m = 2)
    Sketches.hhAppendDay(spark, day("a" -> 8, "c" -> 6, "d" -> 2), "v", "d1", t, m = 2)
    Sketches.hhAppendDay(spark, day("a" -> 4, "d" -> 7), "v", "d2", t, m = 2)
    // a crash after the prune's summaries delete landed, totals not
    Failpoints.crashAfter(s"$t/hh")(Sketches.hhPruneDays(spark, t, Seq("d0")))
    val e = intercept[IllegalArgumentException] {
      Sketches.hhFromStore(spark, t, minFractionDen = 2L).head(1)
    }
    assert(e.getMessage.contains("diverge"))
    // replay converges; a second replay is a no-op
    Sketches.hhPruneDays(spark, t, Seq("d0"))
    Sketches.hhPruneDays(spark, t, Seq("d0"))
    // the retained window d1+d2: N = 16 + 11 = 27, den 3 → minCount 9;
    // d1 keeps {a:8, c:6} (kth 6, d's 2 fell below the cut), d2 keeps
    // {d:7, a:4} (kth 0, both fit) → tailSum 6 < 9, certifiable.
    // a: lo 12 in both summaries, hi 12 — decided. d: lo 7 (d2 only),
    // hi 7 + kth(d1) = 13 straddles 9 — surfaced undecided (its true
    // window count is 9, inside the bounds). c: lo 6, hi 6 — filtered.
    // b lived only in the pruned day — absent entirely.
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 3L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("a") == ((12L, 12L, true)))
    assert(out("d") == ((7L, 13L, false)))
    assert(out.keySet == Set("a", "d"))
    // pruning an absent day is a no-op (keyed deletes)
    Sketches.hhPruneDays(spark, t, Seq("d9"))
    assert(Sketches.hhFromStore(spark, t, minFractionDen = 3L).count() == out.size)
  }

  test("replaying a completed day replaces wholesale, never duplicates") {
    val t = fresh()
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 5), "v", "d0", t, m = 2)
    Sketches.hhAppendDay(spark, day("a" -> 10, "b" -> 5), "v", "d0", t, m = 2)
    assert(ManifestStore.read(spark, s"$t/hh").count() == 2L)
    assert(ManifestStore.read(spark, s"$t/totals").count() == 1L)
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 10L))
  }

  test("an empty or all-null day contributes nothing and trips no fence") {
    val t = fresh()
    Sketches.hhAppendDay(spark, day("a" -> 10), "v", "d0", t, m = 2)
    Sketches.hhAppendDay(spark,
      Seq(null.asInstanceOf[String]).toDF("v"), "v", "d1", t, m = 2)
    val out = Sketches.hhFromStore(spark, t, minFractionDen = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 10L))
  }
}
