package graft

import org.apache.spark.sql.functions._
import graft.ext.{Bpe, DataCard, LangModel, Sketches, ViewStore}
import graft.sources.ManifestStore

/** Round-13 epoch-compaction rollout (x232–x237, x239): every remaining
  * sum-fold day store gains a `compactDays`-backed fold, each proven
  * read-bit-identical across a DOUBLE compaction (fold, replay, then
  * fold the epoch again with more days) on hand fixtures; the
  * heavy-hitter store — whose day summaries are NOT foldable without
  * loosening the TA/TPUT bounds — refuses loudly instead.
  */
class EpochFoldSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    graft.Scratch.path(s"epochfold_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")

  // ---- count-min (x114's store) -------------------------------------------

  test("countMinCompact: estimates bit-identical across double fold; cells capped") {
    val t = fresh("cm")
    val vals = (1 to 400).map(i => (i.toLong % 37, i % 3)).toDF("k", "day")
    (0 until 3).foreach { d =>
      Sketches.countMinAppendDay(spark, vals.filter(col("day") === d).select(col("k")),
        "k", s"d$d", t, depth = 4, width = 64)
    }
    val probe = (0L until 37L).map(Tuple1(_)).toDF("k").withColumn("cnt", lit(0L))
    def est() = Sketches.countMinEstimate(
        Sketches.countMinCellsFromStore(spark, t), probe, "k", 4, 64)
      .orderBy("k").collect().map(_.toSeq).toSeq
    val before = est()
    Sketches.countMinCompact(spark, t, Seq("d0", "d1"), "epoch:01")
    Sketches.countMinCompact(spark, t, Seq("d0", "d1"), "epoch:01") // replay
    assert(est() == before)
    Sketches.countMinCompact(spark, t, Seq("epoch:01", "d2"), "epoch:02")
    assert(est() == before)
    val days = ManifestStore.read(spark, t).select(col("day")).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(days == Seq("epoch:02"))
    assert(ManifestStore.read(spark, t).count() <= 4L * 64L)
    val e = intercept[IllegalArgumentException] {
      Sketches.countMinAppendDay(spark, vals.select(col("k")), "k", "epoch:x", t, 4, 64)
    }
    assert(e.getMessage.contains("reserved"))
  }

  // ---- histogram (x123's store) -------------------------------------------

  test("histCompact: quantile reads bit-identical across double fold") {
    val t = fresh("hist")
    val vals = (1 to 500).map(i => ((i * 13L) % 997L, i % 3)).toDF("v", "day")
    (0 until 3).foreach { d =>
      Sketches.histAppendDay(spark, vals.filter(col("day") === d).select(col("v")),
        "v", bucketWidth = 16L, day = s"d$d", table = t)
    }
    def q() = Sketches.histQuantiles(
        Sketches.histCellsFromStore(spark, t), 16L, Seq(0.5, 0.9))
      .orderBy("q").collect().map(_.toSeq).toSeq
    val before = q()
    Sketches.histCompact(spark, t, Seq("d0", "d1"), "epoch:01")
    Sketches.histCompact(spark, t, Seq("d0", "d1"), "epoch:01") // replay
    assert(q() == before)
    Sketches.histCompact(spark, t, Seq("epoch:01", "d2"), "epoch:02")
    assert(q() == before)
    val buckets = vals.select((col("v") / 16L).cast("long")).distinct().count()
    assert(ManifestStore.read(spark, t).count() == buckets)
  }

  // ---- vocabulary (x202's store) ------------------------------------------

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", 0),
    (2L, "pack my box with five dozen liquor jugs", 1),
    (3L, "the quick brown fox sleeps all day", 2),
    (4L, "five quick jugs jump the fox", 0),
    (5L, "lazy dogs pack liquor over the day", 1)).toDF("id", "text", "day")

  test("vocabCompact: trained merges bit-identical; vocab rows collapse to distinct words") {
    val t = fresh("vocab")
    (0 until 3).foreach { d =>
      Bpe.vocabAppendDay(spark, docs.filter(col("day") === d), "id", "text", s"d$d", t)
    }
    def merges() = Bpe.learnMergesFromStore(spark, t, rounds = 3)
      .orderBy("merge_rank").collect().map(_.toSeq).toSeq
    val before = merges()
    Bpe.vocabCompact(spark, t, Seq("d0", "d1"), "epoch:01")
    Bpe.vocabCompact(spark, t, Seq("d0", "d1"), "epoch:01") // replay
    assert(merges() == before)
    Bpe.vocabCompact(spark, t, Seq("epoch:01", "d2"), "epoch:02")
    assert(merges() == before)
    val distinctWords = LangModel.tokenRows(docs, "id", "text")
      .select(col("w")).distinct().count()
    assert(ManifestStore.read(spark, t).count() == distinctWords)
    val e = intercept[IllegalArgumentException] {
      Bpe.vocabAppendDay(spark, docs, "id", "text", "epoch:x", t)
    }
    assert(e.getMessage.contains("reserved"))
  }

  // ---- bigram LM (x207's store) -------------------------------------------

  test("lmCompact: perplexity scores bit-identical; V (distinct unigrams) preserved") {
    val t = fresh("lm")
    (0 until 3).foreach { d =>
      LangModel.lmAppendDay(spark, docs.filter(col("day") === d), "id", "text", s"d$d", t)
    }
    def scores() = LangModel.perplexityFromStore(spark, t, docs, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val before = scores()
    LangModel.lmCompact(spark, t, Seq("d0", "d1"), "epoch:01")
    LangModel.lmCompact(spark, t, Seq("d0", "d1"), "epoch:01") // replay
    assert(scores() == before)
    LangModel.lmCompact(spark, t, Seq("epoch:01", "d2"), "epoch:02")
    assert(scores() == before)
    // the vocabulary-size statistic is a distinct count over a folded
    // table — the group-by-w fold preserves the live word set exactly
    val v = ManifestStore.read(spark, s"$t/uni").select(col("w")).distinct().count()
    val want = LangModel.tokenRows(docs, "id", "text").select(col("w")).distinct().count()
    assert(v == want)
    assert(ManifestStore.read(spark, s"$t/uni").count() == want)
  }

  // ---- data card (x88's store) --------------------------------------------

  test("DataCard.compactDays: card bit-identical across double fold, all four tables") {
    val t = fresh("card")
    val cd = Seq(
      (1L, "alpha beta gamma delta", "web", "en", 22, 0),
      (2L, "beta gamma", "web", "en", 10, 1),
      (3L, "alpha beta gamma delta", "web", "fr", 22, 2),
      (4L, "epsilon zeta", "books", "en", 12, 0),
      (5L, "eta theta iota kappa", "books", "de", 20, 1),
      (6L, "epsilon zeta", "books", "en", 12, 2))
      .toDF("doc_id", "text", "source", "lang", "n_chars", "day")
    (0 until 3).foreach { d =>
      DataCard.appendDay(spark, cd.filter(col("day") === d), s"d$d", t)
    }
    def card() = DataCard.cardFromStore(spark, t)
      .orderBy("source").collect().map(_.toSeq).toSeq
    val before = card()
    DataCard.compactDays(spark, t, Seq("d0", "d1"), "epoch:01")
    DataCard.compactDays(spark, t, Seq("d0", "d1"), "epoch:01") // replay
    assert(card() == before)
    DataCard.compactDays(spark, t, Seq("epoch:01", "d2"), "epoch:02")
    assert(card() == before)
    // the dup-mass check crosses the fold: doc 4 and doc 6 are
    // fingerprint twins ingested on DIFFERENT folded days — the folded
    // fp table must still count them as one fp with cnt 2
    val dupRow = before.find(_.head == "books").get
    assert(dupRow(6) == 2L, s"books dup_docs: $dupRow")
    for (sub <- Seq("base", "lang", "len", "fp")) {
      val days = ManifestStore.read(spark, s"$t/$sub").select(col("day"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(days == Set("epoch:02"), s"$sub days: $days")
    }
    val e = intercept[IllegalArgumentException] {
      DataCard.appendDay(spark, cd, "epoch:x", t)
    }
    assert(e.getMessage.contains("reserved"))
  }

  // ---- maintained aggregate view (x179/x181's store) -----------------------

  test("ViewStore.compactAgg: readAgg bit-identical; zero-net forget groups still drop") {
    val t = fresh("view")
    val a = Seq((1L, 1, 10.0), (1L, 2, 5.0), (2L, 1, 7.0), (3L, 1, 2.0), (3L, 2, 4.0))
      .toDF("jk", "ln", "qty")
    val b = Seq((1L, "HIGH"), (2L, "LOW"), (3L, "SOLO")).toDF("jk", "prio")
    ViewStore.appendDayAgg(spark, t, a, b, "jk", Seq("jk", "ln"), Seq("jk"),
      day = "d0", groupCols = Seq("prio"), sumCols = Seq("qty"))
    // forget ALL of jk=3's rows: its SOLO group nets to zero via the
    // __forget_1 correction day
    ViewStore.forgetA(spark, t, a.filter(col("jk") === 3L), "jk",
      Seq("jk", "ln"), forgetSeq = 1L,
      groupCols = Seq("prio"), sumCols = Seq("qty"))
    def agg() = ViewStore.readAgg(spark, t, Seq("prio"), Seq("qty"))
      .orderBy("prio").collect().map(_.toSeq).toSeq
    val before = agg()
    assert(!before.exists(_.head == "SOLO"), s"SOLO should have netted out: $before")
    val aggDays = ManifestStore.read(spark, s"$t/aggview").select(col("day"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(aggDays == Set("d0", "__forget_1"), s"agg days: $aggDays")
    // fold the positive day AND the correction day together: the
    // (subtotal, correction) pair that could reconstruct jk=3's
    // contribution is destroyed; the zero-net group persists only as a
    // cnt=0 epoch row that readAgg still drops
    ViewStore.compactAgg(spark, t, Seq("d0", "__forget_1"), "epoch:01",
      Seq("prio"), Seq("qty"))
    ViewStore.compactAgg(spark, t, Seq("d0", "__forget_1"), "epoch:01",
      Seq("prio"), Seq("qty")) // replay
    assert(agg() == before)
    val after = ManifestStore.read(spark, s"$t/aggview").select(col("day"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(after == Set("epoch:01"), s"post-fold days: $after")
    val e = intercept[IllegalArgumentException] {
      ViewStore.appendDayAgg(spark, t, a, b, "jk", Seq("jk", "ln"), Seq("jk"),
        day = "epoch:x", groupCols = Seq("prio"), sumCols = Seq("qty"))
    }
    assert(e.getMessage.contains("reserved"))
  }

  // ---- heavy hitters: NOT foldable, and loudly so (x239) -------------------

  test("heavy-hitter store: compactDays refuses both sub-tables") {
    val t = fresh("hh")
    val vals = (1 to 300).map(i => (s"v${i % 23}", i % 2)).toDF("v", "day")
    (0 until 2).foreach { d =>
      Sketches.hhAppendDay(spark, vals.filter(col("day") === d).select(col("v")),
        "v", s"d$d", t, m = 8)
    }
    for (sub <- Seq("hh", "totals")) {
      val e = intercept[IllegalStateException] {
        ManifestStore.compactDays(spark, s"$t/$sub", "day",
          groupCols = Seq.empty, sumCols = Seq("n"),
          foldDays = Seq("d0", "d1"), epochDay = "epoch:01")
      }
      assert(e.getMessage.contains("no_epoch_fold"), s"$sub: ${e.getMessage}")
    }
    // the store still reads — the refusal protects, it doesn't brick
    assert(Sketches.hhFromStore(spark, t, minFractionDen = 10L).count() >= 0L)
  }

  test("compactDays refuses a column spec that does not cover the table (strata guard)") {
    // a grouped vocab store folded WITHOUT its byCols would sum counts
    // across strata and write epoch rows missing the stratum column —
    // the silent corruption the SampleStore strata check already closes
    val t = fresh("vocabcols")
    val docs = Seq(
      (1L, "aa bb aa", "en"), (2L, "bb cc", "en"),
      (3L, "aa aa dd", "de"), (4L, "cc dd", "de"))
      .toDF("doc_id", "text", "lang")
    (0 until 2).foreach { d =>
      Bpe.vocabAppendDay(spark, docs.filter(col("doc_id") % 2 === d), "doc_id",
        "text", s"d$d", t, byCols = Seq("lang"))
    }
    val e = intercept[IllegalArgumentException] {
      Bpe.vocabCompact(spark, t, Seq("d0", "d1"), "epoch:01", byCols = Nil)
    }
    assert(e.getMessage.contains("do not match"), e.getMessage)
    // with the store's true strata the fold is legal and reads unchanged
    val before = Bpe.vocabFromStore(spark, t, byCols = Seq("lang"))
      .orderBy("lang", "w").collect().map(_.toSeq).toSeq
    Bpe.vocabCompact(spark, t, Seq("d0", "d1"), "epoch:01", byCols = Seq("lang"))
    val after = Bpe.vocabFromStore(spark, t, byCols = Seq("lang"))
      .orderBy("lang", "w").collect().map(_.toSeq).toSeq
    assert(after == before)
  }
}
