package graft

import org.apache.spark.sql.functions._
import graft.ext.Quantiles
import graft.sources.ManifestStore
import graft.streaming.StreamUpsert

/** Round-6 second wave: exact group quantiles, the streaming ManifestStore
  * sink, and the end-to-end corpus funnel composition.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ quantiles

  test("groupQuantiles picks nearest-rank-lower values per group") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L), ("a", 100L), ("b", 5L))
      .toDF("g", "v")
    val out = Quantiles.groupQuantiles(df, Seq("g"), "v", Seq(0.0, 0.5, 0.9, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // group a sorted: [1, 2, 2, 3, 100], n=5 → ranks 1, 3, 4, 5
    assert(out(("a", 0.0)) == 1L)
    assert(out(("a", 0.5)) == 2L)
    assert(out(("a", 0.9)) == 3L)
    assert(out(("a", 1.0)) == 100L)
    // group b has one value: every q lands on it
    assert(Seq(0.0, 0.5, 0.9, 1.0).forall(q => out(("b", q)) == 5L))
  }

  test("groupQuantiles excludes null values and rejects duplicate qs") {
    val df = Seq(("a", Some(1L)), ("a", None), ("a", Some(3L)), ("b", None))
      .toDF("g", "v")
    val out = Quantiles.groupQuantiles(df, Seq("g"), "v", Seq(0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // group a over [1, 3] (null dropped): median rank-1 → 1, max → 3
    assert(out == Map(("a", 0.5) -> 1L, ("a", 1.0) -> 3L))
    // group b had only nulls: no rows at all
    intercept[IllegalArgumentException] {
      Quantiles.groupQuantiles(df, Seq("g"), "v", Seq(0.5, 0.5))
    }
  }

  test("groupQuantiles emits exactly one row per (group, q)") {
    val df = Seq.tabulate(1000)(i => ("g" + (i % 3), (i * 7 % 50).toLong)).toDF("g", "v")
    val out = Quantiles.groupQuantiles(df, Seq("g"), "v", Seq(0.25, 0.5, 0.75))
    assert(out.count() == 9)
    assert(out.groupBy("g", "q").count().filter(col("count") =!= 1).count() == 0)
  }

  // ------------------------------------------------------- shard planning

  test("planShards fills greedily in md5 order and matches a global-window oracle") {
    val docs = Seq.tabulate(200)(i => (i.toLong, (i % 37 + 1).toLong)).toDF("k", "c")
    val out = graft.ext.Sharding.planShards(docs, "k", "c", 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // oracle: the naive single global window, feasible at test size
    val naive = docs.select(col("k"), col("c"), md5(col("k").cast("string")).as("mk"))
      .withColumn("bef", coalesce(sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("mk"), col("k"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3) / 100L))).toMap
    assert(out == naive)
    // greedy-fill invariant: every shard except the last overshoots only
    // by its final straddling doc — so each holds >= budget - (max cost - 1)
    val byShard = out.values.groupBy(_._2).view.mapValues(_.map(_._1).sum).toMap
    val last = byShard.keys.max
    byShard.filter(_._1 != last).foreach { case (s, tot) =>
      assert(tot >= 100L - 36L, s"underfull shard $s: $tot")
    }
  }

  // -------------------------------------------------------- stream upsert

  test("streaming merge equals the batch upsert and converges under replay") {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val table = graft.Scratch.path(s"su_tbl_$token")
    val scratch = graft.Scratch.path(s"su_in_$token")
    val base = Seq((1L, "a", 0L), (2L, "b", 1L), (3L, "c", 0L)).toDF("k", "v", "p")
    ManifestStore.write(spark, base, table, "p")
    // batch 0 updates key 2; batch 1 inserts key 4
    val updates = Seq((2L, "B", 1L, 0L), (4L, "d", 0L, 1L)).toDF("k", "v", "p", "__b")

    StreamUpsert.replayedPipeline(spark, updates, Seq("k", "v", "p"), "__b",
      scratch, table, Seq("k"), Seq("p"))
    def state(): Map[Long, (String, Long)] = ManifestStore.read(spark, table)
      .select(col("k"), col("v"), col("p").cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val expected = Map(
      1L -> (("a", 0L)), 2L -> (("B", 1L)), 3L -> (("c", 0L)), 4L -> (("d", 0L)))
    assert(state() == expected)
    // one commit per write + one per non-empty micro-batch
    assert(ManifestStore.versions(spark, table).size == 3)

    // a full at-least-once replay (fresh checkpoint, same staged input)
    // re-merges both batches: state must converge, not corrupt
    StreamUpsert.replayedPipeline(spark, updates, Seq("k", "v", "p"), "__b",
      scratch, table, Seq("k"), Seq("p"))
    assert(state() == expected)
    assert(ManifestStore.versions(spark, table).size == 5)
  }

  test("txn-fenced streaming merge makes replays exactly-once") {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val table = graft.Scratch.path(s"suf_tbl_$token")
    val scratch = graft.Scratch.path(s"suf_in_$token")
    val base = Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("k", "v", "p")
    ManifestStore.write(spark, base, table, "p")
    val updates = Seq((2L, "B", 1L, 0L), (3L, "c", 0L, 1L)).toDF("k", "v", "p", "__b")
    def run(): Unit = StreamUpsert.replayedPipeline(spark, updates,
      Seq("k", "v", "p"), "__b", scratch, table, Seq("k"), Seq("p"),
      writerId = Some(s"suf_$token"))
    run()
    val expected = Map(1L -> "a", 2L -> "B", 3L -> "c")
    def state(): Map[Long, String] = ManifestStore.read(spark, table)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(state() == expected)
    assert(ManifestStore.versions(spark, table).size == 3)
    assert(ManifestStore.lastTxn(spark, table, s"suf_$token").contains(1L))
    // the fence recognizes the replayed batch ids: NO redundant commits,
    // exactly-once instead of at-least-once-convergent
    run()
    assert(state() == expected)
    assert(ManifestStore.versions(spark, table).size == 3)
    // an unfenced batch writer still commits (and carries txn forward)
    ManifestStore.merge(spark, table, Seq((4L, "d", 0L)).toDF("k", "v", "p"),
      Seq("k"), Seq("p"))
    assert(ManifestStore.versions(spark, table).size == 4)
    assert(ManifestStore.lastTxn(spark, table, s"suf_$token").contains(1L))
  }

  // -------------------------------------------------------- corpus funnel

  test("corpus funnel counts are monotone and cover the corpus") {
    val out = graft.queries.ExtQueries.x46CorpusFunnel(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (raw, q, u, c) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(raw >= q && q >= u && u >= c, s"non-monotone funnel row: $r")
    }
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 50 =!= 0).count()
    assert(out.map(_.getLong(1)).sum == corpus)
  }
}
