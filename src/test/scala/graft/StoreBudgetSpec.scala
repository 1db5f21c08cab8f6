package graft

import graft.sources.ManifestStore

/** Spark job budgets of the store kernel: building a [[ManifestStore]]
  * read runs no job at all, and each maintenance op runs a pinned number
  * of jobs, so a change that adds a job to a store op fails here instead
  * of surfacing as a slower benchmark.
  */
class StoreBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Eight leafs `p=0..7`, three rows each, in one commit. */
  private def fixture(): String = {
    val table = graft.Scratch.path(s"budget_${java.util.UUID.randomUUID().toString.take(8)}")
    ManifestStore.write(spark,
      (0L until 24L).map(k => (k, s"v$k", k % 8)).toDF("k", "v", "p"), table, "p")
    table
  }

  test("building a store read runs no Spark job, with 1 or 4 live commits") {
    val table = fixture()
    assert(jobs(ManifestStore.read(spark, table)) == 0, "1 live commit")
    for (p <- 1L to 3L)
      ManifestStore.merge(spark, table, Seq((100L + p, "m", p)).toDF("k", "v", "p"), Seq("k"), "p")
    assert(jobs(ManifestStore.read(spark, table)) == 0, "4 live commits")
    assert(jobs(ManifestStore.readPartitions(spark, table, Seq("p=1", "p=5"))) == 0, "readPartitions")
  }

  test("merge, delete, compact and a counted read run their pinned job counts") {
    val table = fixture()
    val counts = Seq(
      "merge" -> jobs(ManifestStore.merge(spark, table,
        Seq((0L, "m0", 0L), (1L, "m1", 1L), (200L, "n", 2L)).toDF("k", "v", "p"), Seq("k"), "p")),
      "delete" -> jobs(ManifestStore.delete(spark, table,
        Seq((3L, 3L), (4L, 4L)).toDF("k", "p"), Seq("k"), Seq("p"))),
      "compact" -> jobs(assert(ManifestStore.compact(spark, table) == 3)),
      "read().count()" -> jobs(assert(ManifestStore.read(spark, table).count() == 23)))
    assert(counts == Seq("merge" -> 2, "delete" -> 3, "compact" -> 2, "read().count()" -> 2))
  }

  test("replaceWhere and a merge whose batch is not driver-local run their pinned job counts") {
    import org.apache.spark.sql.functions.{lit, max}
    val table = fixture()
    // an aggregate over the table: its rows are not on the driver, so the
    // touched tuples come from a distinct collect
    val aggregated = ManifestStore.read(spark, table).where($"p" >= 6L)
      .groupBy("p").agg((max("k") + 1000L).as("k"), lit("agg").as("v"))
    val counts = Seq(
      "replaceWhere" -> jobs(ManifestStore.replaceWhere(spark, table,
        Seq((300L, "r", 4L)).toDF("k", "v", "p"), Seq(4L, 5L).toDF("p"), Seq("p"))),
      "merge(aggregate)" -> jobs(ManifestStore.merge(spark, table, aggregated, Seq("k"), "p")))
    assert(ManifestStore.read(spark, table).count() == 21)
    assert(counts == Seq("replaceWhere" -> 2, "merge(aggregate)" -> 5))
  }
}
