package graft

import org.apache.spark.sql.functions._
import graft.sources.ManifestStore

/** Round-6 third wave: the lakehouse maintenance surface on
  * ManifestStore — copy-on-write DELETE, version-diff change feed,
  * commit compaction, and ADD-column schema evolution.
  */
class LakehouseOpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): String =
    graft.Scratch.path(s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")

  private def state(table: String): Map[Long, (String, Long)] =
    ManifestStore.read(spark, table)
      .select(col("k"), col("v"), col("p").cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  // --------------------------------------------------------------- delete

  test("delete rewrites only touched partitions and drops emptied leafs") {
    val table = freshTable("del")
    val base = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L))
      .toDF("k", "v", "p")
    ManifestStore.write(spark, base, table, "p")
    // keys carry the partition column: touched set known without a scan
    ManifestStore.delete(spark, table,
      Seq((2L, 0L), (4L, 2L)).toDF("k", "p"), Seq("k"), Seq("p"))
    assert(state(table) == Map(1L -> (("a", 0L)), 3L -> (("c", 1L))))
    // partition p=2 was emptied: its leaf must be GONE from the snapshot,
    // and untouched p=1 must still read from the ORIGINAL commit's files
    val files = ManifestStore.read(spark, table).inputFiles
    assert(!files.exists(_.contains("p=2")))
    val v1Files = ManifestStore.read(spark, table, Some(1)).inputFiles
      .filter(_.contains("p=1")).toSet
    assert(files.filter(_.contains("p=1")).toSet == v1Files)
  }

  test("delete locates partitions when keys lack the partition column") {
    val table = freshTable("delloc")
    val base = Seq((1L, "a", 0L), (2L, "b", 1L), (3L, "c", 2L)).toDF("k", "v", "p")
    ManifestStore.write(spark, base, table, "p")
    ManifestStore.delete(spark, table, Seq(Tuple1(2L)).toDF("k"), Seq("k"), Seq("p"))
    assert(state(table) == Map(1L -> (("a", 0L)), 3L -> (("c", 2L))))
    // absent keys are a no-op: no new version, no empty commit
    val vBefore = ManifestStore.versions(spark, table).head
    ManifestStore.delete(spark, table, Seq(Tuple1(99L)).toDF("k"), Seq("k"), Seq("p"))
    assert(ManifestStore.versions(spark, table).head == vBefore)
  }

  test("null partition values are refused without a trace; a located delete removes exactly its keys") {
    val nul: String = null
    val base = Map(1L -> (("a", "x")), 2L -> (("b", "x")), 3L -> (("c", "y")), 4L -> (("d", "z")))
    def merge(p: String)(t: String): Unit = ManifestStore.merge(spark, t,
      Seq((5L, "e", "x"), (6L, "f", p)).toDF("k", "v", "p"), Seq("k"), "p")
    // the same batch built over a scan, so its rows are not on the driver
    def mergeScanned(p: String)(t: String): Unit = ManifestStore.merge(spark, t,
      ManifestStore.read(spark, t).where($"k" === 1L)
        .select(($"k" + 10L).as("k"), $"v", lit(p).cast("string").as("p")), Seq("k"), "p")
    def delete(p: String)(t: String): Unit = ManifestStore.delete(spark, t,
      Seq((1L, "x"), (6L, p)).toDF("k", "p"), Seq("k"), Seq("p"))
    def replaceDoomed(p: String)(t: String): Unit = ManifestStore.replaceWhere(spark, t,
      Seq((5L, "e", "x")).toDF("k", "v", "p"), Seq("x", p).toDF("p"), Seq("p"))
    def replaceBatch(p: String)(t: String): Unit = ManifestStore.replaceWhere(spark, t,
      Seq((5L, "e", "x"), (6L, "f", p)).toDF("k", "v", "p"), Seq("x").toDF("p"), Seq("p"))
    // Spark writes "" into the default-partition leaf, where null lands
    // and reads back as null, so every op refuses "" as null
    val commit = "commit"
    val cases = Seq[(String, String => Unit, Set[String])](
      ("merge, null in the batch", merge(nul), Set("merge: null p in batch")),
      ("merge, null in a scanned batch", mergeScanned(nul), Set("merge: null p in batch")),
      ("merge, \"\" in the batch", merge(""), Set("merge: null p in batch")),
      ("merge, \"\" in a scanned batch", mergeScanned(""), Set("merge: null p in batch")),
      ("delete, null in the keys", delete(nul), Set("delete: null p in keys")),
      ("delete, \"\" in the keys", delete(""), Set("delete: null p in keys")),
      ("replaceWhere, null in doomed", replaceDoomed(nul), Set("replaceWhere: null p in doomed")),
      ("replaceWhere, \"\" in doomed", replaceDoomed(""), Set("replaceWhere: null p in doomed")),
      ("replaceWhere, null in the batch", replaceBatch(nul), Set("replaceWhere: null p in batch")),
      ("replaceWhere, \"\" in the batch", replaceBatch(""), Set("replaceWhere: null p in batch")),
      ("delete by key alone (located)", t => ManifestStore.delete(spark, t,
        Seq(2L, 3L, 99L).toDF("k"), Seq("k"), Seq("p")), Set(commit)))
    def files(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def commitDirs(t: String): Set[String] =
      Option(new java.io.File(t, "commits").list()).toSeq.flatten.toSet
    def referenced(t: String): Set[String] =
      ManifestStore.read(spark, t).inputFiles.toSet.flatMap((f: String) =>
        "commits/([^/]+)/".r.findFirstMatchIn(f).map(_.group(1)))
    def rows(t: String): Map[Long, (String, String)] =
      ManifestStore.read(spark, t).collect()
        .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[String]("p")))).toMap
    for ((name, op, allowed) <- cases) withClue(s"$name: ") {
      val t = freshTable("nullpart")
      ManifestStore.write(spark, base.toSeq.map { case (k, (v, p)) => (k, v, p) }.toDF("k", "v", "p"), t, "p")
      val (v0, dirs0) = (ManifestStore.currentVersion(spark, t), commitDirs(t))
      val outcome =
        try { op(t); commit }
        catch { case e: IllegalArgumentException =>
          allowed.find(e.getMessage.contains).getOrElse(throw e) }
      assert(allowed(outcome))
      assert(files(new java.io.File(t, "_tmp")).isEmpty, "staged files left under _tmp/")
      if (outcome == commit) {
        assert(ManifestStore.currentVersion(spark, t) == v0 + 1)
        assert((commitDirs(t) -- dirs0).subsetOf(referenced(t)), "unreferenced commit dir")
      } else {
        assert(ManifestStore.currentVersion(spark, t) == v0)
        assert(commitDirs(t) == dirs0)
        assert(rows(t) == base)
      }
      if (name.endsWith("(located)")) assert(rows(t) == base -- Seq(2L, 3L))
    }
  }

  // -------------------------------------------------------------- changes

  test("changes classifies insert/update/delete and scans only repointed partitions") {
    val table = freshTable("cdc")
    val base = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L))
      .toDF("k", "v", "p")
    ManifestStore.write(spark, base, table, "p")
    // v2: update k=2 (same value for k=1 rides along in the rewrite),
    // insert k=5 into p=0
    ManifestStore.merge(spark, table,
      Seq((1L, "a", 0L), (2L, "B", 0L), (5L, "e", 0L)).toDF("k", "v", "p"),
      Seq("k"), Seq("p"))
    // v3: delete k=4 (empties p=2)
    ManifestStore.delete(spark, table, Seq((4L, 2L)).toDF("k", "p"), Seq("k"), Seq("p"))

    val feed = ManifestStore.changes(spark, table, 1, 3, Seq("k"))
    val got = feed.collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[String]("change_type"))))
      .toMap
    // k=1 was physically rewritten but logically unchanged: NOT in the feed
    assert(got == Map(
      2L -> (("B", "update")),
      5L -> (("e", "insert")),
      4L -> (("d", "delete"))))
    // only the repointed partitions (p=0 old+new, p=2 old) are in the scan
    val scanned = feed.inputFiles
    assert(scanned.nonEmpty && !scanned.exists(_.contains("p=1")))
  }

  test("changes between adjacent compactions is empty") {
    val table = freshTable("cdcc")
    ManifestStore.write(spark,
      Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("k", "v", "p"), table, "p")
    ManifestStore.merge(spark, table, Seq((3L, "c", 0L)).toDF("k", "v", "p"),
      Seq("k"), Seq("p"))
    val before = ManifestStore.versions(spark, table).head
    assert(ManifestStore.compact(spark, table) == 2)
    // compaction repoints every partition but changes no content: the
    // value comparison must suppress the physical rewrite entirely
    assert(ManifestStore.changes(spark, table, before, before + 1, Seq("k")).count() == 0)
  }

  // -------------------------------------------------------------- compact

  test("compact collapses live commits to one without changing content") {
    val table = freshTable("cmp")
    ManifestStore.write(spark,
      Seq((1L, "a", 0L), (2L, "b", 1L), (3L, "c", 2L)).toDF("k", "v", "p"), table, "p")
    ManifestStore.merge(spark, table, Seq((2L, "B", 1L)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    ManifestStore.merge(spark, table, Seq((4L, "d", 2L)).toDF("k", "v", "p"), Seq("k"), Seq("p"))
    val before = state(table)
    assert(ManifestStore.compact(spark, table) == 3) // 3 live commits collapsed
    assert(state(table) == before)
    val files = ManifestStore.read(spark, table).inputFiles
    // one live commit, one file per leaf (hash repartition on p)
    assert(files.map(_.replaceAll("/p=.*$", "")).toSet.size == 1)
    assert(files.groupBy(f => f.replaceAll("/[^/]*$", "")).forall(_._2.length == 1))
    // idempotent: a second compaction is a no-op, no version bump
    val v = ManifestStore.versions(spark, table).head
    assert(ManifestStore.compact(spark, table) == 0)
    assert(ManifestStore.versions(spark, table).head == v)
  }

  // ----------------------------------------------------- schema evolution

  test("merge with evolveSchema adds columns; old rows read as NULL") {
    val table = freshTable("evo")
    ManifestStore.write(spark,
      Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("k", "v", "p"), table, "p")
    ManifestStore.merge(spark, table,
      Seq((2L, "B", 1L, 0.9), (3L, "c", 1L, 0.5)).toDF("k", "v", "p", "score"),
      Seq("k"), Seq("p"), evolveSchema = true)
    val got = ManifestStore.read(spark, table)
      .select(col("k"), col("v"), col("score"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2))))).toMap
    // k=1 lives in an untouched pre-evolution partition: NULL score at read
    assert(got == Map(
      1L -> (("a", None)),
      2L -> (("B", Some(0.9))),
      3L -> (("c", Some(0.5)))))
    // evolved column participates in later change feeds
    val feed = ManifestStore.changes(spark, table, 1, 2, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type")).toMap
    assert(feed == Map(2L -> "update", 3L -> "insert"))
  }

  // ------------------------------------------------------ recorded schema

  /** The schema Spark infers from `df`'s own leaf dirs when each commit's
    * leafs are scanned with `basePath` = its commit root and the scans are
    * unioned in commit order, as a read grouped them before schemas were
    * recorded in the manifest.
    */
  private def inferred(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.types.StructType =
    df.inputFiles.toSeq
      .map(f => new java.net.URI(f).getPath) // inputFiles are URI-escaped
      .map { f =>
        val commit = """^(.*/commits/[^/]+)/""".r.findFirstMatchIn(f).get.group(1)
        commit -> f.substring(0, f.lastIndexOf('/'))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (commit, leafs) =>
        spark.read.option("basePath", commit).parquet(leafs.map(_._2).distinct.sorted: _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true)).schema

  test("every read path scans with the schema Spark would infer from the same leafs") {
    val table = freshTable("schema")
    val pc = Seq("p", "s")
    // p is written as a long and reads back as an int; s values need hive
    // escaping in their leaf names
    val rows = for (k <- 1L to 8L) yield (k, s"v$k", k * 0.5, k % 3, if (k % 2 == 0) "a/b" else "c d=%")
    ManifestStore.write(spark, rows.toDF("k", "v", "x", "p", "s"), table, pc)
    val steps: Seq[(String, () => Unit)] = Seq(
      "merge" -> (() => ManifestStore.merge(spark, table,
        Seq((9L, "v9", 4.5, 0L, "a/b")).toDF("k", "v", "x", "p", "s"), Seq("k"), pc)),
      "delete" -> (() => ManifestStore.delete(spark, table,
        Seq((3L, 0L, "c d=%")).toDF("k", "p", "s"), Seq("k"), pc)),
      "replaceWhere" -> (() => ManifestStore.replaceWhere(spark, table,
        Seq((10L, "v10", 5.0, 1L, "c d=%")).toDF("k", "v", "x", "p", "s"),
        Seq((1L, "c d=%")).toDF("p", "s"), pc)),
      "compact" -> (() => assert(ManifestStore.compact(spark, table) > 1)),
      "merge(evolveSchema)" -> (() => ManifestStore.merge(spark, table,
        Seq((11L, "v11", 5.5, 2L, "a/b", 7)).toDF("k", "v", "x", "p", "s", "extra"),
        Seq("k"), pc, evolveSchema = true)))
    val afterWrite = ManifestStore.read(spark, table)
    assert(afterWrite.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(afterWrite.schema == inferred(afterWrite), "write")
    for ((name, op) <- steps) {
      op()
      val df = ManifestStore.read(spark, table)
      assert(df.schema == inferred(df), name)
    }
    assert(ManifestStore.read(spark, table).columns.contains("extra"))
    val v1 = ManifestStore.read(spark, table, version = Some(1))
    assert(v1.schema == inferred(v1), "read(version = Some(1))")
    // changes scans the old side at v1 and the new side at the evolved
    // head; its columns carry the types both sides infer
    val head = ManifestStore.versions(spark, table).head
    val feed = ManifestStore.changes(spark, table, 1, head, Seq("k"))
    val want = inferred(ManifestStore.read(spark, table))
    assert(feed.schema.map(f => f.name -> f.dataType).toSet ==
      want.map(f => f.name -> f.dataType).toSet + ("change_type" -> org.apache.spark.sql.types.StringType))
    assert(feed.collect().nonEmpty)
  }

  test("merge without evolveSchema and type changes are rejected") {
    val table = freshTable("evoerr")
    ManifestStore.write(spark, Seq((1L, "a", 0L)).toDF("k", "v", "p"), table, "p")
    // a new batch column without evolveSchema must not be silently dropped
    intercept[IllegalArgumentException] {
      ManifestStore.merge(spark, table,
        Seq((1L, "A", 0L, 1.0)).toDF("k", "v", "p", "extra"), Seq("k"), Seq("p"))
    }
    intercept[IllegalArgumentException] {
      ManifestStore.merge(spark, table,
        Seq((1L, 7L, 0L)).toDF("k", "v", "p"), Seq("k"), Seq("p"), evolveSchema = true)
    }
  }
}
