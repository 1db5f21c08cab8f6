package graft

import org.apache.spark.sql.functions._
import graft.ext.{ClusterStore, DedupStores, MediaStore, Multimodal, Sketches, VectorStore}

/** The must-exist sidecar policy: a store whose geometry sidecar is gone
  * refuses every op that needs it with one loud message, instead of
  * guessing (or re-recording) the geometry.
  */
class StoreSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    graft.Scratch.path(s"sidecar_${java.util.UUID.randomUUID().toString.take(8)}")

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private val media = (1 to 4).map(i =>
    Multimodal.MediaBlob(i.toLong, Array.tabulate[Byte](100)(j => ((j * 37 + i * 11) % 251).toByte)))

  private val kmvDays = (1 to 30).map(i => (s"d${i % 2}", "g", s"v$i")).toDF("day", "g", "v")

  private def kmvStore(t: String): Unit =
    for (d <- Seq("d0", "d1"))
      Sketches.kmvAppendDay(spark, kmvDays.filter(col("day") === d), "g", "v", d, t, k = 16)

  private val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox leaps"))
    .toDF("doc_id", "text")

  /** (case, build a store under root, the op, the sidecar's table root) */
  private val cases: Seq[(String, String => Unit, String => Any, String => String)] = Seq(
    ("kmv read", kmvStore,
      t => Sketches.kmvDistinctFromStore(spark, t, "g", k = 16).collect(), identity),
    ("kmv compact", kmvStore,
      t => Sketches.kmvCompact(spark, t, "g", Seq("d0", "d1"), "epoch:01", k = 16), identity),
    ("MediaStore probe",
      t => MediaStore.append(spark, spark.createDataset(media), t, partitions = 4),
      t => MediaStore.probe(spark, spark.createDataset(media), t, maxDist = 3).collect(),
      identity),
    ("ClusterStore append",
      t => ClusterStore.build(spark, Seq((2L, 3L)).toDF("id_a", "id_b"), t, 4),
      t => ClusterStore.appendPairs(spark, Seq((1L, 2L)).toDF("id_a", "id_b"), t, 4),
      identity),
    ("VectorStore probe",
      t => VectorStore.build(spark, emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", t, dim = 64, m = 4, k = 16, stride = 3),
      t => VectorStore.probe(spark, emb.filter(col("vec_id") < 4), "vec_id", "embedding", t,
        64, 4, 16, 3, nprobe = 2, topK = 5).collect(),
      identity),
    ("DedupStores forget",
      t => DedupStores.build(spark, docs, "doc_id", "text", s"$t/fp", s"$t/idx", partitions = 4),
      t => DedupStores.forget(spark, docs.filter(col("doc_id") === 1L), "doc_id", "text",
        s"$t/fp", s"$t/idx"),
      t => s"$t/idx"))

  test("must-exist sidecar: every store refuses once its sidecar is deleted") {
    for ((name, build, op, sidecarRoot) <- cases) withClue(s"$name: ") {
      val root = fresh()
      build(root)
      val p = new org.apache.hadoop.fs.Path(sidecarRoot(root), "_graft_geometry.json")
      assert(p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false),
        s"fixture: no sidecar under ${sidecarRoot(root)}")
      val e = intercept[IllegalStateException](op(root))
      assert(e.getMessage.contains("no geometry sidecar"), e.getMessage)
    }
  }
}
