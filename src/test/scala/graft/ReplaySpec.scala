package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Replay

/** The replay path every bounded stream shares: file-per-batch staging,
  * micro-batch order, memoized staging, checkpoint cleanup and
  * memory-sink view lifetime.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private def root(name: String): String =
    Scratch.path(s"replay_spec_${name}_${System.nanoTime()}")

  /** Checkpoint dirs this JVM's replays hold right now. */
  private def checkpoints(): Set[String] =
    Option(new java.io.File(Replay.ckptBase).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(s"${Scratch.token}_")).toSet

  /** (micro-batch id, distinct `b` values, columns) per micro-batch. */
  private def replay(frame: DataFrame, dir: String): Seq[(Long, Seq[Long], Seq[String])] = {
    val seen = Seq.newBuilder[(Long, Seq[Long], Seq[String])]
    Replay.foreachBatch(spark, frame, col("b"), dir, "replay_spec") { (batch, id) =>
      seen += ((id, batch.select("b").distinct().as[Long].collect().toSeq,
        batch.columns.toSeq))
    }
    seen.result()
  }

  test("a 3-batch replay delivers 3 micro-batches in batch-id order, one file each") {
    val dir = root("order")
    val frame = Seq((1L, 9L), (2L, 2L), (3L, 5L), (4L, 9L), (5L, 2L)).toDF("v", "b")
    val out = replay(frame, dir)
    assert(out.map(_._1) == Seq(0L, 1L, 2L))
    assert(out.map(_._2) == Seq(Seq(2L), Seq(5L), Seq(9L)))
    // the staged batch column stays out; every frame column reaches the fold
    assert(out.forall(_._3 == Seq("v", "b")))
    val files = new java.io.File(s"$dir/in").list().filter(_.endsWith(".parquet")).sorted
    assert(files.toSeq == Seq("b00000.parquet", "b00001.parquet", "b00002.parquet"))
  }

  test("a batch id with no rows yields no micro-batch") {
    val frame = Seq((1L, 0L), (2L, 2L), (3L, 0L)).toDF("v", "b")
    val out = replay(frame, root("gap"))
    assert(out.map(_._2) == Seq(Seq(0L), Seq(2L)))
  }

  test("a second call on the same root does not restage") {
    val dir = root("memo")
    val in = Replay.stage(spark, Seq((1L, 0L), (2L, 1L)).toDF("v", "b"), col("b"), dir)
    def listing() = new java.io.File(in).listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = listing()
    val other = Seq((7L, 0L), (8L, 1L), (9L, 2L)).toDF("v", "b")
    var again = ""
    assert(jobs { again = Replay.stage(spark, other, col("b"), dir) } == 0)
    assert(again == in)
    assert(listing() == before)
    assert(spark.read.parquet(in).select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("no checkpoint outlives its run, and a failing fold's exception reaches the caller") {
    val frame = Seq((1L, 0L), (2L, 1L)).toDF("v", "b")
    val during = scala.collection.mutable.Set.empty[String]
    Replay.foreachBatch(spark, frame, col("b"), root("ckpt_ok"), "replay_ckpt") { (_, _) =>
      during ++= checkpoints()
    }
    assert(during.nonEmpty)
    assert((checkpoints() & during).isEmpty)

    during.clear()
    val thrown = intercept[Exception] {
      Replay.foreachBatch(spark, frame, col("b"), root("ckpt_fail"), "replay_fail") { (_, id) =>
        during ++= checkpoints()
        if (id == 1L) throw new IllegalStateException("fold failed on batch 1")
      }
    }
    val causes = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "fold failed on batch 1"), s"cause chain: $causes")
    assert(during.nonEmpty)
    assert((checkpoints() & during).isEmpty)
  }

  test("Replay.memory run twice under one name leaves only the newest view") {
    val in = Replay.stage(spark, Seq((1L, 0L), (2L, 1L)).toDF("v", "b"), col("b"), root("view"))
    def run(): DataFrame =
      Replay.memory(spark.readStream.schema("v LONG").parquet(in), "replay_spec_view", "append")
    def views(): Seq[String] = spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("replay_spec_view_r")).map(_.name)
    run()
    assert(views().size == 1)
    val first = views().head
    val newest = run()
    assert(views().size == 1)
    assert(views().head != first)
    assert(newest.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
