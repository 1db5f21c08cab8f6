package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** `store_upsert`: small keyed upserts, key deletes and scheduled
  * compaction against one [[ManifestStore]] table partitioned by
  * day × bucket, each commit followed by a snapshot read of one partition
  * it touched.
  *
  * Why: rows per commit are few, so per-commit cost is Spark job count ×
  * the per-job floor plus the manifest protocol — the store kernel and
  * scheduling dominate, the opposite shape of `etl_reload`. Version
  * history grows during the run, and the read after every write shows a
  * write gain that costs reads (more small files, skipped compaction).
  */
object StoreUpsert extends Workload {
  val name = "store_upsert"

  val Days = 8
  val Buckets = 2
  val BaseRowsPerPartition = 2000
  /** Rows per merge batch, in one partition; half update existing keys. */
  val BatchRows = 64
  /** Keys per delete, in one partition. */
  val DeleteKeys = 16
  /** Every `DeleteEvery`-th commit of a cycle is a delete, the rest merges. */
  val DeleteEvery = 4
  /** Commits per cycle; a compaction closes each cycle. */
  val CompactEvery = 4

  val KeyCols = Seq("k")
  val PartCols = Seq("day", "bucket")

  /** Keys never move between partitions: (day, bucket) is part of the key. */
  def keyOf(day: Int, bucket: Int, i: Int): Long = (day.toLong * Buckets + bucket) * 1000000L + i
  def partOf(k: Long): (Int, Int) = { val p = (k / 1000000L).toInt; (p / Buckets, p % Buckets) }

  def setup(ctx: Ctx): Instance = {
    val spark = ctx.spark
    import spark.implicits._
    val path = ctx.path("table")
    val model = mutable.HashMap.empty[Long, Long]
    val next = mutable.HashMap.empty[(Int, Int), Int]
    val base = for (d <- 0 until Days; b <- 0 until Buckets; i <- 0 until BaseRowsPerPartition)
      yield { val k = keyOf(d, b, i); val v = ctx.rng.nextInt(1000000).toLong; model(k) = v; (k, d, b, v) }
    for (d <- 0 until Days; b <- 0 until Buckets) next((d, b)) = BaseRowsPerPartition
    require(!new File(path).exists(), s"$path exists before the first write")
    ManifestStore.write(spark, base.toDF("k", "day", "bucket", "v").withColumn("tag", tagCol), path, PartCols)
    new Inst(ctx, path, model, next)
  }

  /** A derived payload column, so rows are not just keys. */
  private def tagCol = concat(lit("t"), col("v").cast("string"), lit("-"), col("k").cast("string"))

  final class Inst(ctx: Ctx, path: String, model: mutable.HashMap[Long, Long],
      next: mutable.HashMap[(Int, Int), Int]) extends Instance {
    private val spark = ctx.spark
    import spark.implicits._
    private val rng = ctx.rng
    val dir: File = ctx.dir
    private var commits = 0L
    private var claimRetries = 0L

    /** `n` distinct partitions, recent days hot: geometric over distance
      * from the newest day. Distinct within a cycle, so the number of live
      * commits a read or merge sees depends on its place in the cycle only.
      */
    private def pickPartitions(n: Int): Seq[(Int, Int)] = {
      val picked = mutable.LinkedHashSet.empty[(Int, Int)]
      while (picked.size < n) {
        var back = 0
        while (back < Days - 1 && rng.nextDouble() < 0.6) back += 1
        picked += ((Days - 1 - back, rng.nextInt(Buckets)))
      }
      picked.toSeq
    }

    /** One compaction cycle: `CompactEvery` commits to distinct partitions,
      * every `DeleteEvery`-th a delete, each followed by its read, then a
      * compaction. Whole cycles keep every run's mix of ops the same.
      */
    def step(ops: Ops): Unit = {
      for (((d, b), i) <- pickPartitions(CompactEvery).zipWithIndex)
        commit(ops, d, b, delete = (i + 1) % DeleteEvery == 0)
      compact(ops)
    }

    private def commit(ops: Ops, d: Int, b: Int, delete: Boolean): Unit = {
      // a single writer never loses a manifest claim: each commit must
      // advance the version by exactly one (checked in traced runs)
      val v0 = if (ops.tracer.enabled) ManifestStore.currentVersion(spark, path) else 0
      val live = model.keysIterator.filter(k => partOf(k) == (d, b)).toArray.sorted
      if (delete) {
        val doomed = pick(live, DeleteKeys)
        val keys = doomed.toSeq.map(k => (k, d, b)).toDF("k", "day", "bucket")
        ops.write("store.delete", doomed.length)(
          ManifestStore.delete(spark, path, keys, KeyCols, PartCols))(_ => ())
        doomed.foreach(model.remove)
      } else {
        val updates = pick(live, BatchRows / 2).map(k => (k, rng.nextInt(1000000).toLong))
        val n0 = next((d, b))
        val inserts = (0 until BatchRows - updates.length).map(i => (keyOf(d, b, n0 + i), rng.nextInt(1000000).toLong))
        next((d, b)) = n0 + inserts.size
        val batch = (updates ++ inserts).toSeq.map { case (k, v) => (k, d, b, v) }
          .toDF("k", "day", "bucket", "v").withColumn("tag", tagCol)
        ops.write("store.merge", updates.length + inserts.size)(
          ManifestStore.merge(spark, path, batch, KeyCols, PartCols))(_ => ())
        (updates ++ inserts).foreach { case (k, v) => model(k) = v }
      }
      commits += 1
      if (ops.tracer.enabled) claimRetries += ManifestStore.currentVersion(spark, path) - v0 - 1
      readBack(ops, d, b)
    }

    private def pick(keys: Array[Long], n: Int): Array[Long] =
      if (keys.length <= n) keys
      else {
        val idx = mutable.LinkedHashSet.empty[Int]
        while (idx.size < n) idx += rng.nextInt(keys.length)
        idx.toArray.sorted.map(keys)
      }

    /** The snapshot read after a commit: one touched partition, aggregated. */
    private def readBack(ops: Ops, d: Int, b: Int): Unit = {
      val want = model.iterator.filter { case (k, _) => partOf(k) == (d, b) }.toSeq
      ops.read("store.read", 0)(
        ManifestStore.read(spark, path)
          .filter(col("day") === d && col("bucket") === b)
          .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)), coalesce(sum(length(col("tag"))), lit(0L)))
          .collect().head) { r =>
        val tagLen = want.map { case (k, v) => s"t$v-$k".length.toLong }.sum
        Check(r.getLong(0) == want.size && r.getLong(1) == want.map(_._2).sum && r.getLong(2) == tagLen,
          s"read of day=$d bucket=$b saw (${r.getLong(0)}, ${r.getLong(1)}), model has (${want.size}, ${want.map(_._2).sum})")
      }
    }

    def compact(ops: Ops): Unit =
      ops.background("store.compact", 0)(ManifestStore.compact(spark, path)) { collapsed =>
        Check(collapsed > 1, s"compaction collapsed $collapsed commits")
      }

    def finish(): End = {
      val table = ManifestStore.read(spark, path)
      val got = table.select(col("k"), col("v"), col("tag")).as[(Long, Long, String)].collect()
      val sameKeys = got.length == model.size && got.forall { case (k, v, tag) =>
        model.get(k).contains(v) && tag == s"t$v-$k" }
      val files = table.inputFiles.toSeq
      val bytes = files.map(f => new File(new java.net.URI(f)).length()).sum
      End(
        correct = sameKeys,
        storedBytesPerRow = bytes.toDouble / model.size,
        counters = Map(
          "store.live_files" -> files.size.toDouble,
          "store.manifest_version" -> ManifestStore.currentVersion(spark, path).toDouble,
          "store.claim_retries" -> claimRetries.toDouble,
          "commits" -> commits.toDouble),
        notes = if (sameKeys) Nil else Seq(s"final table (${got.length} rows) differs from the model (${model.size} keys)"))
    }
  }
}
