package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{DedupStores, VectorStore}
import graft.sources.ManifestStore

/** `corpus_serve`: a [[VectorStore]] (IVF + PQ codes) and a
  * [[DedupStores]] index over a generated corpus, served by alternating
  * probe batches (`VectorStore.probe` at a fixed nprobe plus
  * `DedupStores.probe` over incoming documents with planted
  * near-duplicates) and daily appends (`VectorStore.appendDay` plus
  * `DedupStores.append`).
  *
  * Why: it drives `ext` and the partition-pruned read path
  * (`ManifestStore.readPartitions`) instead of the merge path. Recall is
  * measured against an exact top-10 the benchmark computes itself, so
  * probing fewer partitions shows as lost recall.
  */
object CorpusServe extends Workload {
  val name = "corpus_serve"

  val Dim = 32
  val Subspaces = 8
  val Codewords = 64
  val Stride = 7L
  /** Vectors scatter tightly around topic centres, ~15 base vectors a
    * topic, so a query's exact top-10 are close neighbours of its own
    * topic rather than a tie among distant vectors.
    */
  val Topics = 200
  val TopicNoise = 0.05
  val BaseVectors = 3000
  /** Every `CentroidEvery`-th base vector routes an IVF partition. */
  val CentroidEvery = 100
  val NProbe = 4
  val TopK = 10
  val Queries = 64
  val QueriesPerBatch = 8
  val BaseDocs = 600
  val DocsPerBatch = 8
  val PlantedPerBatch = 2
  val VectorsPerDay = 100
  val DocsPerDay = 20
  val Vocabulary = 4000
  val WordsPerDoc = 30

  def setup(ctx: Ctx): Instance = {
    val inst = new Inst(ctx)
    inst.build()
    inst
  }

  final class Inst(ctx: Ctx) extends Instance {
    private val spark = ctx.spark
    import spark.implicits._
    private val rng = ctx.rng
    val dir: File = ctx.dir
    private val vecRoot = ctx.path("vectors")
    private val fpTable = ctx.path("fp")
    private val idxTable = ctx.path("idx")
    private val centers = Array.fill(Topics)(unit(Array.fill(Dim)(rng.nextGaussian())))
    /** The model: every vector and document the stores should hold. */
    private val vectors = ArrayBuffer.empty[Array[Double]]
    private val docs = ArrayBuffer.empty[String]
    private var centroidIds: Seq[Int] = Nil
    private val queries = Array.tabulate(Queries)(_ => vector())
    private var batches = 0L
    private var recallSum = 0.0
    private var recallN = 0L
    private var planted = 0L
    private var plantedFound = 0L
    private val probedPerQuery = ArrayBuffer.empty[Double]
    private val candidatesPerResult = ArrayBuffer.empty[Double]

    private def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    private def vector(): Array[Double] =
      unit(centers(rng.nextInt(Topics)).map(_ + TopicNoise * rng.nextGaussian()))
    private def doc(): String = Seq.fill(WordsPerDoc)(s"w${rng.nextInt(Vocabulary)}").mkString(" ")
    /** A near-duplicate of a stored document: one word replaced. */
    private def nearDup(text: String): String = {
      val w = text.split(" ")
      w(rng.nextInt(w.length)) = s"x${rng.nextInt(Vocabulary)}"
      w.mkString(" ")
    }

    private def vecFrame(ids: Seq[Long], vs: Seq[Array[Double]]): DataFrame =
      ids.zip(vs).toDF("vec_id", "embedding")
    private def docFrame(ids: Seq[Long], ts: Seq[String]): DataFrame =
      ids.zip(ts).toDF("doc_id", "text")

    def build(): Unit = {
      require(!new File(vecRoot).exists() && !new File(fpTable).exists(), s"stores exist under $dir before set-up")
      vectors ++= Seq.fill(BaseVectors)(vector())
      docs ++= Seq.fill(BaseDocs)(doc())
      centroidIds = vectors.indices.filter(_ % CentroidEvery == 0)
      val corpus = vecFrame(vectors.indices.map(_.toLong), vectors.toSeq)
      VectorStore.build(spark, corpus, corpus.filter(col("vec_id") % CentroidEvery === 0),
        "vec_id", "embedding", vecRoot, Dim, Subspaces, Codewords, Stride)
      DedupStores.build(spark, docFrame(docs.indices.map(_.toLong), docs.toSeq), "doc_id", "text", fpTable, idxTable)
    }

    def step(ops: Ops): Unit = {
      probeBatch(ops)
      appendDay(ops)
    }

    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Exact top-k by distance over the model (unit vectors: by dot). */
    private def exactTopK(q: Array[Double]): Set[Long] =
      vectors.indices.sortBy(i => (-dot(q, vectors(i)), i)).take(TopK).map(_.toLong).toSet

    /** The partitions a query probes: its `NProbe` nearest centroids. */
    private def probed(q: Array[Double]): Seq[Int] =
      centroidIds.sortBy(c => (-dot(q, vectors(c)), c)).take(NProbe)

    private def probeBatch(ops: Ops): Unit = {
      val qIdx = (0 until QueriesPerBatch).map(i => ((batches * QueriesPerBatch + i) % Queries).toInt)
      val qFrame = vecFrame(qIdx.map(i => 10000000L + i), qIdx.map(queries))
      val dupOf = Seq.fill(PlantedPerBatch)(rng.nextInt(docs.size))
      val incoming = dupOf.map(i => nearDup(docs(i))) ++ Seq.fill(DocsPerBatch - PlantedPerBatch)(doc())
      val incIds = incoming.indices.map(i => 20000000L + batches * DocsPerBatch + i)
      val incFrame = docFrame(incIds, incoming)
      ops.read("ext.probe_batch", QueriesPerBatch + DocsPerBatch) {
        val ann = ops.tracer.span("ext.vector_probe")(
          VectorStore.probe(spark, qFrame, "vec_id", "embedding", vecRoot, Dim, Subspaces, Codewords,
            Stride, NProbe, TopK).select(col("query_id"), col("vec_id")).as[(Long, Long)].collect())
        val flags = ops.tracer.span("ext.dedup_probe")(
          DedupStores.probe(spark, incFrame, "doc_id", "text", fpTable, idxTable)
            .select(col("doc_id"), col("clean")).as[(Long, Boolean)].collect())
        (ann, flags)
      } { case (ann, flags) =>
        val byQuery = ann.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val recalls = qIdx.map { i =>
          val got = byQuery.getOrElse(10000000L + i, Set.empty)
          Check(got.size == TopK, s"query $i got ${got.size} results")
          (got intersect exactTopK(queries(i))).size.toDouble / TopK
        }
        recallSum += recalls.sum; recallN += recalls.size
        val clean = flags.toMap
        val found = incIds.take(PlantedPerBatch).count(id => clean.get(id).contains(false))
        planted += PlantedPerBatch; plantedFound += found
        Check(found == PlantedPerBatch, s"found $found of $PlantedPerBatch planted near-duplicates")
        Check(incIds.drop(PlantedPerBatch).forall(id => clean.get(id).contains(true)), "a fresh document was flagged")
      }
      if (ops.tracer.enabled) {
        val leafs = qIdx.flatMap(i => probed(queries(i))).distinct.map(c => s"centroid_id=$c")
        ops.tracer.span("store.read_partitions")(
          ManifestStore.readPartitions(spark, s"$vecRoot/codes", leafs).count())
        probedPerQuery += qIdx.map(i => probed(queries(i)).size).sum.toDouble / qIdx.size
        val nearest = vectors.indices.groupBy(v => centroidIds.maxBy(c => (dot(vectors(v), vectors(c)), -c)))
        candidatesPerResult += qIdx.map(i => probed(queries(i)).map(c => nearest.get(c).fold(0)(_.size)).sum)
          .sum.toDouble / (qIdx.size * TopK)
      }
      batches += 1
    }

    private def appendDay(ops: Ops): Unit = {
      val vs = Seq.fill(VectorsPerDay)(vector())
      val ds = Seq.fill(DocsPerDay)(doc())
      val vFrame = vecFrame(vectors.size.toLong until (vectors.size + VectorsPerDay).toLong, vs)
      val dFrame = docFrame(docs.size.toLong until (docs.size + DocsPerDay).toLong, ds)
      ops.write("ext.append_day", VectorsPerDay + DocsPerDay) {
        ops.tracer.span("ext.vector_append")(
          VectorStore.appendDay(spark, vFrame, "vec_id", "embedding", vecRoot, Dim, Subspaces, Codewords, Stride))
        ops.tracer.span("ext.dedup_append")(
          DedupStores.append(spark, dFrame, "doc_id", "text", fpTable, idxTable))
      }(_ => ())
      vectors ++= vs
      docs ++= ds
    }

    def finish(): End = {
      val recall = if (recallN == 0) 0.0 else recallSum / recallN
      val codes = ManifestStore.read(spark, s"$vecRoot/codes")
        .agg(count(lit(1)), countDistinct(col("vec_id"))).collect().head
      val idx = ManifestStore.read(spark, idxTable).agg(countDistinct(col("id"))).collect().head
      val ok = codes.getLong(0) == vectors.size.toLong * Subspaces && codes.getLong(1) == vectors.size &&
        idx.getLong(0) == docs.size
      val (bytes, _) = Seq(s"$vecRoot/codes", idxTable).map(p => Files.usage(new File(p)))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      End(
        correct = ok,
        storedBytesPerRow = bytes.toDouble / (vectors.size + docs.size),
        recall = Some(recall),
        counters = Map(
          "ext.recall_at_10" -> recall,
          "ext.planted_dups" -> planted.toDouble,
          "ext.planted_dups_found" -> plantedFound.toDouble,
          "ext.partitions_probed_per_query" -> (if (probedPerQuery.isEmpty) 0.0 else Stats.median(probedPerQuery.toSeq)),
          "ext.candidates_per_result" -> (if (candidatesPerResult.isEmpty) 0.0 else Stats.median(candidatesPerResult.toSeq))),
        notes = if (ok) Nil else Seq(s"stores differ from the model: codes $codes, index $idx, " +
          s"model ${vectors.size} vectors / ${docs.size} docs"))
    }
  }
}
