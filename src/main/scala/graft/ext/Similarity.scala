package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (extension surface, SURVEY.md §2.12). Expression-only vector math —
  * `zip_with` + `aggregate` compile to codegen'd loops; no UDF, no MLlib.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact top-k, query set broadcast against the full
  *    corpus — the baseline, O(|Q|·N) but embarrassingly parallel (each
  *    corpus partition scores independently; the only shuffle is the final
  *    per-query top-k, and partial top-k prunes it map-side).
  *  - [[ivfTopK]]: IVF-style — corpus pre-assigned to nearest centroid;
  *    a query probes only the `nprobe` nearest centroid buckets, cutting
  *    scored candidates by ~|centroids|/nprobe. At 100 TB the assignment is
  *    a write-time partition key, so probing prunes whole partitions.
  */
object Similarity {

  /** Codegen'd dot product (custom expression —
    * [[org.apache.spark.sql.graftfn.DotProductF64]]); the HOF spelling
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` is orders of magnitude
    * slower (CodegenFallback) with identical results.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftfn.VectorExpressions.dotProduct(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with precomputed norms (compute norms once per side, not per pair). */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Exact top-k neighbors for each query vector.
    *
    * @param data    corpus: (`idCol`, `vecCol`)
    * @param queries query set: (`idCol`, `vecCol`) — must be broadcastable
    * @return (query_id, neighbor_id, rank, cosine) with rank 1..k by
    *         (cosine desc, neighbor_id) — a total order, so results are
    *         deterministic under ties.
    */
  def bruteForceTopK(data: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    topK(data, queries, idCol, vecCol, k, excludeSelf = true)

  /** Hard-negative mining for contrastive training: each query's top-k
    * most-similar corpus vectors that carry a DIFFERENT `labelCol` —
    * the highest-confusion negatives, the pairs an embedding trainer
    * wants in the batch. Same broadcast + two-stage-top-k shape as
    * [[bruteForceTopK]]; the label inequality rides the broadcast join
    * condition, so mismatched pairs are dropped before scoring ever
    * shuffles. Output: (query_id, rank, neighbor_id, cosine).
    */
  def hardNegatives(data: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame =
    // null labels are EXCLUDED on both sides, explicitly: a null-label
    // query has no "different label" semantics (SQL null =!= x is null,
    // which would silently return zero negatives), and a null-label
    // corpus row can never be known to be a negative
    topK(data.filter(col(labelCol).isNotNull),
      queries.filter(col(labelCol).isNotNull), idCol, vecCol, k,
      excludeSelf = false, excludeLabelCol = Some(labelCol))

  /** Core scored top-k; `excludeSelf=false` keeps pairs with equal ids —
    * needed when the two id spaces are unrelated (e.g. centroid probing,
    * where centroid ids incidentally collide with query ids).
    */
  private def topK(data: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, excludeSelf: Boolean, excludeLabelCol: Option[String] = None): DataFrame = {
    val corpus = data.select((col(idCol).as("neighbor_id") +:
        col(vecCol).cast("array<double>").as("dv") +:
        excludeLabelCol.map(c => col(c).as("__nl")).toSeq): _*)
      .withColumn("dn", norm(col("dv")))
    val qs = queries.select((col(idCol).as("query_id") +:
        col(vecCol).cast("array<double>").as("qv") +:
        excludeLabelCol.map(c => col(c).as("__ql")).toSeq): _*)
      .withColumn("qn", norm(col("qv")))
    val selfCond = if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true)
    val joinCond = excludeLabelCol
      .map(_ => selfCond && col("__nl") =!= col("__ql")).getOrElse(selfCond)
    val scored = corpus.join(broadcast(qs), joinCond)
      .withColumn("cosine", cosine(col("dv"), col("qv"), col("dn"), col("qn")))
    // Two-stage top-k: a window partitioned only by query_id funnels ALL
    // N×|Q| scored rows through |Q| reducers — the skew bottleneck at
    // scale. Stage 1 takes the top-k per (query, input partition) — |Q|×P
    // way parallel — shrinking the global stage to |Q|×P×k rows. Exact:
    // the global top-k is a subset of the union of per-partition top-ks,
    // and both stages share the (cosine desc, neighbor_id) total order.
    val ord = Seq(col("cosine").desc, col("neighbor_id"))
    val withPid = scored.withColumn("__pid", spark_partition_id())
    val local = Window.partitionBy(col("query_id"), col("__pid")).orderBy(ord: _*)
    val pruned = withPid.withColumn("__lrn", row_number().over(local))
      .filter(col("__lrn") <= k).drop("__lrn", "__pid")
    val w = Window.partitionBy(col("query_id")).orderBy(ord: _*)
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Symmetric int8 quantization of an embedding (the storage-compression
    * leg of the ANN scale path: 4× smaller than float32, 8× smaller than
    * the double working form; at 100 TB the embedding column dominates
    * storage and scan cost). Returns struct(scale double, q array<int>)
    * with q[i] = round(v[i] / scale × 127); dequantize as q[i]×scale/127.
    */
  def quantizeInt8(v: Column): Column = {
    val dv = v.cast("array<double>")
    val scale = array_max(transform(dv, x => abs(x)))
    struct(scale.as("scale"),
      transform(dv, x => round(x / scale * 127).cast("int")).as("q"))
  }

  /** Assign each corpus vector to its nearest centroid (IVF build step).
    * Centroids must be small (broadcast); returns data + `centroid_id`.
    * At scale this runs once at ingest and becomes the partition key.
    */
  def ivfAssign(data: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val cents = centroids.select(col(idCol).as("centroid_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val v = data.withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("__n", norm(col("__v")))
    val scored = v.join(broadcast(cents), lit(true))
      .withColumn("__sim", cosine(col("__v"), col("cv"), col("__n"), col("cn")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__sim").desc, col("centroid_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__sim", "cv", "cn", "__v", "__n")
  }

  /** The nprobe nearest centroids per query — the probe half of
    * [[ivfTopK]], public so compositions that rerank differently (e.g.
    * IVF + PQ's ADC) can reuse it. (small × small; NO self-id exclusion
    * — centroid ids and query ids are different namespaces.) Output:
    * (query_id, centroid_id).
    */
  def probeCentroids(
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int): DataFrame =
    topK(
      centroids.select(col(idCol), col(vecCol)),
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, nprobe,
      excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("centroid_id"))

  /** IVF search: probe the `nprobe` nearest centroid buckets per query,
    * exact-rerank within them. Returns (query_id, rank, neighbor_id, cosine).
    */
  def ivfTopK(
      assigned: DataFrame, // corpus with centroid_id (from ivfAssign)
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val qProbes = probeCentroids(queries, centroids, idCol, vecCol, nprobe)
    val qs = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .join(qProbes, "query_id")
    val corpus = assigned.select(col(idCol).as("neighbor_id"), col("centroid_id"),
      col(vecCol).cast("array<double>").as("dv"))
      .withColumn("dn", norm(col("dv")))
    // bucket-pruned join: only vectors in probed buckets get scored
    val scored = corpus.join(broadcast(qs), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("dv"), col("qv"), col("dn"), col("qn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** [[probeCentroids]] with EVERY centroid ranked per query (rank 1 =
    * nearest) — the x-axis of the nprobe sizing law. Output:
    * (query_id, centroid_id, c_rank). small × small, like the probe.
    */
  def probeCentroidsRanked(
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    topK(
      centroids.select(col(idCol), col(vecCol)),
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, Int.MaxValue,
      excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("centroid_id"),
        col("rank").as("c_rank"))

  /** MEASURED nprobe sizing — the [[srpAutoBits]] precedent applied to
    * IVF probing (the x144 recall audit showed recall@10 as low as 0.3
    * at nprobe=3; "pick 3" is not a law). The law: a true neighbor is
    * found iff its centroid's rank in the query's centroid ordering is
    * ≤ nprobe, so recall(nprobe) is the CDF of that rank over (query,
    * true-neighbor) pairs — measure it on a query sample and return
    * the smallest nprobe whose measured recall ≥ `targetRecall`.
    *
    * Cost: one brute-force top-k of the query SAMPLE against `data`
    * (pass a corpus sample for a 100 TB corpus — sampled ground truth
    * skews toward FARTHER neighbors, which sit in farther centroids,
    * so the estimate errs toward larger nprobe, the safe side), one
    * broadcast centroid ranking, and an O(centroids)-row histogram
    * collect — the only driver state. `maxNprobe > 0` caps the answer
    * (latency budget); an empty sample returns 1.
    */
  def ivfAutoNprobe(
      data: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      targetRecall: Double,
      maxNprobe: Int = 0): Int =
    nprobeFromHist(
      nprobeRankHist(data, centroids, queries, idCol, vecCol, k)
        .collect().map(r => (r.getInt(0), r.getLong(1))),
      targetRecall, maxNprobe)

  /** The sizing law's raw MEASUREMENT, as a frame so a deployed index
    * can persist it ([[VectorStore.writeNprobeLaw]]) and answer any
    * later target without re-measuring: (c_rank, hits) — how many
    * (query, true-neighbor) pairs sit at each centroid rank. Every
    * truth pair lands in exactly one cell (its neighbor's centroid has
    * exactly one rank), so the cells sum to the pair total; the frame
    * is ≤ |centroids| rows.
    */
  def nprobeRankHist(
      data: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val truth = bruteForceTopK(data, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val assigned = ivfAssign(data, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
    val ranked = probeCentroidsRanked(queries, centroids, idCol, vecCol)
    truth
      .join(assigned, "neighbor_id")
      .join(ranked, Seq("query_id", "centroid_id"))
      .groupBy(col("c_rank")).agg(count(lit(1)).as("hits"))
  }

  /** Resolve a collected histogram to the smallest nprobe whose recall
    * CDF meets `targetRecall` — the other half of [[ivfAutoNprobe]],
    * shared with the persisted-law path. An empty histogram returns 1;
    * `maxNprobe > 0` caps the answer.
    */
  def nprobeFromHist(
      rows: Seq[(Int, Long)],
      targetRecall: Double,
      maxNprobe: Int = 0): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"nprobeFromHist: targetRecall=$targetRecall must be in (0, 1]")
    val hist = rows.sortBy(_._1)
    val total = hist.map(_._2).sum
    if (total == 0L) return 1
    val cums = hist.scanLeft(0L)(_ + _._2).tail
    val needed = hist.zip(cums)
      .find { case (_, cum) => cum.toDouble / total >= targetRecall }
      .map(_._1._1).getOrElse(hist.last._1)
    val capped = if (maxNprobe > 0) math.min(needed, maxNprobe) else needed
    math.max(1, capped)
  }

  /** Deterministic signed-random-projection hyperplanes (Charikar 2002
    * SimHash-for-vectors): component j of plane i is a uniform in [-1, 1)
    * derived from the md5 48-bit prefix of "srp_<i>_<j>" — the same value
    * any engine computes from its own md5, so an oracle can rebuild the
    * planes bit-identically. O(planes × dim) doubles: broadcast metadata,
    * like an IVF centroid table.
    */
  def srpPlanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes) { i =>
      Array.tabulate(dim) { j0 =>
        val j = j0 + 1 // 1-based, matching SQL list indexing
        val hex = md.digest(s"srp_${i}_$j".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h48 = java.lang.Long.parseLong(hex.substring(0, 12), 16)
        2.0d * ((h48 + 0.5d) / 281474976710656.0d) - 1.0d
      }
    }
  }

  /** Production band-key width for a corpus of `n` vectors: keeps
    * expected bucket occupancy ~8 (candidates O(N) per band). ceil(log₂
    * n) − 3, in [4, 48] — the key stays one LONG with headroom, and the
    * upper clamp binds only past 2^51 vectors.
    */
  def srpAutoBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.max(4, math.min(48, ceilLog2 - 3))
  }

  /** Random-hyperplane LSH near-dup pairs over embeddings — the
    * LSH-bucketed scale path for vector similarity (vs [[ivfTopK]]'s
    * cluster pruning): band t of `bands` hashes `bitsPerBand` projection
    * signs into a bucket key; only same-(band, bucket) pairs are scored.
    * P(bit agrees) = 1 − θ/π, so recall at cosine c is
    * 1 − (1 − (1−arccos(c)/π)^bits)^bands — tune bands/bits to the
    * threshold exactly like MinHash banding. Never all-pairs: candidates
    * are per-bucket, the verify join scores only collisions, and the
    * exact-cosine filter makes the RESULT exact for the candidates found
    * (false positives die on the threshold; the miss rate is the banded
    * complement above, mirrored by any oracle that rebuilds the same
    * planes). Output: (id_a, id_b, cosine) with id_a < id_b.
    *
    * Sizing at scale: expected candidate volume per band is
    * ~N²/2^bitsPerBand (uniform buckets), so `bitsPerBand` must grow
    * with log₂(N) — e.g. bits ≈ log₂(N) − 3 keeps ~8 vectors per bucket
    * at any corpus size, making candidates O(N). The fixture gates pin
    * 6 bits for 500 vectors; a 10⁹-vector corpus wants ~27 bits (band
    * keys stay one LONG). Measured on staged replicas: at 10× rows,
    * 6→10 bits cuts candidate work ~16× with recall at the threshold
    * unchanged by the banding analysis above.
    *
    * `bitsPerBand <= 0` (the default) auto-sizes the band-key width to
    * [[srpAutoBits]] of a cheap corpus count — the production sizing law
    * (bits ≈ log₂(N) − 3, ~8 vectors/bucket) applies by DEFAULT, so
    * pointing this at a 10⁹-vector corpus without tuning gets ~27-bit
    * keys instead of the fixture's 6 and candidate volume stays O(N).
    * Callers that need a pinned reproducible key width (the x62/x63
    * gates, cross-engine oracles) pass it explicitly.
    */
  def srpNearDupPairs(
      data: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int = 8,
      bitsPerBand: Int = -1,
      threshold: Double = 0.4): DataFrame = {
    val v = data.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("ve"))
    // dimension probe (a LIMIT-1 scan); empty corpus → empty pair set,
    // matching ivfAssign/minhashPairs graceful-empty behavior
    val dimRow = v.select(size(col("ve")).as("d")).limit(1).collect()
    if (dimRow.isEmpty)
      return v.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0d).as("cosine")).limit(0)
    val dim = dimRow(0).getInt(0)
    val bits = if (bitsPerBand > 0) bitsPerBand else srpAutoBits(data.count())
    val planes = srpPlanes(bands * bits, dim)
    val bandCols = (0 until bands).map { t =>
      (0 until bits).map { b =>
        val i = t * bits + b
        when(dot(col("ve"), typedLit(planes(i).toSeq)) >= 0d, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    // ONE materialized per-vector table (id, ve, nrm, band keys) feeds
    // both self-join sides AND both verify joins — the projections (48
    // codegen'd dot products + the norm) run exactly once, the
    // three-consumer shape [[Dedup.materialize]] exists for.
    // Zero-norm vectors are excluded up front: their cosine is 0/0 = NaN,
    // and Spark's NaN ordering makes `NaN >= threshold` TRUE, so a
    // degenerate vector colliding in a bucket would otherwise emit
    // NaN-cosine pairs.
    val sig = Dedup.materialize(v
      .withColumn("nrm", norm(col("ve")))
      .filter(col("nrm") > 0d)
      .withColumn("bks", array(bandCols: _*)))
    val buckets = sig.select(col("id"),
      posexplode(col("bks")).as(Seq("band", "bucket")))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val side = sig.select(col("id"), col("ve"), col("nrm"))
    cands
      .join(side.select(col("id").as("id_a"), col("ve").as("va"), col("nrm").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("ve").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Blocked edit-distance candidate pairs — the entity-resolution
    * blocking pattern (Fellegi & Sunter 1969; Christen 2012): records
    * meet only inside their block (`blockKey` — a phonetic key, a name
    * prefix + region, …), where the O(Σ_b |b|²) within-block pair volume
    * replaces the O(n²) all-pairs cross join that can never run at
    * corpus scale. Emits (id_a, id_b, dist) for ordered within-block
    * pairs with `levenshtein ≤ maxDist`.
    *
    * 100 TB design: ONE shuffle on the block key (an equi-join, never a
    * cartesian); block sizing is the caller's quality/cost dial exactly
    * as bands are for MinHash — [[graft.ext.Quantiles.keySkewStats]] on
    * the block key is the pre-flight for a skewed blocking scheme. The
    * distance itself is Spark's codegen'd `levenshtein`, computed only
    * on within-block pairs. Null names and null block keys are excluded
    * (a null key would otherwise form its own giant block).
    */
  def blockedEditPairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockKey: Column,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"blockedEditPairs: maxDist=$maxDist")
    val b = df.select(col(idCol).as("id"), col(nameCol).as("nm"),
        blockKey.as("bk"))
      .filter(col("nm").isNotNull && col("bk").isNotNull)
    b.select(col("bk"), col("id").as("id_a"), col("nm").as("nm_a"))
      .join(b.select(col("bk"), col("id").as("id_b"), col("nm").as("nm_b")),
        Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("nm_a"), col("nm_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
