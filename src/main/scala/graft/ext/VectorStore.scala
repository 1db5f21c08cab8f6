package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Persisted, day-over-day-maintained VECTOR index — the embedding-side
  * sibling of [[DedupStores]], completing the maintained-store family
  * across modalities (text fp/LSH x65, count-min x114, data card x88,
  * histogram x123): an IVF + PQ index as three ManifestStore tables so
  * the daily refresh is an O(increment) encode + partition-pruned merge
  * and a probe is an O(probed partitions) scan — the historical
  * embedding corpus is never rescanned and the raw vectors never leave
  * their partitions (the store holds m one-byte codes per vector).
  *
  * Layout under `root`:
  *  - `codes`       — (centroid_id, vec_id, sub, code), PARTITIONED BY
  *    centroid_id: the IVF invariant "assignment is the partition key"
  *    made literal, so [[probe]]'s [[ManifestStore.readPartitions]]
  *    touches exactly the probed buckets' files;
  *  - `centroids`   — (centroid_id, vector), the probe's routing table
  *    (O(centroids), broadcast);
  *  - `codebook`    — (sub, code, cv), the PQ model (m×k rows);
  *  - `assign`      — (vec_id, centroid_id), PARTITIONED BY id-hash
  *    bucket: [[forget]]'s id→centroid lookup twin (the ClusterStore
  *    twin-index pattern), so right-to-be-forgotten deletes prune to
  *    the doomed ids' buckets and their centroids' partitions;
  *  - `attrs`       — optional (centroid_id, vec_id, attr…), written by
  *    `build(attrCols = …)` and CO-PARTITIONED with the codes:
  *    [[probeFiltered]]'s metadata predicate evaluates on the probed
  *    partitions only (the "attributes stored with the vectors" layout
  *    every production vector store uses for filtered search);
  *  - `nprobe_hist` — (c_rank, hits, law_k), the MEASURED nprobe sizing
  *    law ([[Similarity.nprobeRankHist]] persisted by
  *    [[writeNprobeLaw]]): O(centroids) rows recording where a truth
  *    sample's neighbors rank in the centroid ordering, so
  *    [[autoNprobe]] answers ANY target recall without re-measuring and
  *    [[probeAuto]] — the production probe entry — runs at a recall the
  *    operator DECLARED instead of a hand-picked constant (the x144
  *    audit measured recall@10 as low as 0.3 at a hand-picked 3).
  * Geometry (dim, m, k, stride, trainIters) rides a
  * `_graft_geometry.json` sidecar validated on every call — a silent
  * mismatch would encode increments against a different codebook and
  * quietly corrupt ranking (the DedupStores failure mode, same cure).
  *
  * Model provenance: centroids and codebook are frozen at [[build]] —
  * stride-sampled at `trainIters = 0`, k-means-trained
  * ([[Pq.codebookKmeans]]) at `trainIters > 0`, the production setting;
  * appends ENCODE AGAINST THE FROZEN MODEL, the standard IVF contract
  * (re-training is a rebuild, not an append).
  */
object VectorStore {

  private case class Geometry(dim: Int, m: Int, k: Int, stride: Long, trainIters: Int) {
    def fields: Seq[(String, Long)] = Seq(
      "dim" -> dim.toLong, "m" -> m.toLong, "k" -> k.toLong,
      "stride" -> stride, "iters" -> trainIters.toLong)
  }

  private def writeGeometry(spark: SparkSession, root: String, g: Geometry): Unit =
    StoreSidecar.write(spark, root, g.fields)

  /** Validate the sidecar (probe/append). A MISSING sidecar is a hard
    * error too: a build that crashed between its table writes would
    * otherwise leave a store silently accepting geometry-mismatched
    * appends — the exact corruption the sidecar exists to prevent.
    */
  private def requireGeometry(spark: SparkSession, root: String, want: Geometry): Unit =
    StoreSidecar.requireMatching(spark, root, want.fields, "VectorStore")

  /** Manifest txn key for the [[rebuild]] fence (the ClusterStore
    * .rebuildFromIndex pattern): the codebook table records the last
    * STARTED rebuild ticket (its overwrite is the window's first
    * commit), the codes table the last COMPLETED one (the window's
    * final data commit) — started != completed is exactly "a rebuild
    * crash window is open", during which the frozen-model tables and
    * the codes disagree about which model encoded what.
    */
  private val TxnRebuild = "graft.vector.rebuild"

  /** Refuse probes/appends/forgets while a [[rebuild]] crash window is
    * open: between the rebuild's first and last commit the model
    * tables hold the NEW model while codes still hold OLD-model rows —
    * a probe would ADC-score old codes through the new LUT (silently
    * wrong distances) and an append would encode against a model the
    * codes table doesn't match. The only cure is finishing the job:
    * re-run the rebuild (it reads nothing from this store, so it is
    * the universal repair and runs from ANY window).
    */
  private def requireNoOpenRebuild(spark: SparkSession, root: String): Unit = {
    val started = ManifestStore.lastTxn(spark, codebookT(root), TxnRebuild)
    val completed = ManifestStore.lastTxn(spark, codesT(root), TxnRebuild)
    if (started != completed)
      throw new IllegalStateException(
        s"VectorStore: $root has a crashed rebuild (codebook at ticket " +
          s"$started, codes at $completed) — re-run rebuild to close the window")
  }

  private def codesT(root: String) = s"$root/codes"
  private def centroidsT(root: String) = s"$root/centroids"
  private def codebookT(root: String) = s"$root/codebook"
  private def lawT(root: String) = s"$root/nprobe_hist"
  private def assignT(root: String) = s"$root/assign"
  private def attrsT(root: String) = s"$root/attrs"

  /** id-hash bucket count of the `assign` twin (the ClusterStore
    * twin-index pattern): [[forget]]'s id→centroid lookup prunes to the
    * doomed ids' buckets instead of scanning the codes table.
    */
  private val IdBuckets = 8

  private def idBucket(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c.cast("string")), lit(IdBuckets.toLong))

  /** Build (or rebuild) the index from a corpus slice, freezing the
    * centroid and codebook model tables. `centroids` supplies the
    * routing vectors (any id/vec frame); the codebook is stride-sampled
    * from `data` at `trainIters = 0` (see [[Pq.codebook]]) or k-means-
    * trained with that seed at `trainIters > 0`
    * ([[Pq.codebookKmeans]] — the production setting).
    */
  def build(
      spark: SparkSession,
      data: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      trainIters: Int = 0,
      attrCols: Seq[String] = Nil): Unit = {
    // the sidecar is written FIRST: build() is the rebuild authority (a
    // deliberate new geometry overwrites it), and any later probe/append
    // validates against it — so a build that crashes mid-way leaves a
    // store whose sidecar either predates the crash (tables consistent
    // with it) or names the new geometry (appends against half-built
    // tables still fail on the ManifestStore side, not silently)
    writeGeometry(spark, root, Geometry(dim, m, k, stride, trainIters))
    val cb =
      if (trainIters == 0) Pq.codebook(data, idCol, vecCol, dim, m, k, stride)
      else Pq.codebookKmeans(data, idCol, vecCol, dim, m, k, stride, trainIters)
    ManifestStore.write(spark, cb, codebookT(root), "sub")
    ManifestStore.write(spark,
      centroids.select(col(idCol).as("centroid_id"),
        col(vecCol).cast("array<double>").as("cv"))
        .withColumn("__pt", lit(0L)),
      centroidsT(root), "__pt")
    val codes = Dedup.materialize(
      encodeRows(spark, data, root, idCol, vecCol, dim, m))
    ManifestStore.write(spark,
      codes.select(col("vec_id"), col("centroid_id")).distinct()
        .withColumn("ptid", idBucket(col("vec_id"))),
      assignT(root), "ptid")
    ManifestStore.write(spark, codes, codesT(root), "centroid_id")
    if (attrCols.nonEmpty)
      ManifestStore.write(spark, attrRows(data, codes, idCol, attrCols),
        attrsT(root), "centroid_id")
  }

  /** The filterable-attribute rows riding the codes' partitioning: one
    * (centroid_id, vec_id, attrs…) row per vector, CO-PARTITIONED with
    * the codes table so [[probeFiltered]]'s predicate applies on the
    * same pruned partitions the ranking reads — the standard
    * vector-database "metadata stored with the vectors" layout.
    */
  private def attrRows(
      data: DataFrame,
      codes: DataFrame,
      idCol: String,
      attrCols: Seq[String]): DataFrame =
    data.select(col(idCol).as("vec_id") +: attrCols.map(col): _*)
      .join(codes.select(col("vec_id"), col("centroid_id")).distinct(),
        Seq("vec_id"))

  /** REBUILD the index from the surviving corpus — the scheduled cure
    * [[forget]]'s model caveat names, now code instead of prose: row
    * deletion erases a subject's CODE rows but the frozen centroids
    * and codebook were trained with the subject's vectors still in the
    * sample — their influence persists in the MODEL until it is
    * re-trained. This re-trains on `data` (the survivors), re-encodes,
    * and overwrites every table, leaving the store bit-identical to
    * [[build]] over the survivors (gated). The nprobe law is NOT
    * re-measured here — the codes overwrite bumps the version the law
    * is stamped with, so [[autoNprobe]]'s staleness fence refuses
    * until [[writeNprobeLaw]] re-runs (the honest default: a rebuilt
    * distribution is exactly what makes an old law wrong).
    *
    * Crash safety (the ClusterStore.rebuildFromIndex fence, inverted
    * like there): the rebuild reads NOTHING from this store, so it can
    * run from ANY window — an open append, a crashed forget, a crashed
    * prior rebuild — and closes them all. Its own window is fenced:
    * the codebook overwrite records `rebuildSeq` as STARTED, the codes
    * overwrite (the final data commit) records it as COMPLETED, and
    * probe/append/forget refuse while the two diverge. `rebuildSeq` is
    * the per-request ticket (the forgetSeq contract: unique per
    * request, reused verbatim on replay); replaying with the same
    * inputs rewrites identical tables — convergent from every crash
    * position (spec-pinned).
    */
  def rebuild(
      spark: SparkSession,
      data: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      rebuildSeq: Long,
      trainIters: Int = 0,
      attrCols: Seq[String] = Nil): Unit = {
    // an attrs-bearing store must stay attrs-bearing (and vice versa):
    // a rebuild that silently dropped the attrs table would break every
    // filtered probe, and one that silently added it would orphan the
    // appendDay contract
    require(!ManifestStore.exists(spark, attrsT(root)) || attrCols.nonEmpty,
      s"VectorStore.rebuild: $root carries filterable attrs — rebuild must " +
        "supply the same attrCols")
    // fence FIRST, geometry second: the codebook commit records the
    // rebuild ticket as STARTED, and only then does the sidecar flip to
    // the new geometry — so there is NO window where the sidecar
    // advertises the new geometry while the fence is still closed. (The
    // pre-fix order wrote the sidecar first: a crash before the codebook
    // commit left new-geometry probes passing BOTH requireGeometry and
    // the fence check against old-model tables.) A crash between the
    // two commits leaves the fence open — every surface refuses — and
    // replay with the same ticket rewrites both.
    val cb =
      if (trainIters == 0) Pq.codebook(data, idCol, vecCol, dim, m, k, stride)
      else Pq.codebookKmeans(data, idCol, vecCol, dim, m, k, stride, trainIters)
    ManifestStore.write(spark, cb, codebookT(root), Seq("sub"),
      txnRecord = Map(TxnRebuild -> rebuildSeq))
    writeGeometry(spark, root, Geometry(dim, m, k, stride, trainIters))
    ManifestStore.write(spark,
      centroids.select(col(idCol).as("centroid_id"),
        col(vecCol).cast("array<double>").as("cv"))
        .withColumn("__pt", lit(0L)),
      centroidsT(root), "__pt")
    val codes = Dedup.materialize(
      encodeRows(spark, data, root, idCol, vecCol, dim, m))
    ManifestStore.write(spark,
      codes.select(col("vec_id"), col("centroid_id")).distinct()
        .withColumn("ptid", idBucket(col("vec_id"))),
      assignT(root), "ptid")
    if (attrCols.nonEmpty)
      ManifestStore.write(spark, attrRows(data, codes, idCol, attrCols),
        attrsT(root), "centroid_id")
    // the final data commit closes the fence
    ManifestStore.write(spark, codes, codesT(root), Seq("centroid_id"),
      txnRecord = Map(TxnRebuild -> rebuildSeq))
  }

  /** Fold a day's vectors in: encode against the FROZEN model, merge on
    * vec_id — partition-pruned to the centroids the increment lands in,
    * and replay-idempotent (re-appending a day replaces its rows).
    * Refuses inside an open [[rebuild]] crash window.
    */
  def appendDay(
      spark: SparkSession,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      trainIters: Int = 0,
      attrCols: Seq[String] = Nil): Unit = {
    requireGeometry(spark, root, Geometry(dim, m, k, stride, trainIters))
    requireNoOpenRebuild(spark, root)
    // an attrs-bearing store must receive attrs with every append — an
    // increment without them would silently vanish from every filtered
    // probe (the attrs semi-join)
    require(attrCols.nonEmpty == ManifestStore.exists(spark, attrsT(root)),
      s"VectorStore: $root " + (if (attrCols.nonEmpty)
        "has no attrs table — build(attrCols = …) first"
      else "carries filterable attrs — appendDay must supply the same attrCols"))
    val codes = Dedup.materialize(
      encodeRows(spark, increment, root, idCol, vecCol, dim, m))
    // assign twin first: a crash between the two merges leaves the
    // twin ahead of the codes (a [[forget]] for those ids deletes
    // nothing yet), and replaying the day converges — both merges are
    // keyed replaces
    ManifestStore.merge(spark, assignT(root),
      codes.select(col("vec_id"), col("centroid_id")).distinct()
        .withColumn("ptid", idBucket(col("vec_id"))),
      Seq("vec_id"), "ptid")
    ManifestStore.merge(spark, codesT(root), codes,
      Seq("vec_id", "sub"), "centroid_id")
    if (attrCols.nonEmpty)
      ManifestStore.merge(spark, attrsT(root),
        attrRows(increment, codes, idCol, attrCols),
        Seq("vec_id"), "centroid_id")
  }

  /** Right-to-be-forgotten over the ANN index (the [[ManifestStore
    * .delete]] privacy primitive applied to the vector side): remove
    * `ids`' code rows and their assignment rows, touching O(doomed ids'
    * buckets + their centroid partitions) — never a codes scan. The
    * id→centroid lookup probes the `assign` twin's id-hash buckets,
    * then the codes delete is keyed (vec_id) and partition-pruned to
    * exactly the doomed assignments' centroids.
    *
    * Commit order: codes first (the data the subject asked to erase),
    * twin second; a crash between them leaves a twin row pointing at an
    * already-emptied partition, and RE-RUNNING the same forget converges
    * (both deletes are idempotent). Model caveat: the frozen
    * centroids/codebook were trained on the full corpus and are not
    * unlearned by row deletion — erasure of model influence is
    * [[rebuild]] (gated x245: forget → rebuild ≡ build over survivors,
    * bit-identical), run on the deployment's unlearning cadence.
    */
  def forget(
      spark: SparkSession,
      ids: DataFrame,
      idCol: String,
      root: String): Unit = {
    requireNoOpenRebuild(spark, root)
    val doomed = Dedup.materialize(
      ids.select(col(idCol).as("vec_id")).distinct())
    if (doomed.head(1).isEmpty) return
    val asg = Dedup.materialize(
      assignProbe(spark, root, doomed).select(col("vec_id"), col("centroid_id")))
    if (!asg.head(1).isEmpty) {
      ManifestStore.delete(spark, codesT(root), asg,
        Seq("vec_id"), Seq("centroid_id"))
      if (ManifestStore.exists(spark, attrsT(root)))
        ManifestStore.delete(spark, attrsT(root), asg,
          Seq("vec_id"), Seq("centroid_id"))
    }
    ManifestStore.delete(spark, assignT(root),
      doomed.withColumn("ptid", idBucket(col("vec_id"))),
      Seq("vec_id"), Seq("ptid"))
  }

  /** Assignment rows of the doomed ids' buckets only — package-private
    * so the plan spec can pin `inputFiles` ⊆ those buckets' leaf dirs.
    */
  private[graft] def assignProbe(
      spark: SparkSession,
      root: String,
      ids: DataFrame): DataFrame = {
    val leafs = ids.select(idBucket(col("vec_id")).as("ptid")).distinct()
      .collect().map(r => s"ptid=${r.getLong(0)}").sorted
    ManifestStore.readPartitions(spark, assignT(root), leafs.toSeq)
      .join(ids, Seq("vec_id"))
  }

  private def encodeRows(
      spark: SparkSession,
      data: DataFrame,
      root: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int): DataFrame = {
    val cents = ManifestStore.read(spark, centroidsT(root))
      .select(col("centroid_id").as(idCol), col("cv").as(vecCol))
    val cb = ManifestStore.read(spark, codebookT(root))
    val assigned = Similarity.ivfAssign(data, cents, idCol, vecCol)
      .select(col(idCol).as("vec_id"), col("centroid_id"))
    Pq.encode(data, cb, idCol, vecCol, dim, m)
      .withColumnRenamed(idCol, "vec_id")
      .join(assigned, "vec_id")
      .select(col("centroid_id"), col("vec_id"), col("sub"), col("code"))
  }

  /** ADC top-k against the store: route each query to its `nprobe`
    * nearest centroids, scan ONLY those partitions of the codes table
    * ([[ManifestStore.readPartitions]] — O(probed partitions) files),
    * and rank through the PQ LUT. Self-matches (same id) excluded, the
    * ivfTopK convention. Output: (query_id, rank, idCol, est_d9).
    */
  def probe(
      spark: SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      nprobe: Int,
      topK: Int,
      trainIters: Int = 0): DataFrame =
    probeCore(spark, queries, idCol, vecCol, root, dim, m, k, stride,
      nprobe, topK, trainIters, None)

  /** ANN top-k UNDER AN ATTRIBUTE PREDICATE — the filtered vector
    * search every production vector store offers ("nearest neighbors
    * where lang = 'en'"): the predicate evaluates against the `attrs`
    * table (written by `build(attrCols = …)`, CO-PARTITIONED with the
    * codes), candidates failing it are dropped BEFORE ranking, and the
    * ADC top-k runs on the survivors — pre-filtering, so the k results
    * are the best k FILTERED candidates in the probed cells, never a
    * post-filtered short list. Recall semantics are exactly [[probe]]'s
    * (the nprobe pruning is the only approximation; the filter itself
    * is exact), and the extra I/O is the probed partitions' attr rows —
    * same pruned partition set the ranking already reads.
    *
    * The predicate sees the attr columns by name (e.g.
    * `col("label") % 2 === 0`); a column the store doesn't carry fails
    * analysis loudly.
    */
  def probeFiltered(
      spark: SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      nprobe: Int,
      topK: Int,
      predicate: org.apache.spark.sql.Column,
      trainIters: Int = 0): DataFrame = {
    require(ManifestStore.exists(spark, attrsT(root)),
      s"VectorStore: $root was built without attrCols — " +
        "probeFiltered needs the attrs table")
    probeCore(spark, queries, idCol, vecCol, root, dim, m, k, stride,
      nprobe, topK, trainIters, Some(predicate))
  }

  private def probeCore(
      spark: SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      nprobe: Int,
      topK: Int,
      trainIters: Int,
      attrPred: Option[org.apache.spark.sql.Column]): DataFrame = {
    requireGeometry(spark, root, Geometry(dim, m, k, stride, trainIters))
    requireNoOpenRebuild(spark, root)
    val cents = ManifestStore.read(spark, centroidsT(root))
      .select(col("centroid_id").as(idCol), col("cv").as(vecCol))
    val cb = ManifestStore.read(spark, codebookT(root))
    val probes = Dedup.materialize(
      Similarity.probeCentroids(queries, cents, idCol, vecCol, nprobe))
    // the probed partition set is O(queries × nprobe) distinct ids —
    // driver-sized routing metadata by construction (same class as the
    // ManifestStore partition listings)
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.get(0).toString).sorted
    val probedLeafs = probedIds.map(id => s"centroid_id=$id")
    val codes = ManifestStore.readPartitions(spark, codesT(root), probedLeafs)
    val unfiltered = probes
      .join(codes.select(col("centroid_id"), col("vec_id")).distinct(),
        Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val candidates = attrPred match {
      case None => unfiltered
      case Some(p) =>
        // the predicate runs on the SAME pruned partitions the ranking
        // reads — attrs are co-partitioned by centroid assignment
        val keep = ManifestStore.readPartitions(spark, attrsT(root), probedLeafs)
          .filter(p).select(col("vec_id"))
        unfiltered.join(keep, Seq("vec_id"), "left_semi")
    }
    Pq.adcTopKCandidates(
      queries.select(col(idCol).as("vec_id"), col(vecCol)), candidates,
      codes.select(col("vec_id"), col("sub"), col("code")), cb,
      "vec_id", vecCol, dim, m, topK)
  }

  /** Measure the nprobe sizing law against the STORED routing table and
    * persist it: one brute-force pass of `queries` (a fixed sample at
    * corpus scale) against `data`, one centroid ranking, and an
    * O(centroids)-row histogram written as the `nprobe_hist` table —
    * re-runnable (a re-measure replaces the law; `law_k` records the
    * truth depth so a mismatched later read fails loudly). Run at build
    * time and after appends that materially shift the distribution.
    */
  def writeNprobeLaw(
      spark: SparkSession,
      data: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      k: Int): Unit = {
    val cents = ManifestStore.read(spark, centroidsT(root))
      .select(col("centroid_id").as(idCol), col("cv").as(vecCol))
    // the STALENESS STAMP: the codes table's snapshot version at
    // measurement time. Every appendDay/forget commit bumps it, so
    // "commits since the law was measured" is exactly the version gap
    // autoNprobe checks — the skipping indexes' version-stamp refusal
    // pattern, applied to a statistical artifact.
    val cv = ManifestStore.versions(spark, codesT(root)).headOption.getOrElse(0)
    ManifestStore.write(spark,
      Similarity.nprobeRankHist(data, cents, queries, idCol, vecCol, k)
        .withColumn("law_k", lit(k.toLong))
        .withColumn("law_codes_v", lit(cv.toLong))
        .withColumn("__pt", lit(0L)),
      lawT(root), "__pt")
  }

  private val warnedStaleLaw = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Resolve the smallest nprobe meeting `targetRecall` from the
    * persisted law — O(centroids) rows read, no corpus work. `k` must
    * match the depth the law was measured at.
    *
    * STALENESS: the law is a measurement of the distribution at
    * measurement time; appends shift it silently, so the law records
    * the codes table's snapshot version and this resolve compares it to
    * the CURRENT one. More than `maxLawLag` commits since measurement
    * (default 0 — any append invalidates) either REFUSES (default: the
    * production posture — a stale law resolving a too-narrow nprobe is
    * a silent recall cut) or WARNS once (`staleLawAction = "warn"`, the
    * ad-hoc posture). The cure is re-running [[writeNprobeLaw]].
    */
  def autoNprobe(
      spark: SparkSession,
      root: String,
      k: Int,
      targetRecall: Double,
      maxNprobe: Int = 0,
      maxLawLag: Int = 0,
      staleLawAction: String = "refuse"): Int = {
    require(staleLawAction == "refuse" || staleLawAction == "warn",
      s"VectorStore.autoNprobe: staleLawAction=$staleLawAction (refuse|warn)")
    val rows = ManifestStore.read(spark, lawT(root))
      .select(col("c_rank"), col("hits"), col("law_k"), col("law_codes_v"))
      .collect()
    require(rows.forall(_.getLong(2) == k.toLong),
      s"VectorStore: $root's nprobe law was measured at " +
        s"k=${rows.headOption.map(_.getLong(2)).getOrElse(-1L)}, not $k — " +
        "re-run writeNprobeLaw at the depth you probe at")
    val lawV = rows.headOption.map(_.getLong(3)).getOrElse(0L)
    val curV = ManifestStore.versions(spark, codesT(root)).headOption.getOrElse(0).toLong
    if (curV - lawV > maxLawLag.toLong) {
      val msg = s"VectorStore: $root's nprobe law was measured at codes " +
        s"version $lawV but the store is at $curV (${curV - lawV} commits " +
        s"past the allowed $maxLawLag) — the distribution may have shifted; " +
        "re-run writeNprobeLaw (or raise maxLawLag / staleLawAction=\"warn\")"
      if (staleLawAction == "refuse") throw new IllegalStateException(msg)
      else if (warnedStaleLaw.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    Similarity.nprobeFromHist(
      rows.map(r => (r.getInt(0), r.getLong(1))).toSeq, targetRecall, maxNprobe)
  }

  /** The PRODUCTION probe entry: nprobe comes from the persisted sizing
    * law at a DECLARED target recall, not a hand-picked constant —
    * [[autoNprobe]] then [[probe]]. `maxNprobe > 0` is the latency
    * budget cap (recall degrades honestly when it binds); `maxLawLag` /
    * `staleLawAction` are the law-staleness dials (see [[autoNprobe]]).
    */
  def probeAuto(
      spark: SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      dim: Int,
      m: Int,
      k: Int,
      stride: Long,
      targetRecall: Double,
      topK: Int,
      maxNprobe: Int = 0,
      trainIters: Int = 0,
      maxLawLag: Int = 0,
      staleLawAction: String = "refuse"): DataFrame =
    probe(spark, queries, idCol, vecCol, root, dim, m, k, stride,
      autoNprobe(spark, root, topK, targetRecall, maxNprobe, maxLawLag, staleLawAction),
      topK, trainIters)
}
