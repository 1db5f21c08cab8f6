package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Persisted, day-over-day-maintained dedup stores — the production form
  * of the incremental-dedup pattern (SURVEY.md §2.12; the reference's
  * closest shape is the reprocess log-state in
  * /root/reference/cubicerpetl/cubicerpetl.py:266-302, which keeps
  * processed-key state between runs; here the state is a maintained
  * TABLE, not a log replay).
  *
  * Two stores, both [[ManifestStore]] tables so every daily refresh is an
  * O(touched partitions) transactional merge rather than a rewrite:
  *  - the FINGERPRINT store: one (fp, id) row per accepted doc's
  *    normalized-content fingerprint (keys-only — at 100 TB this is the
  *    only corpus-sized artifact the daily job reads, and it is orders of
  *    magnitude smaller than the corpus). Holding the id alongside the fp
  *    is what makes [[forget]] exact: a fingerprint SHARED by several
  *    docs keeps its other holders' rows when one holder is forgotten,
  *    so exact-dup detection of surviving content never degrades;
  *  - the MINHASH INDEX store: the banded LSH index rows of
  *    [[Dedup.minhashIndex]] (id, shingle set, k minhashes), the
  *    persisted index that [[Dedup.minhashProbe]] probes in O(increment ×
  *    bands).
  *
  * Daily cycle: [[probe]] flags the increment against yesterday's stores
  * (exact + near dup) WITHOUT touching the historical corpus — the stores
  * are the only historical input; [[append]] then folds the day's
  * accepted docs into both stores (merge on fp / id, partition-pruned by
  * the hash-bucket partition key), so tomorrow's probe sees today's docs.
  * Nothing historical is ever recomputed: build once, probe + merge
  * daily.
  */
object DedupStores {

  /** Hash-bucket partition key: stable, uniform, and independent of the
    * key's type — merges of a day's increment touch only the buckets its
    * keys land in.
    */
  private def bucket(c: org.apache.spark.sql.Column, partitions: Int) =
    pmod(xxhash64(c), lit(partitions.toLong))

  /** Build geometry, recorded as a `_graft_geometry.json` sidecar at the
    * table root (outside `manifests/`/`commits/`, so ManifestStore's
    * reads and vacuum never touch it) and VALIDATED by every later
    * probe/append/novelty call: a silent shingleN mismatch would drop
    * near-dup recall to zero (bigram probes never collide with a trigram
    * index), and a partitions mismatch would hash existing keys to
    * different buckets, so the partition-pruned merge never sees the old
    * row and the store accumulates duplicate keys. minhashProbe's
    * geometry `require` covers only bands × rowsPerBand — this covers
    * the rest.
    */
  private case class Geometry(shingleN: Int, bands: Int, rowsPerBand: Int, partitions: Int)

  private def writeGeometry(spark: SparkSession, table: String, g: Geometry): Unit =
    StoreSidecar.write(spark, table, Seq(
      "shingleN" -> g.shingleN.toLong, "bands" -> g.bands.toLong,
      "rowsPerBand" -> g.rowsPerBand.toLong, "partitions" -> g.partitions.toLong))

  private def readGeometry(spark: SparkSession, table: String): Option[Geometry] =
    StoreSidecar.read(spark, table,
      Seq("shingleN", "bands", "rowsPerBand", "partitions")).map { m =>
      Geometry(m("shingleN").toInt, m("bands").toInt,
        m("rowsPerBand").toInt, m("partitions").toInt)
    }

  private def requireGeometry(
      spark: SparkSession, table: String, want: Geometry, checkPartitions: Boolean): Unit =
    readGeometry(spark, table).foreach { g =>
      require(g.shingleN == want.shingleN && g.bands == want.bands &&
          g.rowsPerBand == want.rowsPerBand &&
          (!checkPartitions || g.partitions == want.partitions),
        s"DedupStores: $table was built with $g but this call uses $want — " +
          "a geometry mismatch silently zeroes recall or duplicates store keys")
    }

  /** Build (or rebuild) both stores from a corpus slice. One-time — the
    * daily path is [[probe]] + [[append]].
    */
  def build(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      fpTable: String,
      idxTable: String,
      shingleN: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 2,
      partitions: Int = 8): Unit = {
    // null-text docs carry no fingerprint: they can never be an exact
    // dup of anything, and a null key would put a null in the partition
    // column (breaking merge's non-null-partition contract)
    val fp = corpus
      .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct()
      .filter(col("fp").isNotNull)
      .withColumn("pt", bucket(col("fp"), partitions))
    val idx = Dedup.minhashIndex(corpus, idCol, textCol, shingleN, bands, rowsPerBand)
      .withColumn("pt", bucket(col("id"), partitions))
    // disjoint tables, no commit-order contract (replay converges from
    // any interleaving — the x171 crash-window spec) — write both at once
    Par.all(
      () => ManifestStore.write(spark, fp, fpTable, "pt"),
      () => ManifestStore.write(spark, idx, idxTable, "pt"))
    val g = Geometry(shingleN, bands, rowsPerBand, partitions)
    writeGeometry(spark, fpTable, g)
    writeGeometry(spark, idxTable, g)
  }

  /** Flag an increment against the PERSISTED stores. The historical side
    * of both joins is a [[ManifestStore.read]] of the store tables — the
    * corpus that built them is not an input and is never rescanned.
    * Output: one row per increment doc with (idCol, fp, is_exact_dup,
    * is_near_dup, clean).
    */
  def probe(
      spark: SparkSession,
      inc: DataFrame,
      idCol: String,
      textCol: String,
      fpTable: String,
      idxTable: String,
      shingleN: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    requireGeometry(spark, idxTable,
      Geometry(shingleN, bands, rowsPerBand, 0), checkPartitions = false)
    // distinct: the store holds one row per (fp, holder id) — a shared
    // fingerprint must not fan out the flag join
    val fpStore = ManifestStore.read(spark, fpTable)
      .select(col("fp")).distinct().withColumn("__seen", lit(1))
    val idxStore = ManifestStore.read(spark, idxTable).drop("pt")
    val nd = Dedup.minhashProbe(
        Dedup.minhashIndex(inc, idCol, textCol, shingleN, bands, rowsPerBand),
        idxStore, bands, rowsPerBand, threshold)
      .select(col("inc_id").as(idCol)).distinct().withColumn("__nd", lit(1))
    inc.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .join(fpStore, Seq("fp"), "left")
      .join(nd, Seq(idCol), "left")
      .withColumn("is_exact_dup", col("__seen").isNotNull)
      .withColumn("is_near_dup", col("__nd").isNotNull)
      .withColumn("clean", !col("is_exact_dup") && !col("is_near_dup"))
      .select(col(idCol), col("fp"), col("is_exact_dup"), col("is_near_dup"),
        col("clean"))
  }

  /** Fold a day's accepted docs into both stores: an upsert merge on the
    * store key, partition-pruned to the hash buckets the day's keys land
    * in. Tomorrow's [[probe]] sees these docs as historical.
    * `prebuiltIdx` lets a caller that already computed the docs' minhash
    * index (a probe pass, an accounting count) hand it in instead of
    * paying the signature pass twice.
    */
  def append(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      fpTable: String,
      idxTable: String,
      shingleN: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 2,
      partitions: Int = 8,
      prebuiltIdx: Option[DataFrame] = None): Unit = {
    val g = Geometry(shingleN, bands, rowsPerBand, partitions)
    requireGeometry(spark, fpTable, g, checkPartitions = true)
    requireGeometry(spark, idxTable, g, checkPartitions = true)
    val fp = docs
      .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct()
      .filter(col("fp").isNotNull)
      .withColumn("pt", bucket(col("fp"), partitions))
    val idx = prebuiltIdx
      .getOrElse(Dedup.minhashIndex(docs, idCol, textCol, shingleN, bands, rowsPerBand))
      .withColumn("pt", bucket(col("id"), partitions))
    // disjoint tables, keyed replaces — merge both at once (see build)
    Par.all(
      () => ManifestStore.merge(spark, fpTable, fp, Seq("fp", "id"), "pt"),
      () => ManifestStore.merge(spark, idxTable, idx, Seq("id"), "pt"))
  }

  /** Right-to-be-forgotten over both dedup stores (the text-side sibling
    * of [[VectorStore.forget]], x157): remove a subject's fingerprint and
    * LSH-index rows by KEYED, partition-pruned copy-on-write deletes —
    * O(doomed buckets), never a store scan.
    *
    * The caller supplies the doomed docs' CONTENT (id + text, read from
    * the lakehouse before its own delete): the fingerprint store is keyed
    * by content hash, and recovering a doc's fp from the store would take
    * a full scan — the deletion request carries the record it erases,
    * the same contract as [[IndexStore.forget]].
    *
    * Semantics under sharing: the fp store holds one (fp, id) row per
    * holder, so forgetting ONE of several identical docs keeps the
    * others' rows — future probes still flag their content as an exact
    * dup; the fp disappears only when its last holder is forgotten. The
    * index delete removes exactly the doomed ids' signature rows, so
    * near-dup probes against the survivors are bit-identical to an index
    * built WITHOUT the doomed docs (other docs' rows are untouched).
    *
    * Idempotent at every crash position: both deletes are keyed no-ops on
    * absent keys, so re-running the same forget after a crash between the
    * two commits (or after completion) converges — the x157 recovery
    * contract, spec-pinned.
    */
  def forget(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      fpTable: String,
      idxTable: String): Unit = {
    val partitions = StoreSidecar.require(spark, idxTable, Seq("partitions"),
      "DedupStores.forget")("partitions").toInt
    val doomedFp = docs
      .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct()
      .filter(col("fp").isNotNull)
      .withColumn("pt", bucket(col("fp"), partitions))
    val doomedIds = docs.select(col(idCol).as("id")).distinct()
      .withColumn("pt", bucket(col("id"), partitions))
    // keyed deletes on disjoint tables, idempotent at every crash
    // position (x157/x171 contract) — delete both at once
    Par.all(
      () => ManifestStore.delete(spark, fpTable, doomedFp, Seq("fp", "id"), Seq("pt")),
      () => ManifestStore.delete(spark, idxTable, doomedIds, Seq("id"), Seq("pt")))
  }

  /** [[forget]] BY ID ALONE — the bytes-unavailable deletion path and
    * the CURE for a divergent-content forget. The fp store is keyed by
    * the CONTENT hash, so a forget whose supplied text diverges from
    * the ingested bytes recomputes a fp that matches nothing:
    * deterministically, every one of the subject's (fp, id) rows
    * survives as an orphan — and orphaned fp rows keep FLAGGING, so
    * re-submitted erased content still reads "already seen" (a
    * correctness leak on top of the privacy one: the store remembers
    * what it was told to forget). The index delete is id-keyed and
    * never diverges, so only the fp side leaks.
    *
    * The fp rows carry the holder id, so the cure needs no content:
    * [[ManifestStore.delete]] LOCATES the id's rows via a narrow
    * key+partition scan of the fp store (the x216/x227 periodic-cure
    * cost shape — O(store) locate, O(doomed buckets) rewrite, stated),
    * then the id-bucketed index delete prunes as usual. Idempotent;
    * shared-fp semantics preserved (other holders' rows are keyed by
    * their own id and survive).
    */
  def forgetById(
      spark: SparkSession,
      ids: DataFrame,
      idCol: String,
      fpTable: String,
      idxTable: String): Unit = {
    val partitions = StoreSidecar.require(spark, idxTable, Seq("partitions"),
      "DedupStores.forgetById")("partitions").toInt
    val keyed = ids.select(col(idCol).as("id")).distinct()
    Par.all(
      () => ManifestStore.delete(spark, fpTable, keyed, Seq("id"), Seq("pt")),
      () => ManifestStore.delete(spark, idxTable,
        keyed.withColumn("pt", bucket(col("id"), partitions)), Seq("id"), Seq("pt")))
  }

  /** [[Dedup.noveltyScore]] with history read from the PERSISTED index
    * table: the historical shingle set is recovered from the store's
    * `sh` column (the index already carries each doc's distinct
    * shingles), so scoring a day's arrivals touches the store, never
    * the historical corpus — same contract as [[probe]].
    */
  def noveltyAgainstStore(
      spark: SparkSession,
      inc: DataFrame,
      idCol: String,
      textCol: String,
      idxTable: String,
      shingleN: Int = 3): DataFrame = {
    readGeometry(spark, idxTable).foreach(g => require(g.shingleN == shingleN,
      s"DedupStores: $idxTable holds ${g.shingleN}-shingles, novelty asked for $shingleN"))
    val histSet = ManifestStore.read(spark, idxTable)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("__seen", lit(1L))
    Dedup.noveltyAgainst(
      Dedup.shingleRows(inc, idCol, textCol, shingleN), histSet, idCol)
  }
}
