package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Maintained perceptual-hash near-dup store for the MEDIA modality —
  * the lifecycle form of [[Multimodal.perceptualPairs]] (x218), closing
  * the last one-shot-only near-dup family: text has maintained
  * fingerprint + minhash stores ([[DedupStores]]), embeddings a
  * maintained IVF+PQ store ([[VectorStore]]); this gives images/audio
  * the same day-over-day contract (SURVEY.md §2.12; the reference has
  * no media surface at all — its closest shape is the reprocess
  * log-state of /root/reference/cubicerpetl/cubicerpetl.py:266-302).
  *
  * ONE [[ManifestStore]] table holding the BANDED dHash index: each
  * ingested asset contributes `chunks` rows (media_id, phash, chunk,
  * ckey), where ckey is the chunk-th slice of its 64-bit perceptual
  * hash ([[Multimodal.dHash64]]) under [[Dedup.hammingPairs64]]'s
  * pigeonhole split — any pair within Hamming `chunks − 1` agrees on
  * ≥ 1 whole chunk, so a chunk-key equi-join proposes an exact
  * candidate superset. Rows are partitioned by `pt` = hash(chunk,
  * ckey) bucket: a probe reads ONLY the buckets its own band keys land
  * in ([[ManifestStore.readPartitions]]), never the index, and an
  * append/forget rewrites only the touched buckets.
  *
  * 100 TB shape: the index is O(corpus × chunks) 32-byte rows — the
  * only corpus-sized artifact the daily job reads, orders of magnitude
  * smaller than the blobs (which are hashed ONCE at ingest, one
  * mapPartitions pass, and never re-read). Probe cost is O(increment ×
  * chunks) band lookups + genuine collisions; the exact popcount
  * verify runs on already-joined rows. Assets are immutable corpus
  * members (the ingest contract shared with every store family):
  * re-delivering an id replaces its rows; ingesting CHANGED bytes
  * under an old id is unsupported — the old ckeys live in other
  * buckets the keyed merge never visits.
  */
object MediaStore {

  /** Band-key partition bucket: both halves of the posting key feed the
    * hash so buckets stay uniform even when one chunk position skews.
    */
  private def bucket(chunk: Column, ckey: Column, partitions: Int) =
    pmod(xxhash64(chunk, ckey), lit(partitions.toLong))

  /** Geometry sidecar, validated on every touch: a silent `chunks`
    * mismatch would band probes and index on different splits (recall
    * silently → 0), and a `partitions` mismatch would prune probes and
    * merges to the wrong buckets (missed rows, duplicate keys) — both
    * fail loudly instead. [[append]]'s first touch on a fresh table
    * records it; every other op requires it.
    */
  private case class Geometry(chunks: Int, partitions: Int)

  private def geometryOf(spark: SparkSession, table: String): Geometry = {
    val m = StoreSidecar.require(spark, table, Seq("chunks", "partitions"), "MediaStore")
    Geometry(m("chunks").toInt, m("partitions").toInt)
  }

  /** The store's row shape: hash each blob once ([[Multimodal.dHash64]],
    * one mapPartitions pass) and explode into one row per pigeonhole
    * chunk, carrying the full hash so the probe's exact verify needs no
    * second lookup.
    */
  private[graft] def bandRows(
      media: Dataset[Multimodal.MediaBlob], chunks: Int, partitions: Int): DataFrame = {
    val bitsPer = 64 / chunks
    // chunks=1 → bitsPer=64, and Java shifts mod 64 make (1L << 64) - 1
    // equal 0, not all-ones — the ckey would collapse to 0 for every
    // asset, silently funneling the whole index into one bucket (exact
    // results, dead pruning). The one-chunk key is the full hash.
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    Multimodal.dHash64(media).toDF()
      .select(col("media_id"), col("phash"), posexplode(
        array((0 until chunks).map(i =>
          shiftrightunsigned(col("phash"), i * bitsPer)
            .bitwiseAND(lit(mask))): _*)).as(Seq("chunk", "ckey")))
      .withColumn("pt", bucket(col("chunk"), col("ckey"), partitions))
  }

  /** Fold a batch of assets into the index — a keyed merge on
    * (media_id, chunk), pruned to the batch's band buckets; the first
    * call on a fresh table creates it and records the geometry.
    * Re-delivering a batch REPLACES its rows (at-least-once safe).
    * 64 must divide evenly into `chunks` — a lossy split would silently
    * drop recall ([[Dedup.hammingPairs64]]'s contract), so it fails
    * loudly; `chunks` also caps [[probe]]'s exact-recall `maxDist` at
    * chunks − 1.
    */
  def append(
      spark: SparkSession,
      media: Dataset[Multimodal.MediaBlob],
      table: String,
      chunks: Int = 4,
      partitions: Int = 8): Unit = {
    require(chunks > 0 && 64 % chunks == 0,
      s"MediaStore: chunks=$chunks does not divide 64 bits evenly — the " +
        "leftover bits would silently lose recall (use 1, 2, 4, 8, 16, 32, 64)")
    StoreSidecar.requireOrInit(spark, table,
      Seq("chunks" -> chunks.toLong, "partitions" -> partitions.toLong), "MediaStore")
    val batch = Dedup.materialize(bandRows(media, chunks, partitions))
    // immutable-bytes contract, now DETECTED instead of only documented:
    // re-ingesting CHANGED bytes under an old id rebands into other
    // buckets, stranding the old ckeys as match-capable orphans — the
    // exact privacy hazard forgetById exists to cure. Guard: within the
    // batch's own buckets, an existing row under the same (media_id,
    // chunk) key with a DIFFERENT phash is proof of drift — refuse
    // loudly. Partial by construction (an asset whose every chunk key
    // changed lands only in other buckets and slips past — stated
    // honestly; the full check would be an index-wide scan per append),
    // but one unchanged chunk is enough to catch the common
    // re-ingest-with-drift. Same-bytes re-delivery has equal phash and
    // passes, so at-least-once replay is untouched. Cost: one extra
    // read of the buckets the merge rewrites anyway.
    if (ManifestStore.hasData(spark, table)) {
      val leafs = batch.select(col("pt")).distinct()
        .collect().map(r => s"pt=${r.getLong(0)}").sorted
      val drifted = ManifestStore.readPartitions(spark, table, leafs.toSeq)
        .select(col("media_id"), col("chunk"), col("phash").as("__old"))
        .join(batch, Seq("media_id", "chunk"))
        .filter(col("__old") =!= col("phash"))
      if (!drifted.head(1).isEmpty)
        throw new IllegalStateException(
          "MediaStore.append: batch re-ingests existing media_ids with " +
            "CHANGED bytes (phash drift detected in " +
            s"${drifted.select(col("media_id")).distinct().count()} asset(s)) — " +
            s"assets are immutable corpus members; forgetById the old ids " +
            "first, then ingest the new bytes under new ids")
    }
    ManifestStore.mergeOrCreate(spark, table, batch, Seq("media_id", "chunk"), "pt")
  }

  /** Flag an increment against the PERSISTED index: hash the increment,
    * read ONLY its band keys' buckets, equi-join on (chunk, ckey), exact
    * popcount verify. Exact recall at `maxDist` ≤ chunks − 1
    * (pigeonhole); the corpus that built the store is not an input and
    * is never rescanned. Output: one (probe_id, store_id, hamming) row
    * per near pair, self-matches (same id on both sides) excluded.
    */
  def probe(
      spark: SparkSession,
      inc: Dataset[Multimodal.MediaBlob],
      table: String,
      maxDist: Int = 3): DataFrame = {
    val g = geometryOf(spark, table)
    require(maxDist >= 0 && maxDist < g.chunks,
      s"MediaStore: maxDist=$maxDist needs ≥ ${maxDist + 1} pigeonhole chunks " +
        s"for exact recall, but $table was built with ${g.chunks}")
    val incBands = Dedup.materialize(bandRows(inc, g.chunks, g.partitions))
    // O(probed buckets) routing metadata (the IndexStore/VectorStore
    // probe convention) — never data-sized
    val leafs = incBands.select(col("pt")).distinct()
      .collect().map(r => s"pt=${r.getLong(0)}").sorted
    val store = ManifestStore.readPartitions(spark, table, leafs.toSeq)
    incBands.as("a").join(store.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.media_id") =!= col("b.media_id"))
      .select(col("a.media_id").as("probe_id"), col("b.media_id").as("store_id"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Right-to-be-forgotten over the media index (the media sibling of
    * [[DedupStores.forget]], x157's contract): remove a subject's band
    * rows by a KEYED, partition-pruned copy-on-write delete — O(doomed
    * buckets), never an index scan.
    *
    * The caller supplies the doomed assets' CONTENT (id + bytes, read
    * from the lakehouse before its own delete): band rows live in
    * (chunk, ckey)-hash buckets, and locating an id's rows without its
    * hash would take a full scan — the deletion request carries the
    * record it erases, the same contract as [[IndexStore.forget]]. The
    * bytes must be the INGESTED bytes; a divergent copy rebands into
    * other buckets and leaves the real rows orphaned.
    *
    * Idempotent: the delete is a keyed no-op on absent keys, so a
    * replay (crash recovery, duplicate request) converges. Survivors'
    * rows are untouched, so probes against the survivors are
    * bit-identical to an index built WITHOUT the doomed assets.
    */
  def forget(
      spark: SparkSession,
      media: Dataset[Multimodal.MediaBlob],
      table: String): Unit = {
    val g = geometryOf(spark, table)
    val doomed = bandRows(media, g.chunks, g.partitions)
      .select(col("media_id"), col("chunk"), col("pt")).distinct()
    ManifestStore.delete(spark, table, doomed, Seq("media_id", "chunk"), Seq("pt"))
  }

  /** [[forget]] BY ID ALONE — the common real deletion-request shape
    * (the request carries identifiers; the lakehouse bytes may already
    * be gone), and the CURE when a forget ran with DIVERGENT bytes:
    * divergence rebands the delete into the wrong buckets, where the
    * (media_id, chunk) keys kill the real rows only in buckets the
    * wrong band keys happen to touch — rows in untouched buckets
    * survive as ORPHANS, which (unlike [[IndexStore]]'s unscoreable
    * orphans) keep MATCHING probes: erased content still surfaces as a
    * near-dup partner, a privacy leak, not a stats skew. Whatever a
    * divergent attempt did or didn't delete, this converges the index
    * to the survivors-only state.
    *
    * Cost trade, stated honestly: without the content there is no band
    * key to prune by, so [[ManifestStore.delete]] first LOCATES the
    * doomed rows via a key+partition-column scan of the index (narrow —
    * two columns of a 5-column table), then rewrites only the buckets
    * that held them. O(index) locate + O(doomed buckets) rewrite — the
    * periodic/cure shape (x216's repair), vs [[forget]]'s
    * O(doomed buckets) when the bytes are at hand. Idempotent like
    * every keyed delete.
    */
  def forgetById(
      spark: SparkSession,
      ids: DataFrame,
      idCol: String,
      table: String): Unit = {
    geometryOf(spark, table) // refuse loudly on a non-MediaStore path
    ManifestStore.delete(spark, table,
      ids.select(col(idCol).as("media_id")).distinct(),
      Seq("media_id"), Seq("pt"))
  }
}
