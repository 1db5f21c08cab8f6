package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, Chunking, DataCard, Dedup, Dsir, Events, Graph, LangModel, MediaStore, Multimodal, Pq, Privacy, Profiling, Quantiles, Redaction, Retrieval, SampleStore, Sampling, Scd2, Sharding, Similarity, Sketches, TextAnalysis}
import graft.streaming.Replay

/** x163-x187: zone/bloom/token skipping indexes, forgets, hh store, view stores, graph expansion.
  * Mechanical slice of the former single-object ExtQueries (r14);
  * see ExtQueries.scala for the shared determinism conventions.
  */
private[graft] trait ExtSkipIndexes extends ExtVectorStores {
  import CoreQueries.t
  // --- x163: zone-map data skipping ----------------------------------------
  // Min/max zone maps over a NON-partition column (the Delta/Iceberg
  // data-skipping statistic, sources/ZoneMaps): the corpus is laid out
  // clustered by length (pt = n_chars div 64 — what a 1-D Z-order
  // produces), the maps are refreshed against the snapshot, and a
  // BETWEEN query scans ONLY the partitions whose measured [lo, hi]
  // overlaps — require'd via the plan's selected-partition count, with
  // results equal to the plain filter (the oracle; zone maps may only
  // skip provably-empty partitions, never change results).
  def x163ZoneSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ManifestStore, ZoneMaps}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = FreshTables.next(spark, dir, "zonemap")
    ManifestStore.write(spark,
      docs.withColumn("pt", expr("n_chars div 64L")), table, "pt")
    ZoneMaps.refresh(spark, table, "n_chars")
    val out = ZoneMaps.readWhere(spark, table, "n_chars",
      lo = 150L, hi = 300L, requireFresh = true)
    val scanned = ManifestStore.selectedPartitionTotal(out)
    val total = docs.select(expr("n_chars div 64L")).distinct().count()
    require(scanned > 0L && scanned < total,
      s"x163: scanned $scanned of $total partitions — the zone maps " +
        "skipped nothing (or everything)")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  // zone maps only decide which partitions are provably empty of
  // matches — the result is the plain range filter
  val x163Sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents WHERE n_chars BETWEEN 150 AND 300"""

  // --- x164: Bloom-index equality skipping ----------------------------------
  // Per-partition Bloom filters over a NON-partition column
  // (sources/BloomIndex) — the equality complement to x163: the corpus
  // is partitioned by language (a natural layout where doc_id min/max
  // ranges overlap everywhere and zone maps prune NOTHING), and a point
  // lookup on doc_id scans only the one partition whose bloom might
  // contain it — require'd via the plan's selected-partition count,
  // results equal to the plain filter (no false negatives, so skipping
  // only drops provably-empty partitions).
  def x164BloomSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, ManifestStore}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = FreshTables.next(spark, dir, "bloomidx")
    ManifestStore.write(spark, docs.withColumn("pt", col("lang")), table, "pt")
    BloomIndex.refresh(spark, table, "doc_id")
    val out = BloomIndex.readEq(spark, table, "doc_id", 42L, requireFresh = true)
    val scanned = ManifestStore.selectedPartitionTotal(out)
    val total = docs.select(col("lang")).distinct().count()
    require(scanned > 0L && scanned < total,
      s"x164: scanned $scanned of $total partitions — the blooms " +
        "skipped nothing (or everything)")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  // blooms only decide which partitions are provably empty of matches —
  // the result is the plain point lookup
  val x164Sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents WHERE doc_id = 42"""

  // --- x165: maintained Bloom index (incremental day-over-day) -------------
  // The x164 index kept fresh WITHOUT rescanning history: bloom(A ∪ B)
  // = bloom(A) | bloom(B), so each ingest commit's words bit_or into
  // the stored maps (BloomIndex.mergeAppend, O(index + batch)) and the
  // stamp advances with the snapshot. The gate ingests the corpus in
  // two commits — full refresh after the first, mergeAppend after the
  // second — then point-looks-up one doc from EACH commit with
  // requireFresh = true: both must come back scanning only their
  // language's partition. Replay convergence, version-gap refusal, and
  // bit-identity to a from-scratch refresh are specced
  // (BloomIndexSpec); the oracle is the plain two-point lookup.
  def x165BloomMaintained(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, ManifestStore}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("pt", col("lang"))
    val table = FreshTables.next(spark, dir, "bloommnt")
    ManifestStore.write(spark, docs.filter(col("doc_id") % 3 < 2), table, "pt")
    BloomIndex.refresh(spark, table, "doc_id")
    val day2 = docs.filter(col("doc_id") % 3 === 2)
    ManifestStore.merge(spark, table, day2, Seq("doc_id"), "pt")
    BloomIndex.mergeAppend(spark, table, "doc_id", day2)
    val total = docs.select(col("lang")).distinct().count()
    val out = Seq(42L, 44L).map { id => // 42 → commit 1, 44 → commit 2
      val hit = BloomIndex.readEq(spark, table, "doc_id", id, requireFresh = true)
      val scanned = ManifestStore.selectedPartitionTotal(hit)
      require(scanned > 0L && scanned < total,
        s"x165: doc $id scanned $scanned of $total partitions — the " +
          "maintained blooms skipped nothing (or everything)")
      hit
    }.reduce(_ unionByName _)
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x165Sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents WHERE doc_id IN (42, 44)"""

  // --- x166: maintained zone maps (incremental day-over-day) ---------------
  // x163's maps kept fresh WITHOUT rescanning history: zone(A ∪ B) is
  // the per-partition min/max merge, so each ingest commit's stats
  // widen the stored rows at O(index + batch)
  // (ZoneMaps.mergeAppend). Two-commit ingest of the length-clustered
  // corpus — refresh after the first, mergeAppend after the second —
  // then the x163 BETWEEN read with requireFresh = true must still
  // prune (require'd via selected partitions) and still equal the
  // plain filter. Pure-append identity to refresh, replay idempotence,
  // version-gap refusal, and null-range pickup are specced
  // (ZoneMapsSpec).
  def x166ZoneMaintained(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ManifestStore, ZoneMaps}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("pt", expr("n_chars div 64L"))
    val table = FreshTables.next(spark, dir, "zonemnt")
    ManifestStore.write(spark, docs.filter(col("doc_id") % 3 < 2), table, "pt")
    ZoneMaps.refresh(spark, table, "n_chars")
    val day2 = docs.filter(col("doc_id") % 3 === 2)
    ManifestStore.merge(spark, table, day2, Seq("doc_id"), "pt")
    ZoneMaps.mergeAppend(spark, table, "n_chars", day2)
    val out = ZoneMaps.readWhere(spark, table, "n_chars",
      lo = 150L, hi = 300L, requireFresh = true)
    val scanned = ManifestStore.selectedPartitionTotal(out)
    val total = docs.select(col("pt")).distinct().count()
    require(scanned > 0L && scanned < total,
      s"x166: scanned $scanned of $total partitions — the maintained " +
        "maps skipped nothing (or everything)")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x166Sql: String = x163Sql

  // --- x167: stream-fed skipping indexes ------------------------------------
  // x165/x166 through the streaming door, completing the skipping
  // indexes' build → maintained → streamed matrix: each micro-batch is
  // one ingest day — ManifestStore.merge, then maintainAppend on BOTH
  // indexes (zone maps over the clustering column, blooms over
  // doc_id). maintainAppend branches on an explicit version probe, so
  // at-least-once delivery converges at every crash position: a
  // replayed batch after a completed fold no-ops, a torn window (the
  // re-delivered commit doubled the version gap) degrades to a full
  // refresh, never to false negatives. The gate re-delivers the last
  // day after the drain, then requires BOTH reads to prune under
  // requireFresh — the range read is the output (x163's oracle), the
  // point lookup's result is require'd in place.
  def x167StreamSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, ManifestStore, ZoneMaps}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("pt", expr("n_chars div 64L"))
      .withColumn("day", pmod(col("doc_id"), lit(3)))
    val table = FreshTables.next(spark, dir, "sskip")
    val base = FreshTables.next(spark, dir, "sskipin")
    // day 0 is the batch bootstrap; days 1-2 arrive as micro-batches
    ManifestStore.write(spark, docs.filter(col("day") === 0).drop("day"),
      table, "pt")
    ZoneMaps.refresh(spark, table, "n_chars")
    BloomIndex.refresh(spark, table, "doc_id")
    val days12 = docs.filter(col("day") =!= 0)
    Replay.foreachBatch(spark, days12, col("day"), base, "x167") { (batch, _) =>
      val b = batch.drop("day").cache()
      ManifestStore.merge(spark, table, b, Seq("doc_id"), "pt")
      ZoneMaps.maintainAppend(spark, table, "n_chars", b)
      BloomIndex.maintainAppend(spark, table, "doc_id", b)
      b.unpersist()
    }
    // at-least-once: re-deliver day 2 through the same maintenance path
    val replay = docs.filter(col("day") === 2).drop("day")
    ManifestStore.merge(spark, table, replay, Seq("doc_id"), "pt")
    ZoneMaps.maintainAppend(spark, table, "n_chars", replay)
    BloomIndex.maintainAppend(spark, table, "doc_id", replay)
    val hit = BloomIndex.readEq(spark, table, "doc_id", 42L, requireFresh = true)
    val bScanned = ManifestStore.selectedPartitionTotal(hit)
    val total = docs.select(col("pt")).distinct().count()
    require(bScanned > 0L && bScanned < total,
      s"x167: point lookup scanned $bScanned of $total partitions")
    require(hit.count() == 1L, "x167: point lookup lost doc 42")
    val out = ZoneMaps.readWhere(spark, table, "n_chars",
      lo = 150L, hi = 300L, requireFresh = true)
    val zScanned = ManifestStore.selectedPartitionTotal(out)
    require(zScanned > 0L && zScanned < total,
      s"x167: range read scanned $zScanned of $total partitions")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x167Sql: String = x163Sql

  // --- x168: composite skipping over a Z-ordered layout --------------------
  // The payoff x43 promised, made queryable end-to-end: the corpus is
  // laid out by Morton z-bucket over (n_chars, doc_id)
  // (graft.ext.ZOrder — each of B buckets covers ~1/sqrt(B) of EACH
  // dimension's range), zone maps are refreshed on both columns plus a
  // bloom on lang, and a 3-conjunct query goes through
  // SkippingIndexes.readWhere: every fresh index's qualifying set is
  // INTERSECTED, so the two range predicates prune multiplicatively —
  // require'd: the composite scan opens at most as many partitions as
  // either single-predicate scan, and strictly fewer than the table
  // holds. Results equal the plain 3-conjunct filter (each set
  // over-approximates, the intersection over-approximates the
  // conjunction, the residual filter always applies).
  def x168CompositeSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, ManifestStore, SkippingIndexes, ZoneMaps}
    import graft.sources.SkippingIndexes.{Between, Eq}
    import graft.ext.ZOrder
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val b = docs.agg(
      min(col("n_chars")).cast("long"), max(col("n_chars")).cast("long"),
      min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head()
    val zv = ZOrder.zValue(
      ZOrder.rank16(col("n_chars"), lit(b.getLong(0)), lit(b.getLong(1))),
      ZOrder.rank16(col("doc_id"), lit(b.getLong(2)), lit(b.getLong(3))))
    val table = FreshTables.next(spark, dir, "zskip")
    ManifestStore.write(spark,
      docs.withColumn("__zv", zv)
        .withColumn("pt", expr(s"(__zv * 16) div ${1L << 32}"))
        .drop("__zv"),
      table, "pt")
    ZoneMaps.refresh(spark, table, "n_chars")
    ZoneMaps.refresh(spark, table, "doc_id")
    BloomIndex.refresh(spark, table, "lang")
    val preds = Seq(Between("n_chars", 150L, 300L),
      Between("doc_id", 100L, 249L), Eq("lang", "fr"))
    val out = SkippingIndexes.readWhere(spark, table, preds, requireFresh = true)
    val sBoth = ManifestStore.selectedPartitionTotal(out)
    val singles = preds.take(2).map { p =>
      ManifestStore.selectedPartitionTotal(
        SkippingIndexes.readWhere(spark, table, Seq(p), requireFresh = true))
    }
    val total = ManifestStore.read(spark, table)
      .select(col("pt")).distinct().count()
    require(sBoth > 0L && sBoth <= singles.min && singles.max < total,
      s"x168: composite scanned $sBoth, singles $singles, of $total — " +
        "the z-layout intersection bought nothing")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x168Sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents
       WHERE n_chars BETWEEN 150 AND 300 AND doc_id BETWEEN 100 AND 249
         AND lang = 'fr'"""

  // --- x169: merged-pass index refresh --------------------------------------
  // x168's three indexes rebuilt by SkippingIndexes.refreshAll in TWO
  // jobs instead of three: all zone columns share one aggregate (one
  // scan, one shuffle to O(partitions) rows carrying every column's
  // [lo, hi]) and the bloom shares one tagged-explode aggregate — the
  // refresh-cost story when a 100 TB table carries many indexed
  // columns, since each merged pass costs ~the widest single one, not
  // the sum (plan law specced: one leaf scan, bounded shuffles,
  // side-table content identical to single-column refreshes). The gate
  // then runs the composite read over the merged-built indexes:
  // pruning require'd, results equal the plain filter.
  def x169RefreshAll(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ManifestStore, SkippingIndexes}
    import graft.sources.SkippingIndexes.{Between, Eq}
    import graft.ext.ZOrder
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val b = docs.agg(
      min(col("n_chars")).cast("long"), max(col("n_chars")).cast("long"),
      min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head()
    val zv = ZOrder.zValue(
      ZOrder.rank16(col("n_chars"), lit(b.getLong(0)), lit(b.getLong(1))),
      ZOrder.rank16(col("doc_id"), lit(b.getLong(2)), lit(b.getLong(3))))
    val table = FreshTables.next(spark, dir, "refall")
    ManifestStore.write(spark,
      docs.withColumn("__zv", zv)
        .withColumn("pt", expr(s"(__zv * 16) div ${1L << 32}"))
        .drop("__zv"),
      table, "pt")
    SkippingIndexes.refreshAll(spark, table,
      zoneCols = Seq("n_chars", "doc_id"), bloomCols = Seq("lang"))
    val out = SkippingIndexes.readWhere(spark, table,
      Seq(Between("n_chars", 150L, 300L), Between("doc_id", 50L, 199L),
        Eq("lang", "de")), requireFresh = true)
    val scanned = ManifestStore.selectedPartitionTotal(out)
    val total = ManifestStore.read(spark, table)
      .select(col("pt")).distinct().count()
    require(scanned > 0L && scanned < total,
      s"x169: scanned $scanned of $total partitions — the merged-pass " +
        "indexes skipped nothing (or everything)")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x169Sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents
       WHERE n_chars BETWEEN 150 AND 300 AND doc_id BETWEEN 50 AND 199
         AND lang = 'de'"""

  // --- x170: bloom IN-list lookup -------------------------------------------
  // The multi-key form of x164 — "fetch THESE documents from the
  // corpus" (eval-set extraction, spot checks, per-id debugging): one
  // local job hashes every probed key, a partition is scanned when its
  // bloom might contain ANY of them, and the IN-list always applies as
  // the residual. Over the language-partitioned layout the three keys
  // live in ≤3 partitions; the gate requires the scan stays under the
  // partition count and over zero. Past a few hundred keys readIn
  // refuses loudly (a broadcast semi-join is the right tool there) —
  // the boundary is documented, not silent.
  def x170BloomIn(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, ManifestStore}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = FreshTables.next(spark, dir, "bloomin")
    ManifestStore.write(spark, docs.withColumn("pt", col("lang")), table, "pt")
    BloomIndex.refresh(spark, table, "doc_id")
    val out = BloomIndex.readIn(spark, table, "doc_id",
      Seq(42L, 44L, 250L), requireFresh = true)
    val scanned = ManifestStore.selectedPartitionTotal(out)
    val total = docs.select(col("lang")).distinct().count()
    require(scanned > 0L && scanned < total,
      s"x170: scanned $scanned of $total partitions — the IN probe " +
        "skipped nothing (or everything)")
    out.select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val x170Sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents WHERE doc_id IN (42, 44, 250)"""

  // --- x171: right-to-be-forgotten over the dedup stores -------------------
  // The text-side sibling of x157: DedupStores.forget removes a
  // subject's (fp, id) fingerprint rows and LSH-index rows via keyed,
  // partition-pruned deletes — O(doomed buckets), never a store scan.
  // The gate builds both stores on the historical slice, forgets
  // doc_id % 7 == 2 (accounting: zero surviving fp/index rows for the
  // doomed ids), re-runs the same forget (crash-recovery convergence),
  // and probes the increment: flags must equal a probe against stores
  // built WITHOUT the doomed docs — x65's oracle with the doomed ids
  // excluded from the historical side. A fp shared with a SURVIVING
  // holder stays detectable (the (fp, id) row layout exists for exactly
  // this; pinned in ForgetMatrixSpec — the fixture has no cross-doc fp
  // collisions at gate SF).
  def x171DedupForget(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.DedupStores
    import graft.sources.ManifestStore
    val docs = t(spark, dir, "documents")
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val fpT = FreshTables.next(spark, dir, "fpforget")
    val idxT = FreshTables.next(spark, dir, "idxforget")
    DedupStores.build(spark, hist, "doc_id", "text", fpT, idxT)
    val doomed = hist.filter(col("doc_id") % 7 === 2)
    require(doomed.count() > 0L, "x171: empty doomed slice")
    DedupStores.forget(spark, doomed, "doc_id", "text", fpT, idxT)
    val doomedIds = doomed.select(col("doc_id").as("id"))
    val fpLeft = ManifestStore.read(spark, fpT)
      .join(doomedIds, Seq("id"), "left_semi").count()
    val idxLeft = ManifestStore.read(spark, idxT)
      .join(doomedIds, Seq("id"), "left_semi").count()
    require(fpLeft == 0L && idxLeft == 0L,
      s"x171: $fpLeft fp / $idxLeft index rows survived the forget")
    // idempotent re-run — the recovery path after a crash between the
    // fp delete and the index delete
    DedupStores.forget(spark, doomed, "doc_id", "text", fpT, idxT)
    DedupStores.probe(spark, inc, "doc_id", "text", fpT, idxT)
      .select(col("doc_id"), col("is_exact_dup"), col("is_near_dup"),
        col("clean"))
  }

  // x65's probe oracle with the doomed ids excluded from the historical
  // side (and without the post-merge column — no append in this gate)
  val x171Sql: String = {
    val histAnchor = "FROM documents WHERE doc_id % 5 <> 0)"
    val tailAnchor =
      """,
         (is_exact_dup OR (NOT is_exact_dup AND NOT is_near_dup)) AS is_exact_dup_after
       FROM flags"""
    require(x65Sql.contains(histAnchor) && x65Sql.contains(tailAnchor),
      "x171: x65Sql anchors moved")
    x65Sql
      .replace(histAnchor, "FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 2)")
      .replace(tailAnchor, "\n       FROM flags")
  }

  // --- x172: right-to-be-forgotten over the BM25 index store ---------------
  // The lexical side of the forget matrix (vector x157, dedup x171):
  // IndexStore.forget removes a subject's postings (term-bucket pruned
  // via the request's own content), corrects the day stats subtotals
  // under a txn fence (forgetSeq — a replay must never subtract twice),
  // and deletes the length row LAST so every crash window re-runs
  // against an intact presence gate. The gate ingests three day slices
  // (x156's layout), forgets doc_id % 7 == 2, REQUIREs zero surviving
  // postings/lens rows and stats N == survivor count, re-runs the same
  // forget (convergence + no double subtraction), and probes: scores
  // must be bit-identical to batch BM25 over the surviving corpus —
  // x69's oracle minus the forgotten docs. The avgdl in every score
  // hash-checks the tl subtraction, not just the row accounting.
  def x172IndexForget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.IndexStore
    import graft.sources.ManifestStore
    val docs = t(spark, dir, "documents")
    val root = FreshTables.next(spark, dir, "bmforget")
    ProtoStores.cloneTo(spark, bm25Proto(spark, dir), root)
    val doomed = docs.filter(col("doc_id") % 7 === 2)
    require(doomed.count() > 0L, "x172: empty doomed slice")
    IndexStore.forget(spark, doomed, "doc_id", "text", root, forgetSeq = 1L)
    val dIds = doomed.select(col("doc_id").as("id"))
    val postLeft = ManifestStore.read(spark, s"$root/postings")
      .join(dIds, Seq("id"), "left_semi").count()
    val lensLeft = ManifestStore.read(spark, s"$root/lens")
      .join(dIds, Seq("id"), "left_semi").count()
    require(postLeft == 0L && lensLeft == 0L,
      s"x172: $postLeft posting / $lensLeft lens rows survived the forget")
    def statsN(): Long = ManifestStore.read(spark, s"$root/stats")
      .agg(sum(col("nd"))).collect().head.getLong(0)
    val survivors = docs.filter(col("doc_id") % 7 =!= 2).count()
    require(statsN() == survivors,
      s"x172: stats N ${statsN()} != $survivors survivors")
    // idempotent re-run — every crash window converges, and the txn
    // fence stops a second stats subtraction
    IndexStore.forget(spark, doomed, "doc_id", "text", root, forgetSeq = 1L)
    require(statsN() == survivors,
      s"x172: replay double-subtracted stats (N ${statsN()})")
    val qs = Seq(
      ("q_hash_join", Seq("hash", "join")),
      ("q_stream", Seq("stream", "window", "batch")),
      ("q_vector", Seq("vector", "data"))).toDF("query_id", "terms")
    IndexStore.bm25Probe(spark, root, qs, "doc_id", topK = 15, partitions = 8)
  }

  // x69's oracle over the surviving corpus — the forgotten docs leave
  // the token stream, the length table, AND the N/avgdl stats
  val x172Sql: String = {
    val a1 = "FROM documents),"
    val a2 = "FROM documents d"
    require(x69Sql.contains(a1) && x69Sql.contains(a2), "x172: x69Sql anchors moved")
    x69Sql
      .replace(a1, "FROM documents WHERE doc_id % 7 <> 2),")
      .replace(a2, "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 2) d")
  }

  // --- x173: right-to-be-forgotten over the cluster store ------------------
  // The component-store member of the forget matrix (vector x157, dedup
  // x171, BM25 x172): ClusterStore.forget removes the doomed ids'
  // membership rows and relabels each affected cluster to its min
  // SURVIVING member — twin-routed, partition-pruned, O(doomed +
  // affected members). Semantics are the documented conservative
  // decremental-connectivity form (clusters never split on forget; the
  // store holds labels, not edges), which the oracle replicates
  // exactly: full components over ALL pairs, doomed members dropped,
  // relabel per ORIGINAL component by min surviving id. The gate
  // REQUIREs the doomed slice to hit ≥1 cluster min (the relabel
  // cascade provably fires — % 9 == 4 dooms 3–4 minima at both gate
  // SFs), zero surviving doomed rows in either table, and re-runs the
  // forget (crash-recovery convergence) before the label rollup.
  def x173ClusterForget(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.ClusterStore
    import graft.sources.ManifestStore
    val docs = t(spark, dir, "documents")
    val root = FreshTables.next(spark, dir, "clforget")
    ProtoStores.cloneTo(spark, clusterAllProto(spark, dir), root)
    val labels = Dedup.materialize(ClusterStore.readLabels(spark, root))
    val doomed = Dedup.materialize(
      labels.filter(col("id") % 9 === 4).select(col("id")))
    require(doomed.count() > 0L, "x173: empty doomed slice")
    val minDoomed = labels.select(col("label").as("id")).distinct()
      .join(doomed, Seq("id"), "left_semi").count()
    require(minDoomed > 0L,
      "x173: doomed slice misses every cluster min — the relabel path is untested")
    ClusterStore.forget(spark, doomed, "id", root, partitions = 8)
    val mainLeft = ClusterStore.readLabels(spark, root)
      .join(doomed, Seq("id"), "left_semi").count()
    val twinLeft = ManifestStore.read(spark, s"$root/_idindex")
      .join(doomed, Seq("id"), "left_semi").count()
    require(mainLeft == 0L && twinLeft == 0L,
      s"x173: $mainLeft main / $twinLeft twin rows survived the forget")
    // idempotent re-run — the recovery path for every crash window
    ClusterStore.forget(spark, doomed, "id", root, partitions = 8)
    ClusterStore.readLabels(spark, root)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
  }

  // full components over ALL pairs → drop doomed members → relabel per
  // ORIGINAL component by min surviving id (the conservative no-split
  // semantics, replicated exactly)
  val x173Sql: String =
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)},
       cl AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       surv AS (SELECT id, comp FROM cl WHERE id % 9 <> 4),
       rel AS (SELECT comp, min(id) AS label FROM surv GROUP BY comp)
       SELECT rel.label, CAST(count(*) AS BIGINT) AS n_members
       FROM surv JOIN rel USING (comp) GROUP BY 1"""

  // --- x174: token-bloom keyword skipping ----------------------------------
  // The data-skipping family (x163–x170) reaches INSIDE text columns:
  // per-partition blooms over each partition's DISTINCT TOKENS, so a
  // keyword sweep ("every doc mentioning these terms" — a takedown
  // scan, a contamination spot check) prunes to the partitions whose
  // bloom might contain ALL probed terms instead of scanning the
  // corpus. Skipping is sound per conjunct (a doc holding every term
  // implies its partition's bloom does); the conjunctive residual
  // always applies, so the result never depends on the blooms. The
  // gate hash-partitions docs 256 ways, probes the fixture's one rare
  // token ('dup', ~5% of docs) plus a common one, and REQUIREs real
  // pruning (scanned strictly between 0 and the live-partition total
  // at every SF — verified 25/256 at sf0.01, 162/256 at sf0.1).
  def x174TokenSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{BloomIndex, ManifestStore}
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val table = FreshTables.next(spark, dir, "tokskip")
    ManifestStore.write(spark,
      docs.withColumn("pt", pmod(col("doc_id"), lit(256L))), table, "pt")
    BloomIndex.refreshTokens(spark, table, "text")
    val out = BloomIndex.readContainsAll(spark, table, "text",
      Seq("dup", "vector"), requireFresh = true)
    val scanned = ManifestStore.selectedPartitionTotal(out)
    val total = docs.select(pmod(col("doc_id"), lit(256L))).distinct().count()
    require(scanned > 0L && scanned < total,
      s"x174: scanned $scanned of $total partitions — the token probe " +
        "skipped nothing (or everything)")
    out.select(col("doc_id"), col("lang"))
  }

  val x174Sql: String =
    """SELECT doc_id, lang FROM documents
       WHERE list_contains(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), 'dup')
         AND list_contains(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), 'vector')"""

  // --- x175: filtered ANN (attribute predicate inside the vector probe) ----
  // The filtered vector search every production store offers ("nearest
  // neighbors WHERE lang = 'en'"): build(attrCols) writes an attrs
  // table CO-PARTITIONED with the codes, and probeFiltered drops
  // candidates failing the predicate BEFORE the ADC ranking —
  // pre-filtering, so the top-k are the best k FILTERED candidates of
  // the probed cells (a post-filtered list would silently return fewer
  // than k). The predicate's I/O rides the SAME pruned partitions the
  // ranking reads. Oracle = x128's pipeline with the label predicate
  // applied at the candidate stage — the exact position the engine
  // applies it.
  def x175FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.VectorStore
    val data = t(spark, dir, "embeddings")
    val cents = data.filter(col("vec_id") % 50 === 0)
    val root = FreshTables.next(spark, dir, "vfiltered")
    VectorStore.build(spark, data, cents, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, attrCols = Seq("label"))
    val out = VectorStore.probeFiltered(spark, data.filter(col("vec_id") < 8),
      "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, nprobe = 3, topK = 10,
      predicate = col("label") % 2 === 0)
    require(out.count() > 0L, "x175: empty filtered probe")
    out
  }

  // x128's pipeline with the label predicate at the candidate stage
  val x175Sql: String = {
    val anchor = "WHERE asg.vec_id <> pr.query_id"
    require(x128Sql.contains(anchor), "x175: x128Sql anchor moved")
    x128Sql.replace(anchor,
      anchor + " AND asg.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)")
  }

  // --- x176: maintained heavy-hitter store ---------------------------------
  // The heavy-hitter family gets its maintained form — but NOT by
  // persisting the x70 Misra–Gries counters (their state depends on
  // partition iteration order: not a deterministic stored artifact).
  // Instead each day stores its EXACT top-m counts plus a (n, kth)
  // stat row, and reads merge with the classic distributed top-k
  // bounds (Fagin's TA / TPUT): c_lo = the reporting days' sum, c_hi
  // adds each silent day's kth. No false negatives for any certifiable
  // threshold (> Σ kth — refused loudly below that). The fixture's
  // per-day vocabulary fits m, so every kth is 0 and the gate's bounds
  // collapse to exact counts — the oracle is the plain frequency
  // threshold; HhStoreSpec pins the kth>0 bound math and the torn-
  // window fence on hand-built days. Replay accounting in-gate: the
  // day-keyed merges replace wholesale.
  def x176HhStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = Dedup.materialize(
      LangModel.tokenRows(docs, "doc_id", "text")
        .withColumn("day", pmod(col("id"), lit(3L))))
    val table = FreshTables.next(spark, dir, "hhstore")
    (0 until 3).foreach { b =>
      Sketches.hhAppendDay(spark, toks.filter(col("day") === b.toLong),
        "w", s"d$b", table)
    }
    // at-least-once: re-deliver day d1 — wholesale day replace
    Sketches.hhAppendDay(spark, toks.filter(col("day") === 1L),
      "w", "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, s"$table/hh").count()
    // each day stores min(distinct, m) rows (the top-m cap binds on
    // vocabularies larger than m — the 10× scale corpus)
    val expected = toks.select(col("day"), col("w")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("nd"))
      .agg(sum(least(col("nd"), lit(256L)))).head().getLong(0)
    require(stored == expected,
      s"x176: store holds $stored summary rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    Sketches.hhFromStore(spark, table, minFractionDen = 50L)
  }

  // per-day vocab < m ⇒ kth = 0 ⇒ bounds are exact counts: the oracle
  // is the plain global frequency threshold at ceil(N/50)
  val x176Sql: String =
    """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS v
         FROM documents),
       c AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
       n AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM c)
       SELECT v, c AS c_lo, c AS c_hi, TRUE AS decided FROM c, n
       WHERE c >= (N + 49) // 50"""

  // --- x177: STREAMING heavy-hitter-store maintenance ----------------------
  // x176's store joins the streaming matrix (CM x111, HLL x146,
  // histogram x161, KMV x162): token days arrive as micro-batches,
  // each folded by Sketches.hhAppendDay in foreachBatch (two wholesale
  // day-replace merges per batch), one batch re-delivered post-drain
  // with row accounting — the monitor read is x176's oracle through
  // the streaming door.
  def x177StreamHh(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = Dedup.materialize(
      LangModel.tokenRows(docs, "doc_id", "text")
        .withColumn("day", pmod(col("id"), lit(3L)))
        .select(col("w"), col("day")))
    val table = FreshTables.next(spark, dir, "shhstore")
    val base = FreshTables.next(spark, dir, "shhin")
    Replay.foreachBatch(spark, toks, col("day"), base, "x177") { (batch, _) =>
      val d = batch.agg(min(col("day"))).head().getLong(0)
      Sketches.hhAppendDay(spark, batch, "w", s"d$d", table)
    }
    // at-least-once: re-deliver day 1
    Sketches.hhAppendDay(spark, toks.filter(col("day") === 1L), "w", "d1", table)
    val stored = graft.sources.ManifestStore.read(spark, s"$table/hh").count()
    val expected = toks.select(col("day"), col("w")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("nd"))
      .agg(sum(least(col("nd"), lit(256L)))).head().getLong(0)
    require(stored == expected,
      s"x177: store holds $stored summary rows, expected $expected — " +
        "the d1 replay duplicated instead of replacing")
    Sketches.hhFromStore(spark, table, minFractionDen = 50L)
  }

  val x177Sql: String = x176Sql

  // --- x178: incrementally maintained join view ----------------------------
  // The materialized-view member of the maintained-store family
  // (ext/ViewStore): view = lineitem ⋈ orders kept fresh by the delta
  // rule ΔV = (ΔA ⋈ B_new) ∪ ((A_new ∖ ΔA) ⋈ ΔB) — the join is paid
  // incrementally at ingest (each term pruned to the other base's
  // touched join-key buckets), never as a full recompute, and the view
  // read is free. The gate deliberately DESYNCS the day splits (an
  // order arrives on a different day than its lineitems: okey % 3 vs
  // (okey+1) % 3) so cross-day pairing must flow through the persisted
  // bases, replays day 1 (keyed merges replace), REQUIREs view
  // cardinality == the one-shot join, and rolls the view up per
  // customer — the oracle is the plain join + rollup.
  def x178ViewStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.ViewStore
    // build-once prototype (r15 bench diet, the aggViewProto pattern):
    // the 3 desynced ingest cycles, the d1 replay, and the cardinality
    // REQUIRE ride the first build; per-pass work is the maintained
    // view's READ — which is the artifact this gate serves. The store is
    // never mutated after the build, so gates share it read-only.
    val root = ProtoStores.proto(dir, "rowview") { root =>
      val li = t(spark, dir, "lineitem").select(
        col("l_orderkey").as("okey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      val ord = t(spark, dir, "orders").select(
        col("o_orderkey").as("okey"), col("o_custkey"), col("o_orderpriority"))
      def dayA(d: Int) = li.filter(pmod(col("okey"), lit(3L)) === d.toLong)
      def dayB(d: Int) = ord.filter(pmod(col("okey") + 1L, lit(3L)) === d.toLong)
      (0 until 3).foreach { d =>
        ViewStore.appendDay(spark, root, dayA(d), dayB(d), "okey",
          Seq("okey", "l_linenumber"), Seq("okey"))
      }
      // at-least-once: replay day 1 on both sides — every merge replaces
      ViewStore.appendDay(spark, root, dayA(1), dayB(1), "okey",
        Seq("okey", "l_linenumber"), Seq("okey"))
      val v = ViewStore.readView(spark, root)
      val expected = li.join(ord, Seq("okey")).count()
      require(v.count() == expected,
        s"x178: view holds ${v.count()} rows, the one-shot join has $expected")
    }
    ViewStore.readView(spark, root)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_items"))
  }

  val x178Sql: String =
    """SELECT o_custkey, o_orderpriority, sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1, 2"""

  // --- x179: incrementally maintained AGGREGATE view ------------------------
  // The full IVM story on top of x178: the consumer-facing artifact is
  // a join+agg rollup whose day-keyed subtotals cost O(days × groups)
  // storage and an O(days × groups) re-sum at read — the join never
  // materializes for the consumer. The replay hazard is named and
  // closed: a late replay's recomputed delta regenerates cross-day
  // pairs the row view already holds, so the day's subtotal counts
  // only trueNew = ΔV ∖ view (keyed anti-join pruned to ΔV's buckets),
  // committed before the view merge — ViewStoreSpec pins the crash
  // windows. Replaying day 1 in-gate must leave exactly 3 day
  // subtotals; the oracle is the plain join rollup.
  /** The x179 aggregate-view store as a build-once prototype (3 desynced
    * ingest cycles + the d1 replay with its accounting REQUIREs) —
    * shared by x179 (reads it), x181 and x217 (clone it, then forget).
    */
  protected def aggViewProto(spark: SparkSession, dir: String): String =
    ProtoStores.proto(dir, "aggview") { root =>
      import graft.ext.ViewStore
      val li = t(spark, dir, "lineitem").select(
        col("l_orderkey").as("okey"), col("l_linenumber"), col("l_quantity"))
      val ord = t(spark, dir, "orders").select(
        col("o_orderkey").as("okey"), col("o_orderpriority"))
      def dayA(d: Int) = li.filter(pmod(col("okey"), lit(3L)) === d.toLong)
      def dayB(d: Int) = ord.filter(pmod(col("okey") + 1L, lit(3L)) === d.toLong)
      def cycle(d: Int): Unit = ViewStore.appendDayAgg(spark, root,
        dayA(d), dayB(d), "okey", Seq("okey", "l_linenumber"), Seq("okey"),
        day = s"d$d", groupCols = Seq("o_orderpriority"),
        sumCols = Seq("l_quantity"))
      (0 until 3).foreach(cycle)
      cycle(1) // at-least-once: a completed day replayed — trueNew empty
      // day 0's increments have no partners yet (the desync sends an
      // order's lineitems and the order itself to different days), so
      // exactly days 1 and 2 carry subtotals — and the d1 replay must
      // not have re-added or wiped anything
      val days = graft.sources.ManifestStore.read(spark, s"$root/aggview")
        .select(col("day")).distinct().collect().map(_.getString(0)).toSet
      require(days == Set("d1", "d2"),
        s"x179: day subtotals $days after the replay, expected {d1, d2}")
    }

  def x179AggView(spark: SparkSession, dir: String): DataFrame =
    graft.ext.ViewStore.readAgg(spark, aggViewProto(spark, dir),
      groupCols = Seq("o_orderpriority"), sumCols = Seq("l_quantity"))

  val x179Sql: String =
    """SELECT o_orderpriority, count(*) AS cnt, sum(l_quantity) AS sum_l_quantity
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1"""

  // --- x180: hybrid retrieval from the maintained stores --------------------
  // x89's RRF fusion moved onto the PRODUCTION path: the lexical list
  // comes from the maintained BM25 index (x156 — the probe reads only
  // the query vocabulary's buckets) and the dense list from the
  // maintained IVF+PQ vector store (x129 — the probe scans only the
  // probed centroids' partitions), fused by exact-integer reciprocal
  // ranks. Neither side rescans its corpus — the complete retrieval
  // stack a deployment actually runs, end to end from stores. The
  // oracle nests x69's BM25 and x128's IVF+PQ pipelines as subqueries
  // (k=20 each) under the RRF rollup.
  def x180HybridStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.{IndexStore, VectorStore}
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings")
    val lexRoot = bm25Proto(spark, dir)
    val qs = Seq(
      ("q_hash_join", Seq("hash", "join")),
      ("q_stream", Seq("stream", "window", "batch")),
      ("q_vector", Seq("vector", "data"))).toDF("query_id", "terms")
    val lexical = IndexStore.bm25Probe(spark, lexRoot, qs, "doc_id", topK = 20)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val vecRoot = vecStoreProto(spark, dir)
    val probeMap = Seq(("q_hash_join", 0L), ("q_stream", 1L), ("q_vector", 2L))
      .toDF("qname", "pvec")
    val dense = VectorStore.probe(spark, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", vecRoot,
      dim = 64, m = 4, k = 16, stride = 3, nprobe = 3, topK = 20)
      .join(broadcast(probeMap), col("query_id") === col("pvec"))
      .select(col("qname").as("query_id"), col("rank"), col("vec_id").as("doc_id"))
    Retrieval.rrfFuse(Seq(lexical, dense), "doc_id", k = 10)
  }

  val x180Sql: String = {
    val lexAnchor = "FROM r WHERE rank <= 15"
    val denSelAnchor = "SELECT query_id, rank, vec_id, est_d9 FROM r WHERE rank <= 10"
    val denQAnchor = "WHERE q.vec_id < 8"
    require(x69Sql.contains(lexAnchor) && x128Sql.contains(denSelAnchor) &&
      x128Sql.contains(denQAnchor), "x180: oracle anchors moved")
    val lex20 = x69Sql.replace(lexAnchor, "FROM r WHERE rank <= 20")
    val den20 = x128Sql
      .replace(denQAnchor, "WHERE q.vec_id < 3")
      .replace(denSelAnchor, "SELECT query_id, rank, vec_id FROM r WHERE rank <= 20")
    s"""WITH lexr AS (SELECT query_id, rank, doc_id FROM ($lex20)),
       denr0 AS (SELECT query_id, rank, vec_id FROM ($den20)),
       qmap(qname, pvec) AS (VALUES ('q_hash_join', 0), ('q_stream', 1), ('q_vector', 2)),
       denr AS (SELECT qname AS query_id, rank, vec_id AS doc_id
                FROM denr0 JOIN qmap ON query_id = pvec),
       contrib AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM lexr
                   UNION ALL
                   SELECT query_id, doc_id, 1000000000000 // (60 + rank) FROM denr),
       fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp
                 FROM contrib GROUP BY 1, 2),
       fr AS (SELECT query_id, doc_id, rrf_fp,
              row_number() OVER (PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id) AS rank
              FROM fused)
       SELECT query_id, rank, doc_id, rrf_fp FROM fr WHERE rank <= 10"""
  }

  // --- x181: right-to-be-forgotten over the maintained views ----------------
  // The forget matrix reaches the view stores (vector x157, dedup
  // x171, BM25 x172, cluster x173, views here): ViewStore.forgetA
  // removes doomed A-side rows from the base, every view row they
  // produced, and their mass from the aggregate subtotals — the
  // correction is a NEGATIVE subtotal under a per-request day key
  // (idempotent wholesale replace; readAgg nets it against the
  // positive days, so no historical subtotal is ever rewritten), and
  // the commit order (correction → view delete → base delete closing
  // the forget fence) replays to convergence from every window. The
  // gate builds x179's store, forgets okey % 11 == 3's lineitems,
  // REQUIREs zero surviving base/view rows, re-runs the forget, and
  // reads the aggregate — the oracle recomputes over the surviving
  // lineitems.
  def x181ViewForget(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.ViewStore
    val li = t(spark, dir, "lineitem").select(
      col("l_orderkey").as("okey"), col("l_linenumber"), col("l_quantity"))
    val root = FreshTables.next(spark, dir, "viewforget")
    ProtoStores.cloneTo(spark, aggViewProto(spark, dir), root)
    val doomed = li.filter(col("okey") % 11 === 3)
    require(doomed.count() > 0L, "x181: empty doomed slice")
    def forget(): Unit = ViewStore.forgetA(spark, root, doomed, "okey",
      Seq("okey", "l_linenumber"), forgetSeq = 1L,
      groupCols = Seq("o_orderpriority"), sumCols = Seq("l_quantity"))
    forget()
    val ms = graft.sources.ManifestStore
    val dk = doomed.select(col("okey"), col("l_linenumber"))
    val baseLeft = ms.read(spark, s"$root/a")
      .join(dk, Seq("okey", "l_linenumber"), "left_semi").count()
    val viewLeft = ms.read(spark, s"$root/view")
      .join(dk, Seq("okey", "l_linenumber"), "left_semi").count()
    require(baseLeft == 0L && viewLeft == 0L,
      s"x181: $baseLeft base / $viewLeft view rows survived the forget")
    forget() // idempotent re-run — the recovery path
    ViewStore.readAgg(spark, root,
      groupCols = Seq("o_orderpriority"), sumCols = Seq("l_quantity"))
  }

  // x179's rollup over the surviving lineitems
  val x181Sql: String = {
    val anchor = "FROM lineitem JOIN orders"
    require(x179Sql.contains(anchor), "x181: x179Sql anchor moved")
    x179Sql.replace(anchor,
      "FROM (SELECT * FROM lineitem WHERE l_orderkey % 11 <> 3) lineitem JOIN orders")
  }

  // --- x182: KMV set-algebra source-overlap matrix -------------------------
  // The cross-source vocabulary-overlap question (which corpora share
  // content?) answered from O(sources × k) sketch state instead of the
  // exact distinct-bigram pair join x60 pays: one token pass builds the
  // per-source KMV sketches (x40's machinery), then union/Jaccard/
  // intersection estimates for every pair come from the sketches alone
  // (Beyer et al. 2007). At 100 TB the exact join shuffles the corpus;
  // this shuffles k hashes per source.
  def x182KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = t(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = ws.withColumn("__w1", lead(col("w"), 1).over(byDoc))
      .filter(col("__w1").isNotNull)
      .select(col("source"), concat_ws(" ", col("w"), col("__w1")).as("bg"))
    Sketches.kmvOverlap(Sketches.kmvMins(bg, "source", "bg", k = 64), "source")
  }

  val x182Sql: String =
    s"""WITH w AS (SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
       FROM documents),
       b AS (SELECT source, unnest(list_transform(generate_series(1, len(ws) - 1),
             i -> ws[i] || ' ' || ws[i + 1])) AS bg
         FROM w WHERE len(ws) >= 2),
       hd AS (SELECT DISTINCT source, substr(md5(bg), 1, 12) AS hx FROM b),
       r AS (SELECT source, hx, row_number() OVER (PARTITION BY source ORDER BY hx) AS rn FROM hd),
       m AS (SELECT source, list(hx ORDER BY hx) AS mins FROM r WHERE rn <= 64 GROUP BY 1),
       p AS (SELECT a.source AS group_a, b.source AS group_b, a.mins AS ma, b.mins AS mb
         FROM m a JOIN m b ON a.source < b.source),
       u0 AS (SELECT group_a, group_b, ma, mb,
           list_slice(list_sort(list_distinct(list_concat(ma, mb))), 1, 64) AS u
         FROM p),
       e AS (SELECT group_a, group_b, len(u) AS nu,
           len(list_filter(u, x -> list_contains(ma, x) AND list_contains(mb, x))) AS nc,
           CASE WHEN len(u) = 64
                THEN 63.0 / (CAST(${duckHex48("u[64]")} AS DOUBLE) / 281474976710656.0)
                ELSE CAST(len(u) AS DOUBLE) END AS eu
         FROM u0)
       SELECT group_a, group_b,
         CAST(nu AS BIGINT) AS n_union_sketch, CAST(nc AS BIGINT) AS n_common,
         eu AS est_union,
         CAST(nc AS DOUBLE) / CAST(nu AS DOUBLE) AS jaccard_est,
         round(CAST(nc AS DOUBLE) / CAST(nu AS DOUBLE) * eu, 6) AS est_intersection
       FROM e"""

  // --- x183: native session_window sessionization --------------------------
  // The built-in spelling of x08: Catalyst's MergingSessions operator
  // does the gap merge (one user shuffle, in-partition sort merge — no
  // window-function pass), and the identical expression runs under
  // readStream (x184). Boundary rule matches x08 exactly (abutting
  // per-event windows merge — spec-pinned), so the oracle is x08's
  // inclusive gaps-and-islands with the window_end = last + gap bound
  // added.
  def x183SessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    Events.sessionWindowStats(
      ev.withColumn("ts_us", Events.epochMicros(ev)),
      "user_id", "ts_us", gapMicros = 1800000000L)
  }

  val x183Sql: String =
    """WITH x AS (SELECT user_id, epoch_us(ts) AS e FROM events),
       s AS (SELECT user_id, e,
         CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
                OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > 1800000000
              THEN 1 ELSE 0 END AS ns FROM x),
       g AS (SELECT user_id, e,
         sum(ns) OVER (PARTITION BY user_id ORDER BY e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
       SELECT user_id, min(e) AS window_start, max(e) + 1800000000 AS window_end,
              min(e) AS session_start, max(e) AS session_end,
              count(*) AS n_events
       FROM g GROUP BY user_id, sid"""

  // --- x184: streaming native session windows (≡ x183) ---------------------
  // The same session_window expression drained through Structured
  // Streaming (complete mode: sessions merge across micro-batches in
  // the session state store) — multi-batch replay must land exactly on
  // the batch result, through the shared x183 oracle.
  def x184StreamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"ssw_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val e = t(spark, dir, "events")
    val src = e.select(timestamp_micros(Events.epochMicros(e)).as("tss"),
      col("user_id"))
    src.write.parquet(s"$base/in")
    val agg = spark.readStream.schema(src.schema).parquet(s"$base/in")
      .groupBy(col("user_id"),
        session_window(col("tss"), "1800000000 microseconds").as("__sw"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("tss"))).as("session_start"),
        max(unix_micros(col("tss"))).as("session_end"))
    Replay.memory(agg, s"x184_ssw_$tag", "complete").select(col("user_id"),
      unix_micros(col("__sw.start")).as("window_start"),
      unix_micros(col("__sw.end")).as("window_end"),
      col("session_start"), col("session_end"), col("n_events"))
  }

  val x184Sql: String = x183Sql

  // --- x185: time-series resample + forward fill ---------------------------
  // Hourly per-type grid over events: silent hours appear with
  // n_events = 0 and the last observed hourly total carried forward —
  // the dense series every dashboard/alert consumer joins against.
  // One data pass; the grid work is O(types × hours).
  def x185ResampleFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    Events.resampleFill(
      ev.withColumn("ts_us", Events.epochMicros(ev)),
      "event_type", "ts_us", "value", stepUs = 3600000000L)
  }

  val x185Sql: String =
    """WITH x AS (SELECT event_type AS k, epoch_us(ts) AS e, value FROM events),
       o AS (SELECT k, e // 3600000000 AS b, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tv
         FROM x GROUP BY 1, 2),
       r AS (SELECT k, min(b) AS lo, max(b) AS hi FROM o GROUP BY 1),
       sp AS (SELECT k, unnest(generate_series(lo, hi)) AS b FROM r),
       j AS (SELECT sp.k, sp.b, coalesce(o.n, 0) AS n_events, o.tv
         FROM sp LEFT JOIN o ON sp.k = o.k AND sp.b = o.b),
       f AS (SELECT k, b, n_events, tv,
           sum(CASE WHEN tv IS NULL THEN 0 ELSE 1 END) OVER (PARTITION BY k ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         FROM j)
       SELECT k AS event_type, b * 3600000000 AS bucket_start,
         CAST(n_events AS BIGINT) AS n_events, tv AS total_value,
         max(tv) OVER (PARTITION BY k, seg) AS filled_value
       FROM f"""

  // --- x186: k-core of the near-dup pair graph -----------------------------
  // Dense template-family mass vs star/chain periphery: the 2-core of
  // x04's pair graph (every member near-duplicates >= 2 others). The
  // peel is idempotent past its fixpoint, so the oracle unrolls MORE
  // rounds (8) than the live run needs — the live run require-converges
  // within the same bound.
  def x186KCore(spark: SparkSession, dir: String): DataFrame =
    Graph.kCorePeel(
      allPairs(spark, dir),
      "id_a", "id_b", k = 2, maxRounds = 8)
      .select(col("id").as("doc_id"), col("deg"))

  // every CTE MATERIALIZED: each round references its predecessor ~4×,
  // and DuckDB inlines plain CTEs per reference — 8 unrolled rounds
  // would exponentiate into hundreds of base-table scans (observed as
  // fd exhaustion), while materialization keeps the chain linear
  protected def kCoreCtes(k: Int, rounds: Int): String = {
    val peel = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, count(*) AS deg FROM (
             SELECT u AS id FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) GROUP BY 1),
         bad$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg < $k),
         e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
           WHERE u NOT IN (SELECT id FROM bad$i)
             AND v NOT IN (SELECT id FROM bad$i))"""
    }.mkString(",\n       ")
    s"""e0 AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v FROM prs),
       $peel"""
  }

  val x186Sql: String =
    s"""WITH ${jaccardCtes(3)},
       prs AS (SELECT id_a, id_b
         FROM inter JOIN sizes na ON na.doc_id = id_a
         JOIN sizes nb ON nb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.7),
       ${kCoreCtes(2, 8)}
       SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
         SELECT u AS id FROM e8 UNION ALL SELECT v FROM e8) GROUP BY 1"""

  // --- x187: pseudo-relevance-feedback query expansion ---------------------
  // Rocchio PRF over x69's query fixture: BM25 round 1 → top-5 feedback
  // docs → top-3 tf-idf expansion terms (originals excluded, exact-
  // integer selection order) → BM25 round 2 on the expanded queries.
  // The oracle generates both rounds from one CTE template so the two
  // engines can never drift on just one round.
  def x187PrfExpand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq(
      ("q_hash_join", Seq("hash", "join")),
      ("q_stream", Seq("stream", "window", "batch")),
      ("q_vector", Seq("vector", "data"))).toDF("query_id", "terms")
    Retrieval.prfExpand(t(spark, dir, "documents"), "doc_id", "text", qs,
      kFeedback = 5, mTerms = 3, k = 15)
  }

  /** One BM25 scoring round as CTEs (`{p}tf`/`{p}df`/`{p}sc`/`{p}r`)
    * over shared toks/lens/stats, scoring query-term table `qt`. */
  protected def bm25RoundCtes(qt: String, p: String): String =
    s"""${p}tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks
         WHERE w IN (SELECT DISTINCT w FROM $qt) GROUP BY 1, 2),
       ${p}df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM ${p}tf GROUP BY 1),
       ${p}sc AS (SELECT $qt.query_id, ${p}tf.doc_id,
           CAST(sum(CAST(round(
             ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
             * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(len AS DOUBLE) / avgdl))))
             * 1000000000.0) AS BIGINT)) AS BIGINT) AS s9
         FROM ${p}tf JOIN ${p}df USING (w) JOIN $qt USING (w)
         JOIN lens USING (doc_id) CROSS JOIN stats GROUP BY 1, 2),
       ${p}r AS (SELECT query_id, doc_id, s9,
           row_number() OVER (PARTITION BY query_id ORDER BY s9 DESC, doc_id) AS rank
         FROM ${p}sc)"""

  val x187Sql: String =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       FROM documents),
       lens AS (SELECT d.doc_id, coalesce(t.len, 0) AS len FROM documents d
         LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM toks GROUP BY 1) t USING (doc_id)),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM lens),
       qt1 AS (SELECT * FROM (VALUES
         ('q_hash_join','hash'),('q_hash_join','join'),
         ('q_stream','stream'),('q_stream','window'),('q_stream','batch'),
         ('q_vector','vector'),('q_vector','data')) AS q(query_id, w)),
       ${bm25RoundCtes("qt1", "r1")},
       fb AS (SELECT query_id, doc_id FROM r1r WHERE rank <= 5),
       ft AS (SELECT fb.query_id, toks.w, CAST(count(*) AS BIGINT) AS ftf
         FROM fb JOIN toks USING (doc_id) GROUP BY 1, 2),
       cand AS (SELECT ft.query_id, ft.w, ft.ftf FROM ft
         LEFT JOIN qt1 ON qt1.query_id = ft.query_id AND qt1.w = ft.w
         WHERE qt1.w IS NULL),
       dfc AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks
         WHERE w IN (SELECT DISTINCT w FROM cand) GROUP BY 1),
       wt AS (SELECT cand.query_id, cand.w,
           CAST(round(ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
             * CAST(ftf AS DOUBLE) * 1000000000.0) AS BIGINT) AS w9
         FROM cand JOIN dfc USING (w) CROSS JOIN stats),
       ex AS (SELECT query_id, w FROM (
           SELECT query_id, w, row_number() OVER (PARTITION BY query_id ORDER BY w9 DESC, w) AS rn
           FROM wt) WHERE rn <= 3),
       qt2 AS (SELECT DISTINCT query_id, w FROM (
           SELECT query_id, w FROM qt1 UNION ALL SELECT query_id, w FROM ex)),
       ${bm25RoundCtes("qt2", "r2")}
       SELECT query_id, rank, doc_id,
         round(CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS score
       FROM r2r WHERE rank <= 15"""

}
