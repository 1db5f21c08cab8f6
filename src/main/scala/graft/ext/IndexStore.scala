package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Maintained BM25 inverted index — the lexical sibling of
  * [[VectorStore]], completing the maintained-store matrix on the
  * retrieval side: day-over-day ingest keeps postings, document
  * lengths, and corpus-stat subtotals in [[ManifestStore]] tables, and
  * a query probe reads ONLY the probed terms' partitions yet scores
  * bit-identically to [[Retrieval.bm25TopK]] over the union of every
  * day ingested (the x156 gate's contract — x69's oracle applies
  * verbatim).
  *
  * THREE tables under `root`, all keyed merges (day replays REPLACE):
  *  - `postings`: (id, w, tf) partitioned by `pt` = hash(term) bucket —
  *    every posting of a term lives in that term's bucket, so a query's
  *    tf AND df come from a [[ManifestStore.readPartitions]] probe of
  *    the query vocabulary's buckets, never a postings scan. Keyed
  *    (w, id): a doc contributes its (term, doc) cells exactly once.
  *  - `lens`: (id, len, day) partitioned by `dpt` = hash(id) bucket —
  *    BM25's length norm, joined only for MATCHED docs via a second
  *    pruned probe of the matched ids' buckets. Zero-token docs are
  *    stored (len 0): they can never match, but they are corpus members.
  *    The `day` breadcrumb records which stats subtotal the doc counts
  *    under, so [[forget]] can subtract it from the right day.
  *  - `stats`: one (day, nd, tl) subtotal row per ingested day, keyed
  *    and partitioned by day — N and avgdl at probe time are an
  *    O(days) rollup, never a lens scan (counts and sums merge
  *    losslessly; avgdl's division happens once, on the rolled-up
  *    LONGs, so it equals the batch pass's bit for bit).
  *
  * 100 TB shape: a day's append tokenizes the DAY's docs only and
  * issues three keyed merges touching O(day tokens) rows; the probe
  * touches O(query-vocab buckets + matched-id buckets) partitions and
  * O(matched postings) rows. Docs are immutable corpus members (the
  * ingest contract shared with every store family): re-delivering a
  * day replaces its rows; ingesting a CHANGED doc under an old id is
  * not a supported operation on any of the maintained stores.
  */
object IndexStore {

  private def bucket(c: Column, partitions: Int) =
    pmod(xxhash64(c.cast("string")), lit(partitions.toLong))

  private def sub(root: String, name: String): String =
    new org.apache.hadoop.fs.Path(root, name).toString

  private def requireGeometry(spark: SparkSession, root: String, partitions: Int): Unit =
    StoreSidecar.requireOrInit(spark, root,
      Seq("partitions" -> partitions.toLong), "IndexStore")

  /** Fold one day's documents into the index: tf per (doc, term), doc
    * lengths, and the day's corpus-stat subtotal — three keyed merges,
    * each touching only the day's rows' partitions.
    */
  def appendDay(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      day: String,
      root: String,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, root, partitions)
    // the epoch namespace is reserved for [[compactStats]]: a day replay
    // under an epoch tag would REPLACE the epoch subtotal (day merges are
    // keyed) and silently drop every compacted day's counts
    ManifestStore.requireDayTag("IndexStore.appendDay", day, " (compactStats output)")
    val tf = Dedup.materialize(
      LangModel.tokenRows(docs, idCol, textCol)
        .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf")))
    val lens = Dedup.materialize(docs.select(col(idCol).as("id"))
      .join(tf.groupBy(col("id")).agg(sum(col("tf")).as("len")), Seq("id"), "left")
      .na.fill(0L, Seq("len"))
      .withColumn("day", lit(day)))
    ManifestStore.mergeOrCreate(spark,  sub(root, "postings"),
      tf.withColumn("pt", bucket(col("w"), partitions)), Seq("w", "id"), "pt")
    ManifestStore.mergeOrCreate(spark, sub(root, "lens"),
      lens.withColumn("dpt", bucket(col("id"), partitions)), Seq("id"), "dpt")
    ManifestStore.mergeOrCreate(spark, sub(root, "stats"),
      lens.agg(count(lit(1)).as("nd"), sum(col("len")).as("tl"))
        .withColumn("day", lit(day)), Seq("day"), "day")
  }

  /** Right-to-be-forgotten over the maintained index (the lexical sibling
    * of [[VectorStore.forget]], x157): remove a subject's postings, length
    * row, and stats contribution — keyed, partition-pruned deletes plus a
    * day-keyed stats correction, O(doomed docs' buckets), never an index
    * scan.
    *
    * The caller supplies the doomed docs' CONTENT (id + text, read from
    * the lakehouse before its own delete): postings live in TERM-hash
    * buckets, so locating a doc's cells without its terms would take a
    * postings scan — the deletion request carries the record it erases.
    * The text must be the INGESTED bytes; a divergent copy would leave
    * orphaned postings (which can still never be scored — [[bm25Probe]]'s
    * inner lens join drops docs with no length row — but would inflate
    * df counts until the next rebuild).
    *
    * Crash-safe by ordering + a txn fence, each re-run of the same
    * request converging (spec-pinned):
    *  1. postings delete — keyed (w, id): idempotent;
    *  2. stats correction — old day subtotal minus the PRESENT doomed
    *     docs' (count, length), fenced by `forgetSeq` under the
    *     [[ManifestStore]] txn record (the StreamUpsert pattern), so a
    *     replay never subtracts twice. `forgetSeq` must be assigned
    *     MONOTONICALLY across forget requests on this store (a ticket
    *     number) — the same contract as streaming batch ids;
    *  3. lens delete LAST — it gates the presence probe, so every earlier
    *     crash window still sees the docs as present and re-runs their
    *     (idempotent or fenced) steps.
    *
    * Ids the store never held (or already forgot) contribute nothing:
    * presence is probed against `lens` first.
    */
  def forget(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      root: String,
      forgetSeq: Long,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, root, partitions)
    // compaction fence: inside compactStats' crash window the lens
    // breadcrumbs already say `epoch:` but the stats table has no epoch
    // row yet — the day-keyed correction below would inner-join to
    // nothing and silently skip the subtraction. Refuse BEFORE any
    // mutation; the cure is replaying the open compaction.
    val compactStarted =
      ManifestStore.lastTxn(spark, sub(root, "lens"), "compactStarted").getOrElse(0L)
    val compactCompleted =
      ManifestStore.lastTxn(spark, sub(root, "stats"), "compactCompleted").getOrElse(0L)
    require(compactCompleted >= compactStarted,
      s"IndexStore.forget: stats compaction $compactStarted started (lens days rebadged) " +
        s"but not completed (last completed: $compactCompleted) — replay " +
        "compactStats with the same arguments first, then re-run this forget")
    val doomed = Dedup.materialize(
      docs.select(col(idCol).as("id"), col(textCol).as("__text")).distinct())
    if (doomed.head(1).isEmpty) return
    // O(doomed buckets) routing metadata — the probe convention
    val idLeafs = doomed.select(bucket(col("id"), partitions).as("dpt")).distinct()
      .collect().map(r => s"dpt=${r.getLong(0)}").sorted
    val present = Dedup.materialize(
      ManifestStore.readPartitions(spark, sub(root, "lens"), idLeafs.toSeq)
        .join(doomed.select(col("id")), Seq("id"), "left_semi")
        .select(col("id"), col("len"), col("day")))
    if (present.head(1).isEmpty) return
    // 1. postings: the present doomed docs' (w, id) cells, term-bucketed
    val cells = Dedup.materialize(
      LangModel.tokenRows(
          doomed.join(present.select(col("id")), Seq("id"), "left_semi"),
          "id", "__text")
        .select(col("w"), col("id")).distinct()
        .withColumn("pt", bucket(col("w"), partitions)))
    if (!cells.head(1).isEmpty)
      ManifestStore.delete(spark, sub(root, "postings"), cells,
        Seq("w", "id"), Seq("pt"))
    // 2. stats: fenced day-keyed subtraction
    val applied = ManifestStore.lastTxn(spark, sub(root, "stats"), "forget")
      .exists(_ >= forgetSeq)
    if (!applied) {
      val delta = present.groupBy(col("day"))
        .agg(count(lit(1)).as("dn"), sum(col("len")).as("dl"))
      val corrected = ManifestStore.read(spark, sub(root, "stats"))
        .join(delta, Seq("day"))
        .select(col("day"), (col("nd") - col("dn")).as("nd"),
          (col("tl") - col("dl")).as("tl"))
      ManifestStore.merge(spark, sub(root, "stats"), corrected,
        Seq("day"), Seq("day"), txnRecord = Map("forget" -> forgetSeq))
    }
    // 3. lens last — the presence gate for every earlier crash window
    ManifestStore.delete(spark, sub(root, "lens"),
      present.select(col("id")).withColumn("dpt", bucket(col("id"), partitions)),
      Seq("id"), Seq("dpt"))
  }

  /** Postings GARBAGE COLLECTION — the cure for [[forget]]'s one
    * documented degradation: a forget whose supplied text DIVERGES from
    * the ingested bytes deletes the lens row (so the doc can never be
    * scored) but strands the true terms' (w, id) cells, which inflate
    * df — and therefore deflate every survivor's idf — "until rebuild".
    * This IS that repair, without the rebuild: orphaned cells are
    * exactly the postings whose id has no lens row, so one anti-join of
    * postings against lens ids finds them and one keyed, term-bucket-
    * partitioned delete removes them. After it, df over every term
    * equals the survivors-only batch count (the x69 oracle's).
    *
    * 100 TB shape, stated honestly: this is the PERIODIC maintenance
    * job, deliberately INDEX-sized where the daily ops are increment-
    * sized — orphans carry no pointer to their buckets (locating them
    * pruned would need the very content the divergent forget failed to
    * supply), so the anti-join scans the postings and lens tables once
    * each (both far smaller than the corpus; never the corpus itself).
    * The delete then rewrites only the orphaned cells' term buckets.
    * Run it on the erosion cadence (N divergent forgets, or a df audit
    * drifting), not daily.
    *
    * Crash-safe trivially: the single delete commit is keyed — a replay
    * (or a repair with nothing to do) is a no-op. Stats need no
    * correction: [[forget]] already subtracted the doomed docs' (count,
    * length) under its fence; orphans only ever inflated the
    * probe-time df, which is DERIVED from postings, not stored.
    */
  def repair(
      spark: SparkSession,
      root: String,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, root, partitions)
    val lensIds = ManifestStore.read(spark, sub(root, "lens")).select(col("id"))
    val orphans = Dedup.materialize(
      ManifestStore.read(spark, sub(root, "postings"))
        .select(col("w"), col("id"))
        .join(lensIds, Seq("id"), "left_anti")
        .withColumn("pt", bucket(col("w"), partitions)))
    if (!orphans.head(1).isEmpty)
      ManifestStore.delete(spark, sub(root, "postings"), orphans,
        Seq("w", "id"), Seq("pt"))
  }

  /** BM25 top-k over the maintained index: same query contract, output
    * shape, fixed-point partials, and (score DESC, id ASC) ranking as
    * [[Retrieval.bm25TopK]] — but tf/df come from the query
    * vocabulary's postings buckets and lengths from the matched ids'
    * buckets, so the probe's I/O is query-sized, not corpus-sized.
    */
  def bm25Probe(
      spark: SparkSession,
      root: String,
      queries: DataFrame,
      idCol: String,
      topK: Int,
      partitions: Int = 8): DataFrame = {
    requireGeometry(spark, root, partitions)
    val qt = queries.select(col("query_id"), explode(col("terms")).as("w"))
      .distinct()
    val qVocab = Dedup.materialize(qt.select(col("w")).distinct())
    // O(query-vocab buckets) routing metadata (the ClusterStore /
    // VectorStore probe convention) — never data-sized
    val wLeafs = qVocab.select(bucket(col("w"), partitions).as("pt")).distinct()
      .collect().map(r => s"pt=${r.getLong(0)}").sorted
    val tf = Dedup.materialize(
      ManifestStore.readPartitions(spark, sub(root, "postings"), wLeafs.toSeq)
        .join(qVocab, Seq("w"))
        .select(col("id"), col("w"), col("tf")))
    val df_ = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val idLeafs = tf.select(bucket(col("id"), partitions).as("dpt")).distinct()
      .collect().map(r => s"dpt=${r.getLong(0)}").sorted
    val lens = ManifestStore.readPartitions(spark, sub(root, "lens"), idLeafs.toSeq)
      .select(col("id"), col("len"))
    val stats = ManifestStore.read(spark, sub(root, "stats"))
      .agg(sum(col("nd")).as("nd"), sum(col("tl")).as("tl"))
      .select(col("nd"),
        (col("tl").cast("double") / col("nd").cast("double")).as("avgdl"))
    val scored = tf
      .join(df_, Seq("w"))
      .join(qt, Seq("w"))
      .join(lens, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0d) +
        (col("nd").cast("double") - col("df").cast("double") + lit(0.5d)) /
          (col("df").cast("double") + lit(0.5d))))
      .withColumn("tfn",
        (col("tf").cast("double") * lit(2.2d)) /
          (col("tf").cast("double") + lit(1.2d) *
            (lit(0.25d) + lit(0.75d) * (col("len").cast("double") / col("avgdl")))))
      .withColumn("p9", round(col("idf") * col("tfn") * lit(1e9d), 0).cast("long"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("p9")).as("s9"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s9").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("id").as(idCol),
        round(col("s9").cast("double") / lit(1e9d), 6).as("score"))
  }

  /** EPOCH COMPACTION of the day-keyed stats subtotals — the metadata
    * diet for a store that ingests daily for years: without it the
    * stats table (and every probe's N/avgdl rollup) grows O(days)
    * forever. The named `days`' rows collapse into ONE `epochDay`
    * subtotal — counts and length sums are exact LONG sums, so every
    * later probe is BIT-IDENTICAL — and the affected docs' lens `day`
    * breadcrumbs are rebadged to the epoch so a later [[forget]]
    * subtracts from the row that now holds their counts.
    *
    * Two commits under a started/completed fence (the ClusterStore
    * rebuild pattern), each replay-convergent:
    *  1. lens rebadge, carrying `compactStarted` — O(index) scan,
    *     deliberately: this is the PERIODIC job, like [[repair]];
    *     probes stay correct mid-window (stats rows are untouched);
    *  2. stats [[ManifestStore.replaceWhere]], carrying
    *     `compactCompleted` — ONE atomic manifest flip in which the
    *     doomed day rows (plus any prior `epochDay` row being folded
    *     again) become the single epoch subtotal; there is NO window
    *     where both old days and the epoch row are visible.
    * [[forget]] refuses while started > completed (the correction would
    * silently miss); replaying compactStats with the same arguments
    * closes the window. `compactSeq` must be assigned monotonically
    * across compactions (a ticket number, the forgetSeq contract).
    *
    * Retention contract, stated honestly: compaction CONSUMES the
    * replay window of the folded days — [[appendDay]] re-delivery of a
    * compacted day would create a fresh day row double-counting the
    * epoch. Only compact days older than any possible re-delivery (the
    * standard retention-horizon rule); the `epoch:` prefix is reserved
    * and appendDay refuses it, so an epoch row can never be replaced by
    * a day merge.
    */
  def compactStats(
      spark: SparkSession,
      root: String,
      days: Seq[String],
      epochDay: String,
      compactSeq: Long,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, root, partitions)
    ManifestStore.requireEpochTag("IndexStore.compactStats", epochDay)
    require(days.nonEmpty && !days.contains(epochDay),
      s"IndexStore.compactStats: days must be non-empty and not contain the epoch tag")
    // a NEW compaction over an older open window would close the forget
    // fence (completed catches up to a larger started) while the old
    // window's stats days were never folded — only a REPLAY (same seq)
    // may run into an open window
    val started0 =
      ManifestStore.lastTxn(spark, sub(root, "lens"), "compactStarted").getOrElse(0L)
    val completed0 =
      ManifestStore.lastTxn(spark, sub(root, "stats"), "compactCompleted").getOrElse(0L)
    // monotonic-seq contract ENFORCED, not just documented: a stale seq
    // below the recorded started marker would commit txn maps that
    // REGRESS compactStarted/compactCompleted (m.txn ++ txnRecord keeps
    // the last write), silently re-opening or mislabeling the fence
    require(compactSeq >= started0,
      s"IndexStore.compactStats: compactSeq=$compactSeq is stale — the last " +
        s"started compaction is $started0 (a replay reuses that exact seq; a " +
        "new compaction needs a larger one)")
    require(completed0 >= started0 || compactSeq == started0,
      s"IndexStore.compactStats: compaction $started0 is still open (last completed: " +
        s"$completed0) — replay it with the same arguments before starting seq $compactSeq")
    // 1. lens rebadge FIRST (started marker): every doc that counted
    // under a doomed day now counts under the epoch
    val rebadged = ManifestStore.read(spark, sub(root, "lens"))
      .filter(col("day").isin(days: _*))
      .withColumn("day", lit(epochDay))
    ManifestStore.merge(spark, sub(root, "lens"), rebadged, Seq("id"), Seq("dpt"),
      txnRecord = Map("compactStarted" -> compactSeq))
    // 2. stats: one atomic partition replacement (a replay recomputes
    // the identical epoch row from whatever subset still exists)
    ManifestStore.compactDays(spark, sub(root, "stats"), "day",
      groupCols = Seq.empty, sumCols = Seq("nd", "tl"),
      foldDays = days, epochDay = epochDay,
      txnRecord = Map("compactCompleted" -> compactSeq))
  }

  /** Postings rows of the probed terms' buckets only — package-private
    * so the plan spec can pin `inputFiles` ⊆ those buckets' leaf dirs.
    */
  private[graft] def postingsProbe(
      spark: SparkSession,
      root: String,
      terms: DataFrame,
      partitions: Int): DataFrame = {
    val leafs = terms.select(bucket(col("w"), partitions).as("pt")).distinct()
      .collect().map(r => s"pt=${r.getLong(0)}").sorted
    ManifestStore.readPartitions(spark, sub(root, "postings"), leafs.toSeq)
      .join(terms, Seq("w"))
  }
}
