package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Day-over-day MAINTAINED near-dup cluster labels — the missing piece
  * between [[DedupStores]] (which maintains the PAIR-GENERATING index)
  * and [[Dedup.duplicateClusters]] (which computes labels in one batch
  * pass): a persisted (id, label) table that a day's new pairs fold
  * into WITHOUT recomputing components over the historical pair graph.
  *
  * The incremental-merge insight that keeps labels exact: a cluster's
  * label is its MIN member id, and every stored member carries an edge
  * to that label implicitly. So when new pairs arrive, the component
  * computation only needs the NEW edges plus one (member → old label)
  * edge per member of an AFFECTED cluster — a graph of O(affected
  * members + day pairs), never the historical pair list. Components of
  * that small graph have the same min-member labels the full-graph
  * batch pass would assign (min(min A, min B) = min(A ∪ B)), so the
  * store equals [[Dedup.duplicateClusters]] over the union of all
  * pairs ever appended — the x147 gate's oracle.
  *
  * TWO tables, same merge cycle (the id-bucketed twin index):
  *  - `<table>`: (id, label) partitioned by `pt` = hash(label) — member
  *    retrieval for an affected cluster prunes to its label's bucket;
  *  - `<table>/_idindex`: (id, label, prev_label) partitioned by
  *    `ptid` = hash(id) — the id→label LOOKUP for a day's touched ids
  *    prunes to the touched ids' buckets. `prev_label` is the id's
  *    label BEFORE the append that last wrote the row; it exists purely
  *    so a crash-window replay can still locate members under the
  *    pre-append label buckets (see the commit-order note below).
  *
  * 100 TB shape, per daily append — O(affected) at EVERY step, the
  * maintained-store contract: the touched ids' current labels come
  * from a partition-pruned probe of the twin ([[ManifestStore
  * .readPartitions]] on the touched ids' hash buckets — never a full
  * scan of the label history); member retrieval prunes to the affected
  * labels' buckets of the main table; the component pass runs on the
  * affected subgraph only; and the merges + scoped delete rewrite
  * touched partitions. An id's bucket never changes, so the twin needs
  * no stale-copy deletion — the keyed merge replaces in place.
  *
  * Commit order per append: twin merge, then main merge, then the
  * scoped stale-copy delete (keyed on (id, pt) so only the OLD-bucket
  * copy dies — deleting by id alone would also kill the fresh copy
  * when a relabeled cluster's new bucket coincides with another
  * relabeled cluster's old bucket). Crash anywhere in that window and
  * REPLAYING the same day converges: the twin probe returns label ∪
  * prev_label, so members are found under both the pre- and post-
  * append buckets whichever commits landed, the recompute reproduces
  * the final labels, and the keyed merges replace rather than
  * duplicate (row accounting `require`d in the gate). A completed
  * append replayed again is two idempotent merge commits (no stale
  * rows → no delete commit). A FAILED day must be replayed before the
  * next one appends — the prev_label breadcrumb is one step deep —
  * and that is ENFORCED, not operator discipline: each append records
  * its pair-set fingerprint on the twin's first commit (started) and
  * again on the window's final main-table commit (completed); while
  * the two diverge, [[appendPairs]] refuses any pair set except the
  * crashed day's own replay (the `TxnApp` fence).
  */
object ClusterStore {

  private def bucket(c: org.apache.spark.sql.Column, partitions: Int) =
    pmod(xxhash64(c.cast("string")), lit(partitions.toLong))

  /** Manifest txn key carrying the replay fence's fingerprints: the
    * TWIN records the last STARTED append (atomically with its merge,
    * the first commit of the window), the MAIN table the last COMPLETED
    * one (atomically with the window's final commit — the stale delete
    * when one is needed, the main merge otherwise). started != completed
    * is exactly "a crash window is open".
    */
  private val TxnApp = "graft.cluster.append"

  /** Manifest txn key for the [[rebuildFromIndex]] fence: the twin
    * records the last STARTED rebuild (its overwrite is the window's
    * first commit), the main table the last COMPLETED one. The recorded
    * value is the INDEX SNAPSHOT VERSION the rebuild ran from, so
    * started != completed is exactly "a rebuild crash window is open"
    * — and a replayed rebuild from the unchanged index re-records the
    * same value over identical data, converging benignly.
    */
  private val TxnRebuild = "graft.cluster.rebuild"

  /** Refuse appends/forgets while a [[rebuildFromIndex]] crash window is
    * open: between the rebuild's two overwrites the twin holds the NEW
    * labels and the main table the OLD ones, so the twin probe would
    * route member retrieval to buckets the main table never wrote.
    * Unlike the append fence, the only cure is finishing the job —
    * re-run the rebuild (it reads nothing from this store, so it is
    * safe from ANY window and closes all of them).
    */
  private def requireNoRebuildWindow(
      spark: SparkSession, table: String, op: String): Unit = {
    val started = ManifestStore.lastTxn(spark, twinTable(table), TxnRebuild)
    val completed = ManifestStore.lastTxn(spark, table, TxnRebuild)
    if (started != completed)
      throw new IllegalStateException(
        s"ClusterStore: $table has a crashed rebuild (twin at index version " +
          s"$started, main at $completed) — re-run rebuildFromIndex to " +
          s"convergence before $op")
  }

  /** Order-independent content fingerprint of a day's pair set — the
    * identity the replay fence compares: a replay of the crashed day
    * carries the same fingerprint and is let through; any other pair
    * set is refused while a window is open.
    */
  private def pairFingerprint(pairs: DataFrame, idA: String, idB: String): Long =
    pairs.select(xxhash64(col(idA).cast("string"), col(idB).cast("string")).as("h"))
      .agg(expr("xxhash64(bit_xor(h), count(1))")).head().getLong(0)

  private def twinTable(table: String): String =
    new org.apache.hadoop.fs.Path(table, "_idindex").toString

  private def writeGeometry(spark: SparkSession, table: String, partitions: Int): Unit =
    StoreSidecar.write(spark, table, Seq("partitions" -> partitions.toLong))

  /** A partitions mismatch hashes existing labels to different buckets:
    * member retrieval misses them and the store accumulates duplicate
    * ids — fail loudly instead (the [[DedupStores]] sidecar cure).
    */
  private def requireGeometry(spark: SparkSession, table: String, partitions: Int): Unit =
    StoreSidecar.requireMatching(spark, table, Seq("partitions" -> partitions.toLong),
      "ClusterStore")

  /** Initialize the store from a pair set: labels = min-member
    * components, written to BOTH tables — the main one partitioned by
    * the LABEL's hash bucket (pruned member retrieval), the twin by
    * the ID's (pruned lookups). Twin first, as in [[rebuildFromIndex]];
    * the sidecar goes LAST, so it marks a completed build: a build that
    * crashes before it leaves a store every append/forget refuses in
    * [[requireGeometry]], never one that relabels without its twin.
    */
  def build(
      spark: SparkSession,
      pairs: DataFrame,
      table: String,
      partitions: Int = 8): Unit = {
    val labels = Dedup.materialize(Dedup.duplicateClusters(pairs))
    ManifestStore.write(spark,
      labels.withColumn("prev_label", col("label"))
        .withColumn("ptid", bucket(col("id"), partitions)),
      twinTable(table), "ptid")
    ManifestStore.write(spark,
      labels.withColumn("pt", bucket(col("label"), partitions)), table, "pt")
    writeGeometry(spark, table, partitions)
  }

  /** The partition-pruned twin probe: (id, label, prev_label) rows of
    * the touched ids, scanning ONLY their hash buckets' partitions —
    * package-private so the plan spec can pin `inputFiles` ⊆ the
    * touched buckets' leaf dirs (the x129 VectorStore pattern).
    */
  private[graft] def twinProbe(
      spark: SparkSession,
      table: String,
      touched: DataFrame,
      partitions: Int): DataFrame = {
    // O(touched buckets) routing metadata, same class as the
    // ManifestStore partition listings — never data-sized
    val leafs = touched.select(bucket(col("id"), partitions).as("ptid")).distinct()
      .collect().map(r => s"ptid=${r.getLong(0)}").sorted
    ManifestStore.readPartitions(spark, twinTable(table), leafs.toSeq)
      .join(touched, Seq("id"))
      .select(col("id"), col("label"), col("prev_label"))
  }

  /** Fold a day's new pairs in. Touches O(affected members + day
    * pairs) everywhere — the lookup included (see the object scaladoc).
    */
  def appendPairs(
      spark: SparkSession,
      newPairs: DataFrame,
      table: String,
      partitions: Int = 8,
      idA: String = "id_a",
      idB: String = "id_b"): Unit = {
    requireGeometry(spark, table, partitions)
    val touched = Dedup.materialize(
      newPairs.select(col(idA).as("id"))
        .unionByName(newPairs.select(col(idB).as("id"))).distinct())
    if (touched.head(1).isEmpty) return // an empty day changes nothing
    val twin = twinTable(table)
    // REPLAY FENCE: the scaladoc's "production must replay a FAILED day
    // before appending the next one" is enforced here, not left to
    // operator discipline — a one-step-deep prev_label breadcrumb
    // overwritten by a different day's append would strand the crashed
    // day's stale copies forever. Started (twin) vs completed (main)
    // fingerprints diverge exactly while a crash window is open; only
    // the same pair set (the replay) may append through it.
    val fp = pairFingerprint(newPairs, idA, idB)
    requireNoRebuildWindow(spark, table, "appending")
    for (p <- ManifestStore.lastTxn(spark, twin, TxnApp)
         if !ManifestStore.lastTxn(spark, table, TxnApp).contains(p) && p != fp)
      throw new IllegalStateException(
        s"ClusterStore: $table has an unreplayed crashed append (fingerprint $p) — " +
          "replay that day's pairs to convergence before appending a new day; " +
          "the prev_label breadcrumb is one step deep")
    // touched ids' current labels via the pruned twin probe. prev_label
    // rides along so a crash-window replay still finds members under
    // the pre-append buckets; in steady state it names dead labels
    // whose buckets simply hold no matching rows. A store legitimately
    // built from a no-dup-pairs day 0 has no twin data — "no stored
    // members" is an explicit probe, not an exception catch, so an
    // unrelated failure inside the lookup propagates instead of
    // silently computing labels from the new pairs alone.
    val oldLabels = Dedup.materialize(
      if (!ManifestStore.hasData(spark, twin))
        newPairs.select(col(idA).as("label")).limit(0)
      else
        twinProbe(spark, table, touched, partitions)
          .select(explode(array(col("label"), col("prev_label"))).as("label"))
          .distinct())
    val labelLeafs = oldLabels
      .select(bucket(col("label"), partitions).as("pt")).distinct()
      .collect().map(r => s"pt=${r.getLong(0)}").sorted
    val members = Dedup.materialize(
      if (labelLeafs.isEmpty)
        newPairs.select(col(idA).as("id"), col(idA).as("label")).limit(0)
      else
        ManifestStore.readPartitions(spark, table, labelLeafs.toSeq)
          .join(oldLabels, Seq("label"))
          .select(col("id"), col("label")))
    // the affected subgraph: new edges + one (member -> old label) edge
    // per affected member — components of THIS graph carry the exact
    // min-member labels of the full-graph batch pass
    val edges = newPairs.select(col(idA).as("id_a"), col(idB).as("id_b"))
      .unionByName(members.select(col("id").as("id_a"), col("label").as("id_b")))
    val relabeled = Dedup.materialize(Dedup.duplicateClusters(edges)
      .withColumn("pt", bucket(col("label"), partitions)))
    // prev_label = the id's PRE-append label = max over the member
    // rows. During a crash-window REPLAY an id's member rows are at
    // most {newLabel, preAppendLabel} with newLabel <= preAppendLabel
    // (labels only shrink), so max is exactly the pre-append bucket
    // pointer — min would pick the NEW label and overwrite the
    // breadcrumb to the not-yet-deleted stale copy on the replay's
    // first commit, leaving that copy unreachable if the replay itself
    // crashes before its stale delete (the double-crash spec). In all
    // no-crash paths an id has one member row, so max == min. Ids new
    // to the store point at themselves.
    val twinRows = relabeled.select(col("id"), col("label"))
      .join(members.groupBy(col("id")).agg(max(col("label")).as("prev_label")),
        Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("prev_label"), col("label")).as("prev_label"))
      .withColumn("ptid", bucket(col("id"), partitions))
    // stale copies = pre-append member rows whose bucket differs from
    // their id's new one. A copy living in ANY partition the main merge
    // rewrites dies in that merge's keyed anti-join (its id is in the
    // batch), so only copies OUTSIDE the merge's touched partitions
    // need a delete commit — computing that BEFORE any commit both
    // trims the delete's I/O and decides which commit carries the
    // fence's completion record.
    val newPts = relabeled.select(col("pt")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val staleLive = Dedup.materialize(members
      .withColumn("pt", bucket(col("label"), partitions))
      .join(relabeled.select(col("id"), col("pt").as("__np")), Seq("id"))
      .filter(col("pt") =!= col("__np") && !col("pt").isin(newPts: _*))
      .select(col("id"), col("pt")))
    val willDelete = !staleLive.head(1).isEmpty
    // COMMIT ORDER (see the object scaladoc): twin first — its
    // prev_label breadcrumb is what makes a crash before the main
    // merge replayable; then the main merge; then the stale delete,
    // scoped to (id, OLD pt) so a relabeled cluster landing in another
    // relabeled cluster's old bucket never loses the fresh copy. The
    // twin bootstraps via an empty write + merge (not a bare write) so
    // the started-fingerprint records atomically with the first real
    // twin commit on every path.
    if (!ManifestStore.exists(spark, twin))
      ManifestStore.write(spark, twinRows.limit(0), twin, "ptid")
    ManifestStore.merge(spark, twin, twinRows, Seq("id"), Seq("ptid"),
      txnRecord = Map(TxnApp -> fp))
    ManifestStore.merge(spark, table, relabeled, Seq("id"), Seq("pt"),
      txnRecord = if (willDelete) Map.empty else Map(TxnApp -> fp))
    if (willDelete)
      ManifestStore.delete(spark, table, staleLive, Seq("id", "pt"), Seq("pt"),
        txnRecord = Map(TxnApp -> fp))
  }

  /** Right-to-be-forgotten over the maintained cluster labels — the
    * component-store member of the forget matrix (vector x157, dedup
    * x171, BM25 x172): remove the doomed ids' membership rows from both
    * tables and relabel each affected cluster to the MIN SURVIVING
    * member, all partition-pruned through the twin — O(doomed ids +
    * affected clusters' members), never a store scan.
    *
    * DECREMENTAL-CONNECTIVITY CAVEAT, stated honestly: the store holds
    * labels, not edges, so a forget cannot know whether the doomed id
    * was its cluster's only bridge — survivors of an affected cluster
    * stay ONE cluster even if removing the id would have split it.
    * That over-grouping is conservative for dedup (content keeps being
    * flagged, never under-flagged), it is exactly replicable in SQL
    * (the x173 oracle drops doomed members from the full components and
    * relabels per ORIGINAL component), and the cure is the same as
    * x157's frozen-codebook caveat: periodic rebuild from the
    * pair-generating index.
    *
    * Commit order — members must stay LOCATABLE at every crash point,
    * so lookups die last: (1) twin merge of relabeled survivors (the
    * prev_label breadcrumb keeps their old bucket reachable), (2) main
    * merge of relabeled survivors, (3) main delete of the doomed rows
    * plus relabeled survivors' out-of-merge stale copies, (4) twin
    * delete of the doomed ids. Re-running the same forget converges
    * from any window (spec-pinned): the doomed twin rows survive until
    * the final commit, so every replay can still route. A forget
    * REFUSES to run inside an open APPEND crash window (same fence as
    * [[appendPairs]]); conversely, replay a crashed forget before the
    * next append — an append interleaved into a forget window can
    * transiently resurrect doomed members (they look like ordinary
    * stored ids to it), which the forget replay then removes.
    */
  def forget(
      spark: SparkSession,
      ids: DataFrame,
      idCol: String,
      table: String,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, table, partitions)
    val twin = twinTable(table)
    requireNoRebuildWindow(spark, table, "forgetting")
    for (p <- ManifestStore.lastTxn(spark, twin, TxnApp)
         if !ManifestStore.lastTxn(spark, table, TxnApp).contains(p))
      throw new IllegalStateException(
        s"ClusterStore: $table has an unreplayed crashed append (fingerprint $p) — " +
          "replay that day's pairs to convergence before forgetting")
    val doomed = Dedup.materialize(ids.select(col(idCol).as("id")).distinct())
    if (doomed.head(1).isEmpty) return
    if (!ManifestStore.exists(spark, twin) || !ManifestStore.hasData(spark, twin))
      return // empty store: nothing to forget
    // the doomed ids' cluster labels — label ∪ prev_label so a crashed
    // FORGET's replay still finds main rows under pre-forget buckets
    val affected = Dedup.materialize(
      twinProbe(spark, table, doomed, partitions)
        .select(explode(array(col("label"), col("prev_label"))).as("label"))
        .distinct())
    if (affected.head(1).isEmpty) return // ids the store never held
    val labelLeafs = affected
      .select(bucket(col("label"), partitions).as("pt")).distinct()
      .collect().map(r => s"pt=${r.getLong(0)}").sorted
    val members = Dedup.materialize(
      ManifestStore.readPartitions(spark, table, labelLeafs.toSeq)
        .join(affected, Seq("label"))
        .select(col("id"), col("label")))
    val surv0 = members.join(doomed, Seq("id"), "left_anti")
    val relabel = surv0.groupBy(col("label")).agg(min(col("id")).as("nl"))
    val changed = Dedup.materialize(
      surv0.join(relabel, Seq("label"))
        .filter(col("nl") =!= col("label"))
        .select(col("id"), col("label").as("prev_label"), col("nl").as("label")))
    val mainRows = changed.select(col("id"), col("label"))
      .withColumn("pt", bucket(col("label"), partitions))
    if (!changed.head(1).isEmpty) {
      ManifestStore.merge(spark, twin,
        changed.select(col("id"), col("label"), col("prev_label"))
          .withColumn("ptid", bucket(col("id"), partitions)),
        Seq("id"), Seq("ptid"))
      ManifestStore.merge(spark, table, mainRows, Seq("id"), Seq("pt"))
    }
    // doomed rows die under every label bucket they might occupy; a
    // relabeled survivor's old copy dies here only when the main merge
    // didn't already rewrite its partition (merge anti-joins its OWN
    // keys, which never include the doomed ids)
    val newPts = mainRows.select(col("pt")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val doomedMain = members.join(doomed, Seq("id"), "left_semi")
      .select(col("id"), bucket(col("label"), partitions).as("pt"))
    val staleSurv = changed
      .select(col("id"), bucket(col("prev_label"), partitions).as("pt"))
      .filter(if (newPts.isEmpty) lit(true) else !col("pt").isin(newPts: _*))
    val dels = Dedup.materialize(doomedMain.unionByName(staleSurv).distinct())
    if (!dels.head(1).isEmpty)
      ManifestStore.delete(spark, table, dels, Seq("id", "pt"), Seq("pt"))
    ManifestStore.delete(spark, twin,
      doomed.withColumn("ptid", bucket(col("id"), partitions)),
      Seq("id"), Seq("ptid"))
  }

  /** REBUILD the label store from the pair-generating LSH index — the
    * CURE for the one exactness leak [[forget]] documents: forgets can
    * only over-group (survivors never split, and a survivor whose last
    * partner died lingers as a phantom singleton member), because the
    * store holds labels, not edges. The edges still exist — in
    * [[DedupStores]]' maintained minhash index, which every forget
    * keeps exact over survivors — so the repair recomputes components
    * from first principles: self-probe the index (banded candidate
    * pairs, exact-Jaccard verified at `threshold`), run the batch
    * component pass, and OVERWRITE both tables. After it, the store
    * equals [[build]] over the surviving corpus: split clusters split,
    * phantom singletons drop out.
    *
    * Geometry comes from the index's own sidecar (shingleN/bands/
    * rowsPerBand — a hand-passed mismatch would silently zero recall);
    * `threshold` is the caller's, the same one the daily probes use.
    *
    * 100 TB shape: this is the PERIODIC heavy job, deliberately
    * corpus-index-sized where the daily ops are increment-sized — one
    * banded self-join of the index (the same O(bands × docs) bucket
    * join [[Dedup.minhashPairs]] runs at build time), one component
    * pass, two partitioned overwrites. Run it on the erosion cadence
    * (N forgets, or a drift audit failing), not daily.
    *
    * Crash safety — the fence inverts [[appendPairs]]'s: the rebuild
    * reads NOTHING from this store, so it can run from ANY window (an
    * open append, a crashed forget, a crashed prior rebuild) and
    * closes them all — it is the universal repair. Its own window is
    * fenced: the twin overwrite records the source index's snapshot
    * version as STARTED, the main overwrite records it as COMPLETED,
    * and appends/forgets refuse while the two diverge (between the
    * overwrites the twin routes to buckets the main table never
    * wrote). A reader mid-window still sees a consistent (old) main
    * snapshot. Replaying a rebuild from the unchanged index rewrites
    * identical data — convergent at every crash position (spec-pinned).
    */
  def rebuildFromIndex(
      spark: SparkSession,
      idxTable: String,
      table: String,
      threshold: Double,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, table, partitions)
    val g = StoreSidecar.require(spark, idxTable, Seq("bands", "rowsPerBand"),
      "ClusterStore.rebuildFromIndex")
    val idxVersion = ManifestStore.versions(spark, idxTable).headOption
      .getOrElse(throw new java.io.FileNotFoundException(
        s"ClusterStore.rebuildFromIndex: no readable snapshot under $idxTable"))
      .toLong
    val idx = ManifestStore.read(spark, idxTable).drop("pt")
    // banded self-probe: minhashProbe keeps both directions and self
    // hits; identity on one side + '<' keeps each undirected pair once
    val pairs = Dedup.materialize(
      Dedup.minhashProbe(idx, idx, g("bands").toInt, g("rowsPerBand").toInt, threshold)
        .filter(col("inc_id") < col("hist_id"))
        .select(col("inc_id").as("id_a"), col("hist_id").as("id_b")))
    val labels = Dedup.materialize(Dedup.duplicateClusters(pairs))
    // twin first (started), main second (completed) — see the fence note
    ManifestStore.write(spark,
      labels.withColumn("prev_label", col("label"))
        .withColumn("ptid", bucket(col("id"), partitions)),
      twinTable(table), Seq("ptid"), txnRecord = Map(TxnRebuild -> idxVersion))
    ManifestStore.write(spark,
      labels.withColumn("pt", bucket(col("label"), partitions)),
      table, Seq("pt"), txnRecord = Map(TxnRebuild -> idxVersion))
  }

  /** The (id, label) table — the LATEST snapshot by default, or a
    * pinned `version` for snapshot-isolated reads. Version pinning is
    * the documented SAFE-READER pattern for the append's crash window:
    * an append is three commits (twin, main merge, stale delete), and
    * a live reader between the main merge and the delete sees a
    * relabeled id under BOTH labels. A reader that resolves
    * [[versions]] ONCE and pins it reads a consistent pre- or post-
    * append snapshot regardless of concurrent appends or crash
    * windows — manifest snapshots are immutable, so the pinned view
    * can never tear (the x101 time-travel machinery; retention is the
    * vacuum fence). Production readers that must never observe the
    * duplicate window pin; ad-hoc readers that tolerate it read live.
    */
  def readLabels(
      spark: SparkSession,
      table: String,
      version: Option[Int] = None): DataFrame =
    ManifestStore.read(spark, table, version).select(col("id"), col("label"))

  /** Readable snapshot versions of the label table, newest first —
    * what a safe reader pins (see [[readLabels]]).
    */
  def versions(spark: SparkSession, table: String): Seq[Int] =
    ManifestStore.versions(spark, table)
}
