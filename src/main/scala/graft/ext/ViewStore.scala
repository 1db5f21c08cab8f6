package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** Incrementally maintained JOIN VIEW — the materialized-view member of
  * the maintained-store family (sketch stores keep aggregates fresh;
  * this keeps a JOIN fresh): `view = A ⋈ B` on a join key, with both
  * base tables persisted alongside it, and each ingest cycle folding
  * the day's increments in via the textbook delta rule
  *
  *   ΔV = (ΔA ⋈ B_new) ∪ ((A_new ∖ ΔA) ⋈ ΔB)
  *
  * — which equals `A_new ⋈ B_new ∖ A_old ⋈ B_old` for append-days, with
  * the ΔA ⋈ ΔB cross term counted exactly once. A row's join partners
  * that arrive on a LATER day still pair up: the later delta joins the
  * persisted base, not the day.
  *
  * 100 TB shape: all three tables partition by the JOIN KEY's hash
  * bucket, so each delta term reads only the OTHER base's buckets the
  * day's keys land in ([[ManifestStore.readPartitions]]), each merge
  * rewrites only touched buckets, and the view read is free — the join
  * was paid incrementally at ingest, never as a full recompute. Per
  * cycle: O(Δ + matched base partitions), independent of history size.
  *
  * Ingest contract (the maintained-store convention): increments are
  * NEW rows or at-least-once REPLAYS of identical rows — keyed merges
  * replace, so replays converge; the view's invariant `view == A ⋈ B`
  * survives any crash position because a replay recomputes its delta
  * against the CURRENT bases (a late replay may regenerate rows that
  * already exist — they merge onto themselves). Re-keying a row to a
  * DIFFERENT join key is not a supported operation (the old view rows
  * would need a targeted delete — that is a rebuild, as with every
  * store in this family).
  *
  * Aside from the join key, the two sides' column names must be
  * DISJOINT (required loudly): the view carries both sides' columns
  * verbatim, so a silent collision would drop one side's values.
  */
object ViewStore {

  private def aT(root: String) = s"$root/a"
  private def bT(root: String) = s"$root/b"
  private def vT(root: String) = s"$root/view"

  private def bucket(c: org.apache.spark.sql.Column, partitions: Int) =
    pmod(xxhash64(c.cast("string")), lit(partitions.toLong))

  /** A bucket mismatch breaks every pruned read and merge. */
  private def requireGeometry(spark: SparkSession, root: String, partitions: Int): Unit =
    StoreSidecar.requireOrInit(spark, root, Seq("partitions" -> partitions.toLong), "ViewStore")

  /** Fold one day's increments of both sides into the bases and the
    * view. Either delta may be empty (a B-only day maintains the view
    * too). `jk` must be a column of both deltas; `aKeys`/`bKeys` are
    * the sides' row identities (the view row's key is their
    * concatenation).
    */
  def appendDay(
      spark: SparkSession,
      root: String,
      deltaA: DataFrame,
      deltaB: DataFrame,
      jk: String,
      aKeys: Seq[String],
      bKeys: Seq[String],
      partitions: Int = 8): Unit =
    deltaView(spark, root, deltaA, deltaB, jk, aKeys, bKeys, partitions)
      .foreach { keyed =>
        ManifestStore.mergeOrCreate(spark, vT(root), keyed,
          (aKeys ++ bKeys).distinct, "__jpt")
      }

  /** Merge the day's increments into the bases and return the
    * materialized, `__jpt`-keyed view delta (None when empty) — the
    * shared first half of [[appendDay]] and [[appendDayAgg]].
    */
  private def deltaView(
      spark: SparkSession,
      root: String,
      deltaA: DataFrame,
      deltaB: DataFrame,
      jk: String,
      aKeys: Seq[String],
      bKeys: Seq[String],
      partitions: Int): Option[DataFrame] = {
    requireGeometry(spark, root, partitions)
    val aCols = deltaA.columns.toSet - jk
    val bCols = deltaB.columns.toSet - jk
    require((aCols & bCols).isEmpty,
      s"ViewStore: column collision ${(aCols & bCols).mkString(",")} — " +
        "the view carries both sides verbatim; rename before ingest")
    val dA = Dedup.materialize(deltaA.withColumn("__jpt", bucket(col(jk), partitions)))
    val dB = Dedup.materialize(deltaB.withColumn("__jpt", bucket(col(jk), partitions)))
    val hasA = !dA.head(1).isEmpty
    val hasB = !dB.head(1).isEmpty
    if (!hasA && !hasB) return None
    // base merges first: the delta terms below join the POST-merge
    // bases, so a crash before the view merge replays into the same
    // delta (keyed replaces make every re-run converge). The two bases
    // are DISJOINT tables with no commit-order contract between them
    // (the pinned fence is bases-before-view, which the fan-out keeps;
    // an a-committed/b-lost crash replays exactly like the sequential
    // version's) — so their commits fan out (Par.all, guide §2.6).
    (hasA, hasB) match {
      case (true, true) => Par.all(
        () => ManifestStore.mergeOrCreate(spark, aT(root), dA, aKeys, "__jpt"),
        () => ManifestStore.mergeOrCreate(spark, bT(root), dB, bKeys, "__jpt"))
      case (true, false) => ManifestStore.mergeOrCreate(spark, aT(root), dA, aKeys, "__jpt")
      case (false, true) => ManifestStore.mergeOrCreate(spark, bT(root), dB, bKeys, "__jpt")
      case _ => ()
    }
    def leafsOf(d: DataFrame): Seq[String] = d
      .select(col("__jpt")).distinct()
      .collect().map(r => s"__jpt=${r.getLong(0)}").sorted.toSeq
    val dV1 =
      if (!hasA || !ManifestStore.exists(spark, bT(root))) None
      else Some(dA.drop("__jpt").join(
        ManifestStore.readPartitions(spark, bT(root), leafsOf(dA))
          .drop("__jpt"), Seq(jk)))
    val dV2 =
      if (!hasB || !ManifestStore.exists(spark, aT(root))) None
      else {
        val aSurvivors = ManifestStore.readPartitions(spark, aT(root), leafsOf(dB))
          .drop("__jpt")
          .join(dA.select(aKeys.map(col): _*), aKeys, "left_anti")
        Some(aSurvivors.join(dB.drop("__jpt"), Seq(jk)))
      }
    val dV = (dV1, dV2) match {
      case (Some(x), Some(y)) => Some(x.unionByName(y))
      case (Some(x), None) => Some(x)
      case (None, Some(y)) => Some(y)
      case _ => None
    }
    dV.map(d => Dedup.materialize(
        d.withColumn("__jpt", bucket(col(jk), partitions))))
      .filter(d => !d.head(1).isEmpty)
  }

  /** The maintained view — free at read time; the join was paid at
    * ingest.
    */
  def readView(spark: SparkSession, root: String): DataFrame =
    ManifestStore.read(spark, vT(root)).drop("__jpt")

  private def aggT(root: String) = s"$root/aggview"

  /** [[appendDay]] PLUS a maintained AGGREGATE view over the join —
    * day-keyed (count, Σ sumCols) subtotals per `groupCols`, so the
    * rollup's storage is O(days × groups) and its read an O(days ×
    * groups) re-sum, while the 100 TB join itself never materializes
    * for the consumer (the row view stays maintained too: it is the
    * exactness mechanism below, and the forget/rebuild surface).
    *
    * The replay hazard named honestly and closed: a LATE replay's
    * delta, recomputed against today's bases, regenerates cross-day
    * pairs the view already holds — row-keyed merges absorb those, but
    * a day-keyed SUBTOTAL would count them twice. So the day's
    * aggregate counts only `trueNew` = ΔV ∖ current view rows (a keyed
    * anti-join pruned to ΔV's buckets), committed BEFORE the view
    * merge: a crash between the two replays into the SAME trueNew
    * (view unchanged), and a replay after completion finds trueNew
    * empty and leaves the day's committed subtotal untouched.
    */
  def appendDayAgg(
      spark: SparkSession,
      root: String,
      deltaA: DataFrame,
      deltaB: DataFrame,
      jk: String,
      aKeys: Seq[String],
      bKeys: Seq[String],
      day: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      partitions: Int = 8): Unit = {
    // the epoch namespace is reserved for [[compactAgg]]
    ManifestStore.requireDayTag("ViewStore.appendDayAgg", day)
    // forget fence: a crashed forgetA (correction committed, base-A
    // delete not) must be replayed before new days append — an append
    // pairing still-present doomed rows would be double-corrected by
    // the replay's recomputed correction
    requireNoOpenForget(spark, root, "appending")
    deltaView(spark, root, deltaA, deltaB, jk, aKeys, bKeys, partitions)
      .foreach { keyed =>
        val viewKeys = (aKeys ++ bKeys).distinct
        val trueNew =
          if (!ManifestStore.exists(spark, vT(root))) keyed
          else {
            val leafs = keyed.select(col("__jpt")).distinct()
              .collect().map(r => s"__jpt=${r.getLong(0)}").sorted.toSeq
            keyed.join(
              ManifestStore.readPartitions(spark, vT(root), leafs)
                .select(viewKeys.map(col): _*),
              viewKeys, "left_anti")
          }
        val sub = Dedup.materialize(
          trueNew.groupBy(groupCols.map(col): _*)
            .agg(count(lit(1)).as("cnt"),
              sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
            .withColumn("day", lit(day)))
        // agg first, view second (see scaladoc); an all-replayed day
        // has no new rows and must not wipe its committed subtotal
        if (!sub.head(1).isEmpty)
          ManifestStore.mergeOrCreate(spark, aggT(root), sub, Seq("day"), "day")
        ManifestStore.mergeOrCreate(spark, vT(root), keyed, viewKeys, "__jpt")
      }
  }

  /** The maintained aggregate view: subtotals re-summed per group —
    * O(days × groups) rows read, the join never rescanned. Groups
    * whose net count reaches zero (every contributing pair forgotten)
    * drop out, matching a recompute over the surviving join.
    */
  def readAgg(
      spark: SparkSession,
      root: String,
      groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    ManifestStore.read(spark, aggT(root))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
      .filter(col("cnt") > 0L)

  /** The forget-vs-append fence key: the correction commit records the
    * last STARTED forget on the agg table, the base-A delete (the
    * window's final commit) the last COMPLETED one — diverging exactly
    * while a forget crash window is open, when [[appendDayAgg]] must
    * not interleave (its new pairs for still-present doomed base rows
    * would be double-corrected by the replay's recomputed correction).
    */
  private val ForgetTxn = "graft.view.forget"

  /** Refuse while a forgetA crash window is open (correction committed
    * on the agg table, base-A delete not) — shared by [[appendDayAgg]]
    * and [[compactAgg]], which must both wait for the replay: an append
    * would double-correct (see [[appendDayAgg]]), and a fold that
    * consumed the committed `__forget_<seq>` correction day would be
    * RE-merged by the replay's recomputed correction under that same
    * day key, double-subtracting the doomed mass.
    */
  private def requireNoOpenForget(
      spark: SparkSession, root: String, verb: String): Unit =
    if (ManifestStore.exists(spark, aggT(root)) && ManifestStore.exists(spark, aT(root)))
      for (s <- ManifestStore.lastTxn(spark, aggT(root), ForgetTxn)
           if !ManifestStore.lastTxn(spark, aT(root), ForgetTxn).exists(_ >= s))
        throw new IllegalStateException(
          s"ViewStore: $root has an unreplayed crashed forget (seq $s) — " +
            s"replay it to convergence before $verb")

  /** EPOCH COMPACTION of the maintained aggregate view's day subtotals
    * — the metadata diet for a rollup maintained over years of daily
    * ingest, INCLUDING the `__forget_<seq>` correction days: both
    * positive day subtotals and negative corrections are plain exact
    * sums, so they fold together and [[readAgg]]'s re-sum is
    * BIT-IDENTICAL — groups whose mass was fully forgotten net to a
    * cnt = 0 epoch row that readAgg's `cnt > 0` filter still drops,
    * exactly as it dropped the (day, correction) pair. Folding a
    * correction day DESTROYS the (subtotal, correction) pair that
    * could reconstruct a forgotten subject's contribution — the x205/
    * moments-store privacy completion, inherited from
    * [[graft.sources.ManifestStore.compactDays]]'s contract. Refused
    * while a forget crash window is open (see
    * [[requireNoOpenForget]]); a COMMITTED correction (closed window)
    * folds safely because replays of closed forgets find no doomed
    * view rows and leave the agg table untouched.
    */
  def compactAgg(
      spark: SparkSession,
      root: String,
      days: Seq[String],
      epochDay: String,
      groupCols: Seq[String],
      sumCols: Seq[String]): Unit = {
    ManifestStore.requireEpochTag("ViewStore.compactAgg", epochDay)
    requireNoOpenForget(spark, root, "compacting")
    ManifestStore.compactDays(spark, aggT(root), "day",
      groupCols = groupCols,
      sumCols = "cnt" +: sumCols.map(c => s"sum_$c"),
      foldDays = days, epochDay = epochDay)
  }

  /** Right-to-be-forgotten over the maintained views — the view member
    * of the forget matrix (x157/x171/x172/x173): remove doomed A-side
    * rows from the base, every view row they produced, and their mass
    * from the aggregate subtotals. The request carries the doomed rows
    * (keys + join key, read from the lakehouse before its own delete —
    * the [[IndexStore.forget]] contract), so every step prunes to
    * their join-key buckets.
    *
    * The aggregate correction is a NEGATIVE subtotal under a
    * per-request day key (`__forget_<seq>`): day-keyed wholesale
    * replace makes replays idempotent, and `readAgg`'s re-sum nets it
    * against the positive days — no historical subtotal is rewritten,
    * the x88 merge-only discipline. Commit order, every window
    * converging on replay (spec-pinned): (1) correction — computed
    * from the view rows BEFORE they die; (2) view delete; (3) base-A
    * delete last (it closes the fence). A replay after (2) finds no
    * doomed view rows and leaves the committed correction untouched
    * (the appendDayAgg trueNew logic, mirrored). `groupCols`/`sumCols`
    * must be the ones `appendDayAgg` maintains; pass Nil for a
    * row-view-only store.
    */
  def forgetA(
      spark: SparkSession,
      root: String,
      doomedA: DataFrame,
      jk: String,
      aKeys: Seq[String],
      forgetSeq: Long,
      groupCols: Seq[String] = Nil,
      sumCols: Seq[String] = Nil,
      partitions: Int = 8): Unit = {
    requireGeometry(spark, root, partitions)
    val doomed = Dedup.materialize(
      doomedA.select((aKeys :+ jk).distinct.map(col): _*).distinct()
        .withColumn("__jpt", bucket(col(jk), partitions)))
    if (doomed.head(1).isEmpty) return
    val hasAgg = ManifestStore.exists(spark, aggT(root))
    val hasView = ManifestStore.exists(spark, vT(root))
    if (hasAgg) {
      require(groupCols.nonEmpty,
        s"ViewStore: $root maintains an aggregate view — forgetA needs " +
          "the groupCols/sumCols appendDayAgg uses, or the subtotals go stale")
      val leafs = doomed.select(col("__jpt")).distinct()
        .collect().map(r => s"__jpt=${r.getLong(0)}").sorted.toSeq
      val doomedRows = ManifestStore.readPartitions(spark, vT(root), leafs)
        .join(doomed.select(aKeys.map(col): _*).distinct(), aKeys, "left_semi")
      val corr = Dedup.materialize(
        doomedRows.groupBy(groupCols.map(col): _*)
          .agg((-count(lit(1))).as("cnt"),
            sumCols.map(c => (-sum(col(c))).as(s"sum_$c")): _*)
          .withColumn("day", lit(s"__forget_$forgetSeq")))
      if (!corr.head(1).isEmpty)
        ManifestStore.merge(spark, aggT(root), corr, Seq("day"), Seq("day"),
          txnRecord = Map(ForgetTxn -> forgetSeq))
    }
    if (hasView)
      ManifestStore.delete(spark, vT(root), doomed, aKeys, Seq("__jpt"))
    if (ManifestStore.exists(spark, aT(root)))
      ManifestStore.delete(spark, aT(root), doomed, aKeys, Seq("__jpt"),
        txnRecord = Map(ForgetTxn -> forgetSeq))
  }
}
