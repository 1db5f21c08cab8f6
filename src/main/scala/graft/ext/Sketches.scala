package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (extension surface, SURVEY.md
  * §2.12). A 100 TB corpus question — "how many distinct n-grams /
  * URLs / users per group?" — cannot afford an exact `count(DISTINCT)`
  * shuffle of every distinct value to one reducer per group. The KMV
  * (k-minimum-values) sketch answers it with O(k) state per group:
  * keep the k smallest values of a uniform hash; the k-th smallest
  * order statistic estimates the distinct count as
  * `(k-1) / v_k` with `v_k` normalized to (0,1] (Bar-Yossef et al.
  * 2002; the estimator in public DataSketches docs).
  *
  * Unlike HLL, KMV with a fixed hash is fully deterministic AND
  * engine-portable — md5-hex order statistics compare identically as
  * strings in any engine, so a DuckDB oracle can replicate the sketch
  * bit-for-bit (the same trick [[Sampling]] uses for rank sampling).
  * The estimate is one IEEE division of exactly-represented integers —
  * bit-identical everywhere.
  *
  * Scale shape (mergeability is the whole point): stage 1 computes a
  * partial sketch per (group, salt) — `groupBy` with map-side combine,
  * bounded k-array state; stage 2 merges the `saltBuckets` partials
  * per group (union → distinct → k smallest), a shuffle of
  * O(groups × saltBuckets × k) hex strings, never of the data. This is
  * exactly how sketch libraries distribute: partial sketches up, one
  * merge down.
  */
object Sketches {

  /** Distinct-count KMV sketch of `valueCol` within each `groupCol`.
    * Returns one row per group: `n_vals` (number of hashes the sketch
    * retains, = min(k, distinct)), `kth_hash` (the k-th smallest
    * md5-hex, null when distinct < k) and `est_distinct` — the KMV
    * estimate when the sketch is full, else the exact retained count
    * (the sketch IS the distinct set when distinct < k).
    *
    * The 48-bit hash domain (first 12 md5 hex chars) keeps the
    * normalizing constant 2^48 exact in a double; collisions in 2^48
    * are immaterial at sketch precision (k=64 → ~12% RSE).
    */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 64,
      saltBuckets: Int = 8): DataFrame =
    kmvEstimate(kmvMins(df, groupCol, valueCol, k, saltBuckets), groupCol, k)

  /** The KMV sketch STATE per group: the sorted array of the (up to) k
    * smallest 12-hex md5 prefixes of `valueCol` — the mergeable partial
    * that [[kmvDistinct]] estimates from and [[kmvAppendDay]] persists.
    * Output: (`groupCol`, mins).
    */
  def kmvMins(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 64,
      saltBuckets: Int = 8): DataFrame = {
    require(k > 1 && saltBuckets > 0, s"kmvMins: k=$k, saltBuckets=$saltBuckets")
    val g = col(groupCol)
    val hx = substring(md5(col(valueCol).cast("string")), 1, 12)
    // stage 1: partial sketch per (group, salt) — collect_set is the
    // bounded-state partial aggregate; slice caps it at k post-sort
    val partial = df
      .select(g.as("g"), hx.as("hx"),
        pmod(xxhash64(col(valueCol)), lit(saltBuckets)).as("__salt"))
      .groupBy(col("g"), col("__salt"))
      .agg(slice(array_sort(collect_set(col("hx"))), 1, k).as("mins"))
    // stage 2: merge partials per group — union, dedupe, k smallest
    partial.groupBy(col("g"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))), 1, k)
        .as("mins"))
      .select(col("g").as(groupCol), col("mins"))
  }

  /** The estimator over a (group, mins) sketch-state table — shared by
    * the one-shot path and the maintained store's read.
    */
  private def kmvEstimate(mins: DataFrame, groupCol: String, k: Int): DataFrame =
    mins.select(
      col(groupCol),
      size(col("mins")).cast("long").as("n_vals"),
      when(size(col("mins")) === k, element_at(col("mins"), k)).as("kth_hash"),
      when(size(col("mins")) === k,
        lit((k - 1).toDouble) /
          (conv(element_at(col("mins"), k), 16, 10).cast("double") / lit(2.0d * (1L << 47))))
        .otherwise(size(col("mins")).cast("double"))
        .as("est_distinct"))

  /** Pairwise set algebra over KMV sketch STATES (Beyer et al. 2007,
    * "On Synopses for Distinct Value Estimation Under Multiset
    * Operations"): union size, Jaccard, and intersection size for every
    * group pair, estimated from the O(groups × k) `mins` table alone —
    * the cross-source overlap question ("how much n-gram vocabulary do
    * sources A and B share?") answered WITHOUT the exact distinct-pair
    * join, whose shuffle is corpus-sized at 100 TB. Takes the sketch
    * state (from [[kmvMins]] or [[kmvMinsFromStore]] — one pass over
    * the data, or none at all when the maintained store already holds
    * it), so the pair computation is data-size-independent.
    *
    * For a pair, `K = k` smallest of `distinct(minsA ∪ minsB)` is
    * exactly the KMV sketch of A ∪ B (each global union minimum is a
    * minimum of its own side), so the union estimate is [[kmvDistinct]]'s
    * estimator on K. Jaccard is estimated as the fraction of K present
    * in BOTH sides' sketches (each h ∈ K is a uniform sample of A ∪ B;
    * h ∈ minsA ∧ h ∈ minsB ⟺ h ∈ A ∩ B because membership below each
    * side's kth minimum is exact), and the intersection estimate is
    * their product. When `|K| < k` the pair's sketches ARE the distinct
    * sets and every output is exact. Fully deterministic (md5 order
    * statistics), so a DuckDB oracle replicates it bit-for-bit.
    *
    * Output per pair (groupA < groupB lexically): `n_union_sketch`,
    * `n_common`, `est_union`, `jaccard_est`, `est_intersection`
    * (rounded 6 dp — the one value computed as a product of two
    * estimator doubles).
    */
  def kmvOverlap(mins: DataFrame, groupCol: String, k: Int = 64): DataFrame = {
    require(k > 1, s"kmvOverlap: k=$k")
    val a = mins.select(col(groupCol).cast("string").as("group_a"),
      col("mins").as("__ma"))
    val b = mins.select(col(groupCol).cast("string").as("group_b"),
      col("mins").as("__mb"))
    // groups × k is routing-table-sized; the pair join broadcasts
    val u = slice(array_sort(array_distinct(concat(col("__ma"), col("__mb")))), 1, k)
    val common = size(array_intersect(array_intersect(col("__u"), col("__ma")), col("__mb")))
    val estU = when(size(col("__u")) === k,
      lit((k - 1).toDouble) /
        (conv(element_at(col("__u"), k), 16, 10).cast("double") / lit(2.0d * (1L << 47))))
      .otherwise(size(col("__u")).cast("double"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .withColumn("__u", u)
      .withColumn("__nc", common.cast("long"))
      .withColumn("__eu", estU)
      .withColumn("__j",
        col("__nc").cast("double") / size(col("__u")).cast("double"))
      .select(col("group_a"), col("group_b"),
        size(col("__u")).cast("long").as("n_union_sketch"),
        col("__nc").as("n_common"),
        col("__eu").as("est_union"),
        col("__j").as("jaccard_est"),
        round(col("__j") * col("__eu"), 6).as("est_intersection"))
  }

  /** Misra–Gries heavy hitters with EXACT verify — find every value with
    * count ≥ ceil(N / `minFractionDen`) exactly, without ever shuffling
    * the full (value, count) table. The x55-bloom pattern applied to
    * frequency: a bounded sketch produces a guaranteed-superset candidate
    * set, an exact pass over only those candidates makes the RESULT
    * exact.
    *
    * Phase 1 runs the classic Misra–Gries summary (1982; merge rule from
    * Agarwal et al. 2012, "Mergeable Summaries") as a `treeAggregate`:
    * O(m) state per partition, partials merged pairwise by summing
    * counts and subtracting the (m+1)-th largest when over capacity.
    * Any value with true count > N/(m+1) is guaranteed to survive, so
    * with `minFractionDen ≤ m` the ≤ m candidates are a superset of the
    * answer — `require`d, since silently losing the guarantee would
    * silently lose result rows. Phase 2 recounts ONLY the candidates
    * (broadcast literal filter → groupBy of the matching rows) and
    * applies the exact integer threshold. The candidate SET depends on
    * partitioning/order (MG is order-sensitive); the verified OUTPUT
    * does not.
    *
    * Output: (`valueCol`, cnt) for every value with cnt ≥
    * ceil(N / minFractionDen); N counts non-null values.
    */
  def heavyHitters(
      df: DataFrame,
      valueCol: String,
      m: Int = 256,
      minFractionDen: Long = 100L): DataFrame = {
    require(minFractionDen >= 1 && minFractionDen <= m,
      s"heavyHitters: minFractionDen=$minFractionDen must be in [1, m=$m] " +
        "or the sketch cannot guarantee candidate completeness")
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
    def insert(mp: scala.collection.mutable.Map[String, Long], x: String): Unit =
      if (mp.contains(x)) mp(x) += 1L
      else if (mp.size < m) mp(x) = 1L
      else { // decrement-all; amortized O(1): each call retires m+1 mass
        val dead = mp.iterator.flatMap { case (k, c) =>
          if (c == 1L) Some(k) else { mp(k) = c - 1L; None }
        }.toList
        dead.foreach(mp.remove)
      }
    def merge(
        a: scala.collection.mutable.Map[String, Long],
        b: scala.collection.mutable.Map[String, Long]) = {
      b.foreach { case (k, c) => a(k) = a.getOrElse(k, 0L) + c }
      if (a.size > m) {
        // subtract the (m+1)-th largest count, drop the non-positive
        val d = a.values.toArray.sorted(Ordering[Long].reverse).apply(m)
        val dead = a.iterator.flatMap { case (k, c) =>
          if (c - d <= 0L) Some(k) else { a(k) = c - d; None }
        }.toList
        dead.foreach(a.remove)
      }
      a
    }
    val zero = (scala.collection.mutable.Map.empty[String, Long], 0L)
    val (sketch, total) = items.as[String].rdd.treeAggregate(zero)(
      seqOp = { case ((mp, n), x) => insert(mp, x); (mp, n + 1L) },
      combOp = { case ((a, na), (b, nb)) => (merge(a, b), na + nb) })
    val minCount = (total + minFractionDen - 1L) / minFractionDen
    val cands = sketch.keys.toSeq
    if (cands.isEmpty)
      items.groupBy(col("v").as(valueCol)).agg(count(lit(1)).as("cnt")).limit(0)
    else
      items.filter(col("v").isin(cands: _*))
        .groupBy(col("v").as(valueCol))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
  }

  /** Count-min sketch (Cormode & Muthukrishnan) over a value stream, with
    * engine-portable md5-derived row hashes: cell_r(v) = 48-bit md5
    * prefix of "cm<r>_<v>" mod `width`. [[countMinCells]] builds the d×w
    * cell table; [[countMinEstimate]] probes it — est(v) = min_r
    * cell[r, hash_r(v)], an overestimate by construction (est ≥ true
    * count, the one-sided CM guarantee).
    *
    * 100 TB design: the sketch is O(d×w) cells regardless of stream
    * size — built in ONE map-side-combined groupBy (each input row
    * contributes d cell increments via a literal-array posexplode, so
    * the shuffle carries at most d×w partial cells per map task, not
    * rows). The cell table broadcasts; probes are a narrow broadcast
    * join. Exact LONG counts end to end — the estimate's determinism is
    * the hash's, not the partitioning's.
    */
  def countMinCells(df: DataFrame, valueCol: String, depth: Int, width: Int): DataFrame = {
    val rows = array((0 until depth).map(r => lit(r)): _*)
    df.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .select(explode(rows).as("r"), col("v"))
      .select(col("r"), cmCell(col("v"), col("r"), width).as("cell"))
      .groupBy(col("r"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[countMinCells]] from a PRE-AGGREGATED frequency table (`valueCol`,
    * `weightCol`) instead of the raw stream — bit-identical cells, but
    * the d-way hash expansion runs over O(distinct values) rows. When an
    * exact count table already exists (or the stream was already
    * collapsed by an upstream groupBy), this is the cheaper build; the
    * raw-stream overload remains the one-pass ingest path.
    */
  def countMinCellsWeighted(
      df: DataFrame,
      valueCol: String,
      weightCol: String,
      depth: Int,
      width: Int): DataFrame = {
    val rows = array((0 until depth).map(r => lit(r)): _*)
    df.select(col(valueCol).cast("string").as("v"), col(weightCol).as("__w"))
      .filter(col("v").isNotNull)
      .select(explode(rows).as("r"), col("v"), col("__w"))
      .select(col("r"), cmCell(col("v"), col("r"), width).as("cell"), col("__w"))
      .groupBy(col("r"), col("cell"))
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Probe the cell table for the DISTINCT probe rows: attaches `est`.
    * `cells` must come from [[countMinCells]] with the same depth/width.
    * Contract notes: duplicate probe rows collapse to one output row
    * (the estimate is a function of the row's values), and a probe with
    * a null `valueCol` is dropped (its hash is null — a null value was
    * never inserted, so it has no estimate). A value whose d cells are
    * not all present estimates from the present ones only (absent
    * cell = 0 would make est 0; such a value was never inserted —
    * callers probing inserted values always hit all d rows).
    */
  def countMinEstimate(
      cells: DataFrame,
      probes: DataFrame,
      valueCol: String,
      depth: Int,
      width: Int): DataFrame = {
    val rows = array((0 until depth).map(r => lit(r)): _*)
    val c2 = cells.select(col("r").as("__cr"), col("cell").as("__ccell"),
      col("cnt").as("__ccnt"))
    val keyed = probes
      .select(col("*"), explode(rows).as("__r"))
      .withColumn("__cell", cmCell(col(valueCol).cast("string"), col("__r"), width))
    keyed.join(broadcast(c2),
        col("__r") === col("__cr") && col("__cell") === col("__ccell"))
      .groupBy(probes.columns.map(keyed(_)): _*)
      .agg(min(col("__ccnt")).as("est"))
  }

  /** Join-size estimation from two count-min sketches (the AMS/CM inner
    * product): est = min_r Σ_cells cellA[r,c]·cellB[r,c] ≥ |A ⋈ B| =
    * Σ_k cA(k)·cB(k), one-sided like the point estimate — the planner
    * pre-flight that decides broadcast vs shuffle vs skew handling
    * BEFORE running a 100 TB join, from two O(d×w) sketches built in one
    * linear pass each. Both inputs must come from [[countMinCells]] with
    * identical depth/width. Output: one row (est_join_size).
    */
  def countMinJoinSize(cellsA: DataFrame, cellsB: DataFrame): DataFrame =
    cellsA.select(col("r"), col("cell"), col("cnt").as("__ca"))
      .join(cellsB.select(col("r"), col("cell"), col("cnt").as("__cb")),
        Seq("r", "cell"))
      .groupBy(col("r")).agg(sum(col("__ca") * col("__cb")).as("__er"))
      .agg(min(col("__er")).as("est_join_size"))

  private def cmCell(v: Column, r: Column, width: Int): Column =
    pmod(org.apache.spark.sql.graftfn.HashExpressions.md5Prefix48(
      concat(lit("cm"), r.cast("string"), lit("_"), v)), lit(width.toLong))

  /** Day-over-day MAINTAINED count-min store (the x88 data-card pattern
    * applied to the sketch): each day's cells land as day-keyed
    * SUBTOTALS in a ManifestStore table — the merge prunes to the day's
    * partition and is replay-idempotent (re-appending a day REPLACES its
    * subtotals, never double-counts). [[countMinCellsFromStore]] sums
    * across days at read time; because CM cells are mergeable by
    * addition, the maintained sketch is EXACTLY the batch sketch over
    * the full history. At scale the daily cost is one O(day) pass plus
    * ≤ d×w subtotal rows of commit I/O; history never recomputes.
    */
  def countMinAppendDay(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      valueCol: String,
      day: String,
      table: String,
      depth: Int,
      width: Int): Unit =
    DayCells.append(spark, table, day, CmTable -> countMinCells(df, valueCol, depth, width))

  private val CmTable = DayCells.Table("", Seq("r", "cell"), Seq("cnt"))

  /** EPOCH COMPACTION of a [[countMinAppendDay]] store — the plain-SUM
    * member of the fold matrix ([[graft.sources.ManifestStore.compactDays]]
    * verbatim): the named days' cell subtotals collapse into one
    * group-summed epoch row set per (r, cell), so the table holds
    * ≤ d×w rows however many days were ingested, and
    * [[countMinCellsFromStore]]'s read (its own sum is associative) is
    * BIT-IDENTICAL. CM cells add losslessly across any slicing — the
    * same algebra that makes the daily append exact makes the fold
    * exact. Replay-convergent: the fold recomputes the identical epoch
    * rows from whatever day subset still exists.
    */
  def countMinCompact(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      days: Seq[String],
      epochDay: String): Unit =
    DayCells.compact(spark, table, days, epochDay, CmTable)

  /** Right-to-be-forgotten over the count-min store — the x205/x243
    * negative-correction pattern reaching the first LINEAR sketch: CM
    * cells merge by ADDITION (each cell is an exact sum of per-row
    * contributions), so unlike HLL/KMV/MG — which genuinely cannot
    * subtract (the x143 caveat) — erasure here is exact subtraction.
    * The doomed rows' cells land as ONE NEGATIVE correction day, and
    * [[countMinCellsFromStore]]'s net-sum (restricted to positive
    * cells once the store is marked) yields cell-for-cell the sketch a
    * survivors-only build would hold: every estimate, join-size bound,
    * and min-over-rows is bit-identical. Re-issuing under the same tag
    * REPLACES its rows (day-keyed merge) — at-least-once converges;
    * doomed ⊆ ingested is the net-count ≥ 0 contract. Cost: one pass
    * over the DOOMED rows + ≤ d×w correction cells of commit I/O.
    * [[countMinCompact]] folds correction tags WITH days, destroying
    * the (day, correction) pair that could reconstruct the forgotten
    * counts (the x225 privacy pattern); the corrections marker stays
    * set for the store's lifetime because folded epochs retain the
    * zero-net cells the read filter must keep dropping.
    */
  def countMinForget(
      spark: org.apache.spark.sql.SparkSession,
      doomed: DataFrame,
      valueCol: String,
      tag: String,
      table: String,
      depth: Int,
      width: Int): Unit =
    DayCells.forget(spark, table, tag, doomed,
      CmTable -> countMinCells(doomed, valueCol, depth, width))

  /** The full-history cell table from a [[countMinAppendDay]] store.
    * Forget-marked stores (see [[countMinForget]]) drop zero-net cells —
    * a cell with no surviving contribution is ABSENT from a survivors-
    * only build, and presence-with-zero would turn the min-over-rows
    * estimate of a fully-forgotten value into 0 instead of the
    * sketch's honest collision floor. Forget-free stores skip the
    * filter (all counts positive — the common path stays cheap).
    */
  def countMinCellsFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    import graft.sources.ManifestStore
    val cells = ManifestStore.read(spark, table)
      .groupBy(col("r"), col("cell")).agg(sum(col("cnt")).as("cnt"))
    if (StoreSidecar.hasMarker(spark, table, "has_corrections"))
      cells.filter(col("cnt") > 0L)
    else cells
  }

  /** Fixed-width histogram cells (bucket = v div bucketWidth, exact
    * integer on non-negative values) — the MERGEABLE quantile synopsis:
    * cells add across any slicing of the data, so a maintained store of
    * day-keyed subtotals reads back as exactly the batch histogram.
    * Bucket count is O(domain / width); for unbounded or heavy-tailed
    * domains production uses geometric buckets (bucket = digit count or
    * floor(log2)) — same dataflow, different bucket expression. Null
    * values are excluded (the quantile ops' convention).
    */
  def histCells(df: DataFrame, valueCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"histCells: bucketWidth=$bucketWidth")
    df.filter(col(valueCol).isNotNull)
      .select(expr(s"`$valueCol` div ${bucketWidth}L").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Day-over-day maintained histogram store — [[countMinAppendDay]]'s
    * replay-idempotent day-keyed-subtotal pattern applied to the
    * histogram synopsis. Daily cost: one O(day) pass + O(buckets)
    * subtotal rows of commit I/O; history never recomputes.
    */
  def histAppendDay(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      valueCol: String,
      bucketWidth: Long,
      day: String,
      table: String): Unit =
    DayCells.append(spark, table, day, HistTable -> histCells(df, valueCol, bucketWidth))

  private val HistTable = DayCells.Table("", Seq("bucket"), Seq("cnt"))

  /** EPOCH COMPACTION of a [[histAppendDay]] store — plain-SUM fold per
    * bucket ([[countMinCompact]]'s algebra on the histogram synopsis):
    * the table holds O(buckets) rows however many days were ingested,
    * and [[histCellsFromStore]] (and every [[histQuantiles]] read over
    * it) is BIT-IDENTICAL before and after.
    */
  def histCompact(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      days: Seq[String],
      epochDay: String): Unit =
    DayCells.compact(spark, table, days, epochDay, HistTable)

  /** Right-to-be-forgotten over the histogram store — [[countMinForget]]'s
    * subtraction applied to the second linear sketch: bucket counts are
    * exact sums, so the doomed rows' buckets land as one negative
    * correction day and [[histCellsFromStore]]'s net-sum (positive
    * filter once marked) is bucket-for-bucket the survivors-only
    * histogram — every [[histQuantiles]] read is bit-identical to one
    * over a store that never saw the subject. Same tag-replay, doomed ⊆
    * ingested, and compaction-privacy contracts as [[countMinForget]].
    */
  def histForget(
      spark: org.apache.spark.sql.SparkSession,
      doomed: DataFrame,
      valueCol: String,
      bucketWidth: Long,
      tag: String,
      table: String): Unit =
    DayCells.forget(spark, table, tag, doomed,
      HistTable -> histCells(doomed, valueCol, bucketWidth))

  /** The full-history bucket table from a [[histAppendDay]] store.
    * Forget-marked stores drop zero-net buckets (see [[histForget]]):
    * an empty bucket is absent from a survivors-only [[histCells]], and
    * a zero-weight row would survive into [[histQuantiles]]'s cumsum as
    * a phantom bucket boundary. Forget-free stores skip the filter.
    */
  def histCellsFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    import graft.sources.ManifestStore
    val cells = ManifestStore.read(spark, table)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    if (StoreSidecar.hasMarker(spark, table, "has_corrections"))
      cells.filter(col("cnt") > 0L)
    else cells
  }

  /** Nearest-rank quantile ESTIMATES from histogram cells: for each q,
    * the bucket containing rank floor(q·(n−1))+1 (the exact-quantile
    * convention of [[graft.ext.Quantiles.groupQuantiles]] applied to the
    * synopsis) with its [lo, hi] value bounds — the true quantile is
    * inside the bucket by construction, so the bound width IS the
    * approximation error (= bucketWidth − 1). All work runs on the
    * O(buckets) cell table; the cumsum window is a single partition of
    * O(buckets) rows, which is the point of a synopsis.
    * Output: (q, bucket, lo, hi, cnt).
    */
  def histQuantiles(
      cells: DataFrame,
      bucketWidth: Long,
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("__cum", sum(col("cnt")).over(byBucket))
      .withColumn("__n", sum(col("cnt")).over(
        Window.orderBy(col("bucket")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bucket"), col("cnt"), col("__cum"), col("__n"),
        explode(array(qs.map(lit(_)): _*)).as("q"))
      .withColumn("__target", floor(col("q") * (col("__n") - 1)) + 1L)
      .filter(col("__target") > col("__cum") - col("cnt") &&
        col("__target") <= col("__cum"))
      .select(col("q"), col("bucket"),
        (col("bucket") * bucketWidth).as("lo"),
        (col("bucket") * bucketWidth + (bucketWidth - 1)).as("hi"),
        col("cnt"))
  }

  /** HyperLogLog register table (Flajolet et al. 2007) — the
    * constant-state distinct sketch next to [[kmvDistinct]]'s k-order-
    * statistics one: 2^p one-byte registers per group, period, however
    * many distinct values arrive. Portable by the same trick as every
    * sketch here: the hash is the 48-bit md5 prefix, the register index
    * its top p bits, and the rank rho = leading zeros of the remaining
    * (48−p)-bit field + 1 — computed as (48−p)+1 − bitlength via the
    * BINARY STRING of the field (`bin()`, identical in Spark and
    * DuckDB), never floating log2, whose 1-ulp wobble at exact powers
    * of two could cross the floor boundary between engines.
    *
    * Registers are mergeable by MAX — the [[countMinAppendDay]]
    * day-keyed-store pattern applies verbatim (max, not sum, at read).
    * Scale shape: one map-side-combined groupBy collapses the corpus to
    * ≤ groups × 2^p rows; nothing downstream sees data volume.
    */
  def hllRegisters(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 12, s"hllRegisters: p=$p (alpha formula needs m >= 128)")
    val suffix = 48 - p
    val h = org.apache.spark.sql.graftfn.HashExpressions
      .md5Prefix48(col(valueCol).cast("string"))
    val idx = shiftright(h, suffix)
    val w = h.bitwiseAND(lit((1L << suffix) - 1L))
    val rho = when(w === 0L, lit(suffix + 1))
      .otherwise(lit(suffix + 1) - length(bin(w)))
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), idx.as("idx"), rho.as("rho"))
      .groupBy(col("g"), col("idx"))
      .agg(max(col("rho")).as("rho"))
      .select(col("g").as(groupCol), col("idx"), col("rho"))
  }

  /** Distinct-count estimate from a [[hllRegisters]] table: raw
    * E = alpha_m · m² / (Σ_present 2^(−rho) + zeroRegisters), with the
    * standard small-range linear-counting correction E ≤ 2.5m ∧ V > 0 →
    * m·ln(m/V). Cross-engine determinism: every 2^(−rho) is an exact
    * binary fraction and the sum's exponent window (≤ 49 bits at p = 8)
    * fits a double mantissa, so Z is EXACT and order-free; alpha and
    * the division are pinned-order double expressions; the one ln goes
    * through a 4-dp round (the x107 convention for libm calls). Output:
    * (groupCol, n_registers, n_zero, hll_est).
    */
  def hllEstimate(
      registers: DataFrame,
      groupCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 12, s"hllEstimate: p=$p")
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val agg0 = registers.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_registers"),
        sum(pow(lit(2.0), -col("rho"))).as("__zsum"))
    val v = lit(m.toLong) - col("n_registers")
    val z = col("__zsum") + v.cast("double")
    val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) / z
    val est = when(raw <= lit(2.5 * m) && v > 0L,
        lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
    // fail loudly on a geometry mismatch (the minhashProbe convention):
    // a registers table built with a larger p holds up to 2^pBuilt rows
    // per group, and silently emitting negative n_zero / garbage
    // estimates is exactly the degradation the sidecar checks elsewhere
    // exist to prevent. assert_true returns null on success, so gating
    // the estimate on it keeps the check in the executed plan (a
    // dropped helper column would be pruned away).
    val guarded = when(
      assert_true(col("n_registers") <= lit(m.toLong),
        lit(s"hllEstimate: group holds more than 2^$p registers — " +
          "the registers table was built with a larger p")).isNull,
      round(est, 4))
    agg0.select(col(groupCol), col("n_registers"), v.as("n_zero"),
      guarded.as("hll_est"))
  }

  /** Day-over-day MAINTAINED HLL store — [[countMinAppendDay]]'s
    * pattern on the distinct sketch, closing the maintained family
    * across all four sketches (CM x114, histogram x123, HLL here, and
    * KMV via [[kmvAppendDay]], x148). Each day's
    * registers land as day-keyed rows; because registers merge by MAX
    * (not sum), re-appending a day REPLACES its rows and the read-time
    * max across days is EXACTLY the batch sketch over the union —
    * distinct counting is insensitive to how history was sliced.
    * Daily cost: one O(day) pass + ≤ groups × 2^p register rows of
    * commit I/O; history never recomputes.
    */
  def hllAppendDay(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      day: String,
      table: String,
      p: Int = 8): Unit =
    DayCells.append(spark, table, day,
      hllTable(groupCol) -> hllRegisters(df, groupCol, valueCol, p))

  private def hllTable(groupCol: String) =
    DayCells.Table("", Seq(groupCol, "idx"), sumCols = Nil, maxCols = Seq("rho"))

  /** EPOCH COMPACTION of an [[hllAppendDay]] store —
    * [[graft.sources.ManifestStore.compactDays]] with a MAX fold:
    * register rows of the named days collapse into one max-merged
    * epoch row set per (group, idx), so the store holds O(groups × 2^p)
    * rows however many days were ingested, and
    * [[hllRegistersFromStore]]'s read is BIT-IDENTICAL (its own
    * max-merge is associative and idempotent — a day folded twice, or a
    * fold replayed mid-crash, converges to the same registers). HLL has
    * no forget (sketches cannot subtract, stated at x143), so unlike
    * the moment store there is no erasure ledger here — compaction is
    * purely the metadata diet.
    */
  def hllCompact(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      groupCol: String,
      days: Seq[String],
      epochDay: String): Unit =
    DayCells.compact(spark, table, days, epochDay, hllTable(groupCol))

  /** The full-history register table from a [[hllAppendDay]] store —
    * max-merge across days, feeding [[hllEstimate]] unchanged.
    */
  def hllRegistersFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      groupCol: String): DataFrame = {
    import graft.sources.ManifestStore
    ManifestStore.read(spark, table)
      .groupBy(col(groupCol), col("idx")).agg(max(col("rho")).as("rho"))
  }

  /** Day-over-day MAINTAINED KMV store — the day-keyed pattern on the
    * k-minimum-values sketch, one row per (group, day) carrying that
    * day's mins array. KMV states merge by "union → distinct → k
    * smallest", and any of the GLOBAL k smallest hashes is necessarily
    * within its own day's k smallest, so the read-time merge across
    * days is EXACTLY the batch sketch over the union — bit-for-bit,
    * including the kth-hash order statistic the estimator divides by.
    * Re-appending a day REPLACES its row (day-partitioned keyed
    * merge), and since the merge operator is idempotent a replay
    * cannot corrupt the sketch even in principle. Daily cost: one
    * O(day) pass + O(groups) array rows of commit I/O; read-time merge
    * touches O(groups × days × k) hex strings, never the data.
    */
  def kmvAppendDay(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      day: String,
      table: String,
      k: Int = 64,
      saltBuckets: Int = 8): Unit = {
    import graft.sources.ManifestStore
    ManifestStore.requireDayTag("kmvAppendDay", day)
    // geometry sidecar (the MediaStore/BenchRegistry convention): the
    // build k is a STORE property, not a call argument — a later fold
    // or read at a different k would silently truncate the sketch (and
    // then report the truncated count as EXACT via the n_vals < k
    // path). The per-day arrays cannot carry the law themselves: days
    // with < k distinct values store narrow arrays, so "widest stored
    // array" under-reports the build k.
    StoreSidecar.requireOrInit(spark, table, Seq(
      "k" -> k.toLong, "saltBuckets" -> saltBuckets.toLong), "Sketches.kmv")
    val mins = kmvMins(df, groupCol, valueCol, k, saltBuckets)
      .withColumn("day", lit(day))
    ManifestStore.mergeOrCreate(spark, table, mins, Seq(groupCol, "day"), "day")
  }

  /** EPOCH COMPACTION of a [[kmvAppendDay]] store — the third fold
    * algebra after sums and maxes: per group, the doomed days' mins
    * arrays fold by UNION → DISTINCT → K SMALLEST into one epoch row.
    * Exact for every later read: an element of the global k-minimum
    * over all days has fewer than k hashes below it globally, hence
    * fewer than k within the folded days — so it survives the fold
    * (the same pigeonhole that makes [[kmvMinsFromStore]]'s read
    * exact). Idempotent (re-folding the epoch row reproduces it). `k`
    * must be the store's build k (the sidecar's): a smaller fold width
    * would DROP mins later reads still need. KMV has no forget (mins
    * cannot be un-seen, x148's documented limit) — purely the metadata
    * diet.
    */
  def kmvCompact(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      groupCol: String,
      days: Seq[String],
      epochDay: String,
      k: Int = 64): Unit = {
    import graft.sources.ManifestStore
    import spark.implicits._
    ManifestStore.requireEpochTag("kmvCompact", epochDay)
    require(days.nonEmpty && !days.contains(epochDay),
      "kmvCompact: days must be non-empty and not contain the epoch tag")
    StoreSidecar.requireMatching(spark, table, Seq("k" -> k.toLong), "kmvCompact")
    val doomedDays = (days :+ epochDay).distinct
    val cells = ManifestStore.read(spark, table)
      .filter(col("day").isin(doomedDays: _*))
    val epoch = cells.groupBy(col(groupCol))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))), 1, k)
        .as("mins"))
      .withColumn("day", lit(epochDay))
    ManifestStore.replaceWhere(spark, table, epoch, doomedDays.toDF("day"), Seq("day"))
  }

  /** The merged (group, mins) sketch state from a [[kmvAppendDay]]
    * store — union → distinct → k smallest across days.
    */
  def kmvMinsFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      groupCol: String,
      k: Int = 64): DataFrame = {
    import graft.sources.ManifestStore
    StoreSidecar.requireMatching(spark, table, Seq("k" -> k.toLong), "kmvMinsFromStore")
    ManifestStore.read(spark, table)
      .groupBy(col(groupCol))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))), 1, k)
        .as("mins"))
  }

  /** [[kmvDistinct]]'s exact output from the maintained store. */
  def kmvDistinctFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      groupCol: String,
      k: Int = 64): DataFrame =
    kmvEstimate(kmvMinsFromStore(spark, table, groupCol, k), groupCol, k)

  // ---- maintained heavy-hitter store (deterministic day summaries) ----

  /** Fold one day into the maintained heavy-hitter store: the day's
    * EXACT top-`m` value counts (two-stage salted top-k — no global
    * sort, no single-reducer window over the distinct table) plus a
    * one-row day stat `(n, kth)` where `kth` bounds what any value
    * ABSENT from the day's summary could have counted that day — the
    * day's m-th largest count, or 0 when every distinct value fit.
    *
    * Unlike the [[heavyHitters]] Misra–Gries pass (whose counter state
    * depends on partition iteration order and is therefore not
    * oracle-able as a STORED artifact), the per-day exact-top-m summary
    * is fully deterministic, so the maintained store round-trips
    * bit-for-bit through any engine. Merged reads use the classic
    * distributed top-k bound (Fagin's TA / TPUT): lower bound = the
    * sum of the days that reported the value, upper bound adds each
    * silent day's `kth`.
    *
    * 100 TB shape: the append is one day-sized map-side-combined count
    * + an O(distinct) top-k; the store holds O(days × m) rows; a
    * monitor read never rescans a day. Day replays REPLACE wholesale
    * (the merge key is the day itself).
    */
  def hhAppendDay(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      valueCol: String,
      day: String,
      table: String,
      m: Int = 256): Unit = {
    import graft.sources.ManifestStore
    val counts = Dedup.materialize(
      df.select(col(valueCol).cast("string").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("c")))
    // an all-null/empty day contributes nothing — and writing its stats
    // row without summary rows would trip the read's torn-window fence
    if (counts.head(1).isEmpty) return
    val top = Dedup.materialize(
      Sampling.scoredTopK(counts, "v", col("c"), m).drop("sel_rank"))
    val stats = counts.agg(
        coalesce(sum(col("c")), lit(0L)).as("n"),
        count(lit(1)).as("nd"))
      .crossJoin(top.agg(
        coalesce(min(col("c")), lit(0L)).as("mc"), count(lit(1)).as("nk")))
      .select(lit(day).as("day"), col("n"),
        when(col("nd") > col("nk"), col("mc")).otherwise(lit(0L)).as("kth"))
    // NON-COMPACTABLE, and loudly so: unlike every sum/max/k-min store,
    // the hh day summaries are NOT epoch-foldable — the TA/TPUT bound
    // pads each candidate by the kth of exactly the days SILENT on it,
    // and a fold forgets which days those were (a folded epoch would
    // either under-pad present-in-some-day values, risking false
    // negatives, or the bound law would need a widened per-value kth
    // ledger). A generic compactDays over these tables would silently
    // loosen every certified threshold — the sidecar tag makes it
    // refuse instead (see ManifestStore.compactDays).
    for (sub <- Seq("totals", "hh"))
      StoreSidecar.requireOrInit(spark, s"$table/$sub",
        Seq("no_epoch_fold" -> 1L), "Sketches.hh")
    // totals first, summary second; a crash between the two commits
    // leaves the day sets diverging, which hhFromStore REFUSES loudly
    // (the kth bound only holds for a committed summary) — replaying
    // the day converges, both merges being wholesale day replaces
    ManifestStore.mergeOrCreate(spark, s"$table/totals", stats, Seq("day"), "day")
    ManifestStore.mergeOrCreate(spark, s"$table/hh",
      top.withColumn("day", lit(day)), Seq("day"), "day")
  }

  /** RETENTION PRUNING of the heavy-hitter store — the alternative the
    * [[graft.sources.ManifestStore.compactDays]] refusal names: hh day
    * summaries cannot FOLD (the TA/TPUT bound needs to know which days
    * were silent per candidate), but days past the monitoring horizon
    * can be DROPPED outright — [[hhFromStore]]'s bounds over the
    * retained window are exactly the maintained answer for "heavy
    * hitters over the last N days", and the store stays O(retained
    * days × m) forever. Two keyed day-partition deletes (summaries
    * first, totals second); a crash between them leaves the day sets
    * diverging, which [[hhFromStore]]'s torn-window fence already
    * REFUSES loudly — replaying the prune converges (keyed deletes are
    * no-ops on absent days). `epoch:` days cannot exist here (the
    * store refuses folding wholesale), so any day name is prunable.
    */
  def hhPruneDays(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      days: Seq[String]): Unit = {
    import graft.sources.ManifestStore
    import spark.implicits._
    require(days.nonEmpty, "hhPruneDays: no days to prune")
    val doomed = days.toDF("day")
    ManifestStore.delete(spark, s"$table/hh", doomed, Seq("day"), Seq("day"))
    ManifestStore.delete(spark, s"$table/totals", doomed, Seq("day"), Seq("day"))
  }

  /** Right-to-be-forgotten for the heavy-hitter store — RE-SUMMARIZATION,
    * not subtraction: a top-m + kth day summary genuinely cannot net a
    * subject out (removing its counts changes WHICH values make the
    * day's top-m and what the day's kth bound is — information the
    * summary discarded), so the honest erasure path is the
    * re-append-from-the-scrubbed-corpus contract the retention story
    * (x241) and [[graft.ext.SampleStore.repairEpoch]] already use:
    * re-run [[hhAppendDay]] on the affected day's SURVIVING rows —
    * day replays REPLACE wholesale, so the replay leaves the day
    * bit-identical to one that never saw the subject — or, when the
    * subject WAS the whole day, drop the day outright ([[hhPruneDays]];
    * an empty re-append would silently leave the old summary standing).
    * Cost: O(affected days' surviving rows) — days the subject never
    * touched are never reread. Crash safety rides the existing fences:
    * a torn re-append or prune diverges the day sets, which
    * [[hhFromStore]] refuses loudly, and replaying this call converges
    * (both paths are wholesale day replaces / keyed deletes).
    */
  def hhForgetDay(
      spark: org.apache.spark.sql.SparkSession,
      scrubbed: DataFrame,
      valueCol: String,
      day: String,
      table: String,
      m: Int = 256): Unit = {
    val any = !scrubbed.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull).head(1).isEmpty
    if (any) hhAppendDay(spark, scrubbed, valueCol, day, table, m)
    else hhPruneDays(spark, table, Seq(day))
  }

  /** [[hhForgetDay]] over EVERY affected day in one pass — the r15 bench
    * diet for multi-day erasure requests (x217/x249 paid one
    * count+top-m+2-commit cycle per day; an erasure touching D days is
    * the common case, and D sequential cycles measured only commit
    * floors). `scrubbed` carries the surviving rows of ALL affected
    * days with their day tag in `dayCol`; `days` names the full
    * affected set — a named day with NO surviving rows takes the prune
    * path (the subject was the whole day; an empty re-append would
    * leave the old summary standing, see [[hhForgetDay]]).
    *
    * Bit-equal to the per-day loop: the per-day top-m is ranked by
    * (count DESC, value ASC) — [[graft.ext.Sampling.scoredTopK]]'s
    * exact ordering — and the day summaries/totals land via the same
    * wholesale day-keyed replaces, totals first then summaries (ONE
    * fence-ordered commit pair for all D days instead of D pairs; a
    * crash between the two still diverges the day sets, which
    * [[hhFromStore]] refuses, and a replay converges).
    */
  def hhForgetDays(
      spark: org.apache.spark.sql.SparkSession,
      scrubbed: DataFrame,
      valueCol: String,
      dayCol: String,
      days: Seq[String],
      table: String,
      m: Int = 256): Unit = {
    import graft.sources.ManifestStore
    import org.apache.spark.sql.expressions.Window
    require(days.nonEmpty, "hhForgetDays: no days to forget")
    val counts = Dedup.materialize(
      scrubbed.select(col(dayCol).cast("string").as("day"),
          col(valueCol).cast("string").as("v"))
        .filter(col("v").isNotNull && col("day").isin(days: _*))
        .groupBy(col("day"), col("v")).agg(count(lit(1)).as("c")))
    val present = counts.select(col("day")).distinct()
      .collect().map(_.getString(0)).toSet
    if (present.nonEmpty) {
      val byDay = Window.partitionBy(col("day"))
        .orderBy(col("c").desc, col("v"))
      val top = Dedup.materialize(
        counts.withColumn("__r", row_number().over(byDay))
          .filter(col("__r") <= m).drop("__r"))
      val stats = counts.groupBy(col("day"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n"), count(lit(1)).as("nd"))
        .join(top.groupBy(col("day"))
          .agg(coalesce(min(col("c")), lit(0L)).as("mc"), count(lit(1)).as("nk")),
          Seq("day"))
        .select(col("day"), col("n"),
          when(col("nd") > col("nk"), col("mc")).otherwise(lit(0L)).as("kth"))
      // same fence order as hhAppendDay: totals first, summaries second
      ManifestStore.mergeOrCreate(spark, s"$table/totals", stats, Seq("day"), "day")
      ManifestStore.mergeOrCreate(spark, s"$table/hh", top, Seq("day"), "day")
    }
    val toPrune = days.filterNot(present)
    if (toPrune.nonEmpty) hhPruneDays(spark, table, toPrune)
  }

  /** Heavy hitters above `N / minFractionDen` from the maintained store:
    * per candidate, `c_lo` (sum of reporting days) and `c_hi` (`c_lo` +
    * every silent day's `kth`), with `decided = c_lo >= threshold`. No
    * false negatives: any value with true count ≥ the threshold exceeds
    * it in `c_hi` too, PROVIDED the threshold is certifiable — a value
    * below every day's cutoff can total at most Σ kth, so thresholds
    * ≤ that invisible-mass bound are REFUSED loudly (increase m, or ask
    * a coarser question) instead of silently under-reporting.
    */
  def hhFromStore(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      minFractionDen: Long): DataFrame = {
    import graft.sources.ManifestStore
    require(minFractionDen >= 1L, s"hhFromStore: minFractionDen=$minFractionDen")
    val hh = ManifestStore.read(spark, s"$table/hh")
    val tot = ManifestStore.read(spark, s"$table/totals")
    // torn-window fence: a day in one table but not the other means an
    // append crashed between its two commits — the kth bound is only
    // sound over committed summaries, so refuse instead of silently
    // risking a false negative; replaying the day converges
    val hhDays = hh.select(col("day")).distinct().collect().map(_.getString(0)).toSet
    val totDays = tot.select(col("day")).distinct().collect().map(_.getString(0)).toSet
    require(hhDays == totDays,
      s"hhFromStore: day sets diverge (summaries ${hhDays.size}, totals " +
        s"${totDays.size}) — an append or prune crashed mid-window; replay " +
        s"it for ${(hhDays.diff(totDays) ++ totDays.diff(hhDays)).mkString(",")}")
    val agg = tot.agg(
      coalesce(sum(col("n")), lit(0L)),
      coalesce(sum(col("kth")), lit(0L))).head()
    val total = agg.getLong(0)
    val tailSum = agg.getLong(1)
    val minCount = (total + minFractionDen - 1L) / minFractionDen
    require(minCount > tailSum,
      s"hhFromStore: threshold N/$minFractionDen = $minCount is not " +
        s"certifiable — a value absent from every day summary could total " +
        s"$tailSum; increase m or raise the threshold")
    hh.join(tot.select(col("day"), col("kth")), Seq("day"))
      .groupBy(col("v"))
      .agg(sum(col("c")).as("c_lo"), sum(col("kth")).as("__kp"))
      .withColumn("c_hi", col("c_lo") + lit(tailSum) - col("__kp"))
      .filter(col("c_hi") >= minCount)
      .select(col("v"), col("c_lo"), col("c_hi"),
        (col("c_lo") >= minCount).as("decided"))
  }
}
