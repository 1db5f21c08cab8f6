package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding post-processing: "all-but-the-top" (Mu & Viswanath 2018,
  * ICLR) — subtract the corpus mean and remove the dominant principal
  * direction(s), the standard fix for the anisotropy that makes raw
  * embedding cosines cluster near 1 and degrades retrieval. The
  * spectral primitive is a POWER ITERATION for the top eigenvector of
  * the centered Gram matrix, run entirely in the engine's
  * exact-integer portability discipline (the x85 PageRank playbook):
  *
  *  - inputs quantize once to 1e-6 fixed point and shift by +1e6 so
  *    every value is non-negative (a constant shift is invisible to
  *    centering); the per-position mean is one integral `div` on
  *    non-negative operands (floor == truncate — the x85 rule), so the
  *    centered table `c` is exact integers on any engine;
  *  - each iteration is two bounded passes over `c`: `s_id = Σ_j c·x_j`
  *    (x is a BROADCAST LITERAL array — no join), normalize s to
  *    ±2·SCALE by the DIVIDE-FIRST rule `sign(s)·(|s| div
  *    max(max|s| div SCALE, 1))` (abs keeps the divs on non-negative
  *    operands; dividing before any multiply means normalization can
  *    never overflow, whatever the corpus size), then `y_pos = Σ_id
  *    c·s'` (one join on id + one shuffle on pos) and the same
  *    normalization driver-side on the O(dim) collected y — the only
  *    driver state, dim longs;
  *  - the dominant-direction projection `proj_id = Σ_j c_j · x_j` is an
  *    exact integer — a DuckDB oracle replays the whole pipeline
  *    bit-for-bit (x197).
  *
  * Long-capacity bound: |c| ≤ 1.2e6 and |s'| ≤ 2·SCALE, so the only
  * corpus-sized accumulator, y = Σ_id c·s', is exact to ~3.8e8 vectors
  * at the default SCALE=1e4 (every other step is corpus-size-
  * independent); past that, widen that one sum to DECIMAL(38,0)
  * (exact in both engines) — the iteration shape is unchanged.
  * Convergence needs the
  * usual spectral-gap caveat; 3–4 rounds suffice when one direction
  * dominates (the anisotropy case this op exists for), and the
  * planted-direction law is specced in EmbedPostSpec.
  *
  * [[removeTop]] is the production form: double arithmetic, corrected
  * embedding ⊥ the removed direction (machine-epsilon dot products,
  * specced) — downstream cosines don't need cross-engine bit equality,
  * the projection AUDIT (x197) does.
  */
object EmbedPost {

  private val Quant = 1000000L // 1e-6 fixed point
  private val Shift = 1000000L // makes every quantized value >= 0

  /** Exact-integer centered table (id, pos, c): quantize, shift
    * non-negative, subtract the integral-div per-position mean.
    */
  def centered(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int): DataFrame = {
    val e = df
      .select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
    require(dim > 0, s"EmbedPost.centered: dim=$dim")
    val q = e.select(col("id"), col("pos"),
      (round(col("v") * lit(Quant.toDouble), 0).cast("long") + lit(Shift)).as("vq"))
    val mu = q.groupBy(col("pos"))
      .agg(sum(col("vq")).as("__sv"), count(lit(1)).as("__n"))
      .select(col("pos"), expr("__sv div __n").as("__mu"))
    q.join(broadcast(mu), Seq("pos"))
      .select(col("id"), col("pos"), (col("vq") - col("__mu")).as("c"))
  }

  /** `iters` power-iteration rounds over a [[centered]] table; returns
    * the integer direction vector (length `dim`, components in
    * [-scale, scale], max-|component| = scale). Deterministic: every
    * step is exact integer arithmetic with the div-on-non-negatives
    * rule; the O(dim) collected y is the only driver-side state.
    */
  def topDirection(
      spark: SparkSession,
      cent: DataFrame,
      dim: Int,
      iters: Int = 3,
      scale: Long = 10000L): Array[Long] =
    iterate(Dedup.materialize(cent), dim, iters, scale)

  /** The iteration on an ALREADY-materialized centered table — shared
    * by [[topDirection]] and the callers that reuse the same
    * materialization for their own final pass ([[dominantProjection]],
    * [[removeTop]]) so the corpus-sized table checkpoints once.
    */
  private def iterate(
      c: DataFrame,
      dim: Int,
      iters: Int,
      scale: Long): Array[Long] = {
    require(iters > 0 && scale > 0, s"EmbedPost.topDirection: iters=$iters, scale=$scale")
    var x = Array.fill(dim)(scale)
    (0 until iters).foreach { _ =>
      val xc = typedlit(x.toSeq)
      val s = c.groupBy(col("id"))
        .agg(sum(col("c") * element_at(xc, col("pos") + 1)).as("s"))
      val ms = s.agg(greatest(expr(s"max(abs(s)) div ${scale}L"), lit(1L)).as("m"))
      val sn = s.crossJoin(broadcast(ms))
        .select(col("id"),
          (signum(col("s")).cast("long") * expr("abs(s) div m")).as("sn"))
      val y = c.join(sn, Seq("id"))
        .groupBy(col("pos")).agg(sum(col("c") * col("sn")).as("y"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val my = math.max(1L,
        (0 until dim).map(p => math.abs(y.getOrElse(p, 0L))).max / scale)
      x = (0 until dim).map { p =>
        val v = y.getOrElse(p, 0L)
        math.signum(v) * (math.abs(v) / my)
      }.toArray
    }
    x
  }

  /** The x197 audit: per-id exact-integer projection onto the
    * dominant direction — the magnitude all-but-the-top removes,
    * and the embedding-artifact outlier score (ids with extreme
    * |proj| are the common-direction-dominated rows).
    * Output: (idCol, proj). One pass over the centered table.
    */
  def dominantProjection(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      iters: Int = 3): DataFrame = {
    val c = Dedup.materialize(centered(df, idCol, vecCol, dim))
    val x = iterate(c, dim, iters, 10000L)
    c.groupBy(col("id"))
      .agg(sum(col("c") * element_at(typedlit(x.toSeq), col("pos") + 1)).as("proj"))
      .select(col("id").as(idCol), col("proj"))
  }

  /** Day-over-day MAINTAINED EMBEDDING-MOMENT STORE — the spectral
    * family joins the store matrix (CM x114, histogram x123, HLL x143,
    * KMV x148, sample x195): per-day EXACT quantized first moments
    * (pos, Σvq, n) and second moments (i ≤ j, Σ vq_i·vq_j), day-keyed
    * and replay-replacing. Raw moments are mergeable by plain SUM (the
    * centered Gram is derived at read: G = Σvv − μ·svᵀ − sv·μᵀ + n·μμᵀ
    * with the integral-div μ — EXACTLY Σ c·cᵀ for [[centered]]'s c, so
    * the store read is bit-identical to batch moments however history
    * was sliced). The read is CORPUS-FREE: O(dim²) rows feed a dense
    * power iteration, so "this month's dominant direction" never
    * rescans the embeddings.
    *
    * Daily cost: one pass fanning each row to dim(dim+1)/2 products
    * (map-side combined to O(dim²) cells — no join, no id shuffle) +
    * O(dim²) commit I/O. Long capacity: |Σvv| ≤ 2.6e12·n_rows — exact
    * to ~3.6e6 rows per day (and per store total at read); widen the
    * two sums to DECIMAL(38,0) past that (the iteration is unchanged).
    */
  def momentsAppendDay(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      dim: Int,
      day: String,
      table: String): Unit = {
    // refused before the emptiness probe, so an epoch-tagged empty day
    // still fails: a day replay under an epoch tag would REPLACE the
    // folded subtotals
    graft.sources.ManifestStore.requireDayTag("momentsAppendDay", day)
    // an empty day contributes zero to every moment — appending it
    // would only initialize/extend the store with no-partition commits
    // (a stream's empty micro-batch must not poison the table)
    if (df.isEmpty) return
    val (m1, m2) = batchMoments(df, vecCol, dim)
    DayCells.append(spark, table, day, M1 -> m1, M2 -> m2)
  }

  private val M1 = DayCells.Table("m1", Seq("pos"), Seq("sv", "n"))
  private val M2 = DayCells.Table("m2", Seq("i", "j"), Seq("svv"))

  /** Right-to-be-forgotten over the moment store (the x171 forget
    * matrix reaches the spectral family): moments are EXACT sums, so
    * erasure is SUBTRACTION — the doomed vectors' contributions land
    * as ONE NEGATIVE correction day (the ViewStore x181 pattern), and
    * the read-time SUM then yields exactly the surviving corpus's
    * moments, bit-for-bit (specced). Re-issuing the forget under the
    * same tag REPLACES its rows (day-keyed merge), so at-least-once
    * delivery of an erasure feed converges; distinct requests need
    * distinct tags. Cost: one pass over the DOOMED rows only +
    * O(dim²) commit I/O — never touches history. The store is marked
    * `has_corrections` like every day store; the moment read sums
    * everything and never consults the marker.
    */
  def momentsForget(
      spark: SparkSession,
      doomed: DataFrame,
      vecCol: String,
      dim: Int,
      tag: String,
      table: String): Unit = {
    val (m1, m2) = batchMoments(doomed, vecCol, dim)
    DayCells.forget(spark, table, tag, doomed, M1 -> m1, M2 -> m2)
  }

  /** EPOCH COMPACTION of the moment store — [[ManifestStore.compactDays]]
    * over both moment tables: the named days' (and forget tags') rows
    * fold into one `epochDay` subtotal set per table. Reads are
    * bit-identical (exact LONG sums, summed unordered by every reader),
    * and NO fence is needed, unlike IndexStore.compactStats: nothing in
    * this store references day names (forgets append fresh tags, reads
    * sum everything), so each table's fold is independently atomic and
    * a partial crash (m1 folded, m2 not) changes no read.
    *
    * Fold the forget TAGS deliberately: a (day row, negative correction
    * row) pair reconstructs the forgotten subject's aggregate
    * contribution by subtraction — compaction destroys that erasure
    * ledger, leaving only survivors' totals (the privacy completion of
    * x205's forget). Retention contract as everywhere: a folded day or
    * tag must never be re-delivered ('epoch:' is refused on both
    * append paths).
    */
  def momentsCompact(
      spark: SparkSession,
      table: String,
      daysAndTags: Seq[String],
      epochDay: String): Unit =
    DayCells.compact(spark, table, daysAndTags, epochDay, M1, M2)

  /** Batch moments over a frame — the law [[momentsAppendDay]] stores
    * must merge to, bit-for-bit (specced): ((pos, sv, n), (i, j, svv)).
    */
  private[graft] def batchMoments(
      df: DataFrame, vecCol: String, dim: Int): (DataFrame, DataFrame) = {
    // one quantizing projection PER table, not a shared one: the store
    // commits m1 and m2 concurrently, and a transform's lambda variable
    // holds its current element in the expression instance itself. Over
    // a local input the optimizer evaluates that projection on the
    // driver, once per plan, so two plans sharing one instance race on
    // it and corrupt each other's sums.
    def q = df.select(
      expr(s"transform(CAST($vecCol AS ARRAY<DOUBLE>), " +
        s"v -> CAST(round(v * ${Quant}L) AS BIGINT) + ${Shift}L)").as("vq"))
    val m1 = q.select(posexplode(col("vq")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val m2 = q
      .select(posexplode(col("vq")).as(Seq("i", "vi")), col("vq"))
      .select(col("i"), col("vi"),
        posexplode(expr(s"slice(vq, i + 1, $dim - i)")).as(Seq("dj", "vj")))
      .groupBy(col("i"), (col("i") + col("dj")).as("j"))
      .agg(sum(col("vi") * col("vj")).as("svv"))
    (m1, m2)
  }

  /** Dominant direction from a [[momentsAppendDay]] store — the
    * corpus-free read. Day moments SUM into totals (exact), the
    * centered Gram derives via the integral-div mean, the matrix
    * pre-shrinks by `g div greatest(max|g| div 2^15, 1)` (truncating
    * div — identical in Spark, DuckDB, and JVM longs — keeping every
    * later product long-safe independent of corpus size), and `iters`
    * dense power rounds with the [[topDirection]] normalization run on
    * the O(dim²) collected matrix — driver state dim² longs, the same
    * O(routing-metadata) budget as the nprobe histogram. Returns the
    * integer direction (max |component| = scale).
    */
  def directionFromMoments(
      spark: SparkSession,
      table: String,
      dim: Int,
      iters: Int = 3,
      scale: Long = 10000L): Array[Long] = {
    import graft.sources.ManifestStore
    val m1 = ManifestStore.read(spark, s"$table/m1")
      .groupBy(col("pos")).agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val m2 = ManifestStore.read(spark, s"$table/m2")
      .groupBy(col("i"), col("j")).agg(sum(col("svv")).as("svv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val n = m1.values.headOption.map(_._2).getOrElse(0L)
    require(n > 0, s"directionFromMoments: empty store $table")
    val sv = (0 until dim).map(p => m1.getOrElse(p, (0L, n))._1).toArray
    val mu = sv.map(_ / n) // truncating div on non-negatives == floor
    def gAt(i: Int, j: Int): Long = {
      val svv = m2.getOrElse((math.min(i, j), math.max(i, j)), 0L)
      svv - mu(i) * sv(j) - mu(j) * sv(i) + n * mu(i) * mu(j)
    }
    val mg = (0 until dim).flatMap(i => (0 until dim).map(j => math.abs(gAt(i, j)))).max
    val d = math.max(mg / 32768L, 1L)
    val g = Array.tabulate(dim, dim)((i, j) => gAt(i, j) / d)
    var x = Array.fill(dim)(scale)
    (0 until iters).foreach { _ =>
      val y = Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * x(j)).sum)
      val my = math.max(1L, y.map(math.abs).max / scale)
      x = y.map(v => math.signum(v) * (math.abs(v) / my))
    }
    x
  }

  /** Score NEW vectors against a maintained moment store — the serving
    * pass of the spectral pipeline (train on history via
    * [[momentsAppendDay]], score arrivals with no training-side corpus
    * rescan): each row's EXACT-INTEGER projection onto the store's
    * dominant direction, centered at the STORE's integral-div mean —
    * `p = Σ_j (vq_j − μ_j)·x_j`. One narrow pass over the scored rows
    * (μ and x ride as broadcast literals — no join); magnitudes bound
    * at |vq−μ|·2·SCALE·dim ≈ 1.5e12 per row, long-exact always.
    * Output: (idCol, proj).
    */
  def projectFromStore(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      iters: Int = 3): DataFrame = {
    import graft.sources.ManifestStore
    val x = directionFromMoments(spark, table, dim, iters)
    val m1 = ManifestStore.read(spark, s"$table/m1")
      .groupBy(col("pos")).agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val mu = (0 until dim).map { p =>
      val (sv, n) = m1.getOrElse(p, (0L, 1L)); sv / math.max(n, 1L)
    }
    val muC = typedlit(mu)
    val xC = typedlit(x.toSeq)
    df.select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .select(col("id"),
        ((round(col("v") * lit(Quant.toDouble), 0).cast("long") + lit(Shift)
          - element_at(muC, col("pos") + 1)) *
          element_at(xC, col("pos") + 1)).as("t"))
      .groupBy(col("id")).agg(sum(col("t")).as("proj"))
      .select(col("id").as(idCol), col("proj"))
  }

  /** Production all-but-the-top: mean-center (double arithmetic) and
    * remove the [[topDirection]] component — `e' = c − (c·u / u·u) u`.
    * Output: (idCol, corrected ARRAY<DOUBLE>). The corrected rows are
    * orthogonal to the removed direction to machine epsilon (specced);
    * cross-engine bit-equality is the audit's job, not this one's.
    */
  def removeTop(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      iters: Int = 3): DataFrame = {
    val cent = Dedup.materialize(centered(df, idCol, vecCol, dim))
    val u = iterate(cent, dim, iters, 10000L).map(_.toDouble)
    val uu = u.map(v => v * v).sum
    val uc = typedlit(u.toSeq)
    val c = cent.withColumn("cd", col("c").cast("double") / lit(Quant.toDouble))
    val proj = c.groupBy(col("id"))
      .agg((sum(col("cd") * element_at(uc, col("pos") + 1)) / lit(uu)).as("__p"))
    c.join(proj, Seq("id"))
      .select(col("id"), col("pos"),
        (col("cd") - col("__p") * element_at(uc, col("pos") + 1)).as("e"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("e")))).as("__es"))
      .select(col("id").as(idCol),
        expr("transform(__es, s -> s.e)").as("corrected"))
  }
}
