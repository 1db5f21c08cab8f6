package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for corpus construction (extension
  * surface, SURVEY.md §2.12). Reproducibility rule: sample membership is a
  * pure function of the data — md5 of the row key, never rand()/
  * TABLESAMPLE — so the same rows are selected on every engine, every run,
  * every partitioning. (The simple fraction-by-hash-bucket form is
  * [[TextAnalysis.md5Bucket]]; this file holds the per-stratum exact-k
  * form.)
  */
object Sampling {

  /** Temperature-weighted mixture sampling (alpha = 0.5): sources are
    * re-balanced toward sqrt-proportional shares — the standard scheme
    * for up-weighting low-resource sources in multilingual/multi-source
    * corpora (public mBERT/XLM-R recipe) — and each source is then
    * hash-sampled at the rate that hits its share of `targetTotal` in
    * expectation. Appends `sample_rate` to the kept rows.
    *
    * Determinism across engines is engineered, not hoped for: weights are
    * sqrt(n) QUANTIZED to integers (floor(sqrt(n)·1000) — sqrt and one
    * multiply are correctly-rounded IEEE ops, identical everywhere), the
    * weight total is an exact integer sum (order-independent), and each
    * rate is ONE division of two exact integers — so the md5-bucket
    * threshold compares the same double on every engine and the sampled
    * set is reproducible anywhere.
    *
    * Scale shape: the per-source rate table is a tiny aggregate
    * broadcast back onto the corpus — one narrow map over the data, no
    * shuffle of the corpus at all.
    */
  def temperatureMixture(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      targetTotal: Long): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n").cast("double")) * 1000d).cast("long"))
    val tot = counts.agg(sum(col("__w")).as("__tw"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("sample_rate", least(lit(1.0d),
        (lit(targetTotal) * col("__w")).cast("double") /
          (col("__tw") * col("__n")).cast("double")))
      .select(col(sourceCol), col("sample_rate"))
    df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("__bucket", TextAnalysis.md5Bucket(col(keyCol)))
      .filter(col("__bucket") < floor(col("sample_rate") * 65536d).cast("long"))
      .drop("__bucket")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-Res,
    * public 2006 algorithm): each row gets key = ln(u)/w for a uniform
    * u and weight w, and the k LARGEST keys are the sample — inclusion
    * probability proportional to weight, exact sample size, one pass.
    * The standard corpus move for "sample 1M docs, favoring high-quality
    * /longer ones, reproducibly".
    *
    * Determinism: u is exact — (h + 0.5) / 2^48 for the 48-bit integer h
    * parsed from the row key's md5; every step except ln() is an exact
    * IEEE op, and the ranking key is rounded to 6 dp (the [[x21]]-proven
    * convention) so a 1-ulp libm difference cannot reorder engines; ties
    * break on the row key.
    *
    * Scale shape: same two-stage salted top-k as [[stratifiedTopK]] —
    * local top-k per salt bucket (pigeonhole-exact), then a re-rank of
    * saltBuckets×k survivors; no global sort, no single-reducer stratum.
    */
  def weightedTopK(
      df: DataFrame,
      keyCol: String,
      weight: org.apache.spark.sql.Column,
      k: Int,
      saltBuckets: Int = 64): DataFrame =
    weightedTopKBy(df, keyCol, weight, Nil, k, saltBuckets)

  /** [[weightedTopK]] PER STRATUM (`byCols` — typically the language
    * column): each stratum draws its own k-row A-Res sample under the
    * same deterministic priorities. Same two-stage salted shape with
    * the stratum columns prepended to both windows — no stratum ever
    * funnels into one reducer before the pigeonhole cut.
    */
  def weightedTopKBy(
      df: DataFrame,
      keyCol: String,
      weight: org.apache.spark.sql.Column,
      byCols: Seq[String],
      k: Int,
      saltBuckets: Int = 64): DataFrame = {
    require(k > 0 && saltBuckets > 0, s"weightedTopK: k=$k, saltBuckets=$saltBuckets")
    val h = org.apache.spark.sql.graftfn.HashExpressions.md5Prefix48(col(keyCol).cast("string")).cast("double")
    val u = (h + lit(0.5d)) / lit(2.0d * (1L << 47))
    val esKey = round(log(u) / greatest(weight.cast("double"), lit(1.0d)), 6)
    val salted = df
      .withColumn("__es", esKey)
      .withColumn("__salt", pmod(xxhash64(col(keyCol)), lit(saltBuckets)))
    val local = Window.partitionBy((byCols :+ "__salt").map(col): _*)
      .orderBy(col("__es").desc, col(keyCol))
    val global = Window.partitionBy(byCols.map(col): _*)
      .orderBy(col("__es").desc, col(keyCol))
    salted
      .withColumn("__r1", row_number().over(local)).filter(col("__r1") <= k)
      .withColumn("sample_rank", row_number().over(global).cast("long"))
      .filter(col("sample_rank") <= k)
      .withColumn("es_key", col("__es"))
      .drop("__salt", "__r1", "__es")
  }

  /** Training-mixture recipe plan — the step BEFORE sampling: given a
    * token budget, compute each source's allocation, sampling rate, and
    * epoch count (repeat factor) under temperature-weighted balancing
    * (α = 0.5, the multilingual-LM convention [[temperatureMixture]]
    * samples by). Where that op samples ROWS, this one emits the PLAN
    * table (the "data recipe" of Pile/Dolma-style corpus reports):
    * sources whose allocation exceeds their inventory get epochs > 1
    * (upsampling by repetition), the rest are downsampled.
    *
    * All arithmetic is exact-integer (quantized sqrt weights, integer
    * allocation floor-division) except `sample_rate`, one division of two
    * exact longs — bit-identical on any engine. The budget×weight product
    * runs in DECIMAL(38,0): at production scale (budget ~1e12 tokens,
    * quantized weights ~1e9+) the LONG product overflows silently in
    * non-ANSI Spark, so the 38-digit decimal keeps the floor-division
    * exact for any realistic magnitude. One groupBy of the corpus on
    * source; the output is O(sources) rows.
    */
  def mixturePlan(
      df: DataFrame,
      sourceCol: String,
      costCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"mixturePlan: budget=$budget")
    val counts = df.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(coalesce(col(costCol), lit(0L)).cast("long")).as("n_toks"))
      .withColumn("__w", floor(sqrt(col("n_toks").cast("double")) * 1000d).cast("long"))
    val tot = counts.agg(sum(col("__w")).as("__tw"))
    counts.crossJoin(broadcast(tot))
      .withColumn("alloc_toks",
        expr(s"CAST($budget AS DECIMAL(38,0)) * __w div __tw"))
      .withColumn("epochs",
        when(col("n_toks") === 0L, lit(0L))
          .otherwise(expr("(alloc_toks + n_toks - 1) div n_toks")))
      .withColumn("sample_rate",
        when(col("n_toks") === 0L, lit(0.0d))
          .otherwise(round(col("alloc_toks").cast("double") / col("n_toks").cast("double"), 6)))
      .select(col(sourceCol), col("n_docs"), col("n_toks"),
        col("alloc_toks"), col("epochs"), col("sample_rate"))
  }

  /** Exact global top-k by an arbitrary score (desc, keyCol tie-break)
    * WITHOUT a global sort: local top-k inside each of `saltBuckets` hash
    * partitions prunes to ≤ saltBuckets·k rows, then one tiny-task window
    * ranks the survivors (pigeonhole: every global top-k row is a local
    * top-k row in its salt bucket). Output adds `sel_rank` in 1..k.
    */
  def scoredTopK(
      df: DataFrame,
      keyCol: String,
      score: org.apache.spark.sql.Column,
      k: Int,
      saltBuckets: Int = 64): DataFrame = {
    require(k > 0 && saltBuckets > 0, s"scoredTopK: k=$k, saltBuckets=$saltBuckets")
    val salted = df
      .withColumn("__sc", score)
      .withColumn("__salt", pmod(xxhash64(col(keyCol)), lit(saltBuckets)))
    val local = Window.partitionBy(col("__salt"))
      .orderBy(col("__sc").desc, col(keyCol))
    val global = Window.orderBy(col("__sc").desc, col(keyCol))
    salted
      .withColumn("__r1", row_number().over(local)).filter(col("__r1") <= k)
      .withColumn("sel_rank", row_number().over(global).cast("long"))
      .filter(col("sel_rank") <= k)
      .drop("__salt", "__r1", "__sc")
  }

  /** Stratified top-k sample: the k rows with the smallest md5 rank within
    * each stratum — exact per-stratum allocation (balanced corpora, eval
    * holdouts), unlike fraction sampling whose per-stratum counts drift.
    * Appends `sample_rank` (1..k within stratum). Ties broken by the key
    * itself, so the result is total-order deterministic.
    *
    * Scale shape: a single `row_number` window would shuffle EVERY row of
    * a stratum into one reducer task — with 5 languages at 100 TB that is
    * 5 tasks holding 20 TB each. Instead a two-stage top-k (same trick as
    * the ANN reducer funnel, Similarity.scala): stage 1 takes the local
    * top-k within (stratum, salt) — `salt` splits each stratum into
    * `saltBuckets` deterministic sub-streams — stage 2 re-ranks only the
    * saltBuckets×k survivors per stratum. Pigeonhole-exact: any global
    * top-k row has ≤ k-1 better-ranked rows in its OWN salt bucket, so
    * stage 1 can never drop it.
    */
  def stratifiedTopK(
      df: DataFrame,
      strata: Seq[String],
      keyCol: String,
      k: Int,
      saltBuckets: Int = 64): DataFrame = {
    require(k > 0 && saltBuckets > 0, s"stratifiedTopK: k=$k, saltBuckets=$saltBuckets")
    // md5-hex rank: portable (any engine compares the same hex strings
    // lexicographically), uniform, and independent of the salt hash
    val rank = md5(col(keyCol).cast("string"))
    val salted = df.withColumn("__salt", pmod(xxhash64(col(keyCol)), lit(saltBuckets)))
    val local = Window.partitionBy((strata :+ "__salt").map(col): _*)
      .orderBy(rank, col(keyCol))
    val global = Window.partitionBy(strata.map(col): _*).orderBy(rank, col(keyCol))
    salted
      .withColumn("__r1", row_number().over(local)).filter(col("__r1") <= k)
      .withColumn("sample_rank", row_number().over(global).cast("long"))
      .filter(col("sample_rank") <= k)
      .drop("__salt", "__r1")
  }

  /** Temporal train/embargo/test split for time-ordered data — the
    * forecasting-eval hygiene move ([[hashSplit]] is the i.i.d. twin,
    * x131's cluster split the near-dup twin): rows before the train
    * cutoff train, rows after the embargo-window end test, and the
    * window between is DROPPED so short-horizon leakage (a session, a
    * trend, an autocorrelated feature straddling the boundary) cannot
    * cross it — the purged/embargoed split of de Prado (2018) §7.
    * Cutoffs sit at integer percentiles of the observed [min, max]
    * time RANGE (exact LONG arithmetic: mn + (mx−mn)·pct div 100), so
    * the split is a pure function of the data. Adds a `split` column
    * ('train' | 'embargo' | 'test'); null timestamps get null split.
    *
    * 100 TB design: the bounds are ONE 1-row aggregate broadcast back
    * (the justified 1-row cross join); the assignment is a narrow
    * expression — no shuffle, no sort.
    */
  def embargoSplit(
      df: DataFrame,
      tsCol: String,
      trainPct: Int,
      embargoPct: Int): DataFrame = {
    require(trainPct > 0 && embargoPct >= 0 && trainPct + embargoPct < 100,
      s"embargoSplit: trainPct=$trainPct embargoPct=$embargoPct")
    val bounds = df.agg(min(col(tsCol)).as("__mn"), max(col(tsCol)).as("__mx"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__t1",
        col("__mn") + expr(s"((__mx - __mn) * $trainPct) div 100"))
      .withColumn("__t2",
        col("__mn") + expr(s"((__mx - __mn) * ${trainPct + embargoPct}) div 100"))
      .withColumn("split",
        when(col(tsCol).isNull, lit(null).cast("string"))
          .when(col(tsCol) < col("__t1"), lit("train"))
          .when(col(tsCol) < col("__t2"), lit("embargo"))
          .otherwise(lit("test")))
      .drop("__mn", "__mx", "__t1", "__t2")
  }

  /** Deterministic train/val/test (or any) split by md5 hash bucket —
    * a narrow expression per row, no shuffle, stable under reruns and
    * corpus growth (a doc's split never changes when other docs arrive,
    * unlike rank- or random-based splits). `bounds` are (label,
    * exclusiveUpperBucket) pairs over [[TextAnalysis.md5Bucket]]'s
    * 16-bit space, ascending; ids at or past the last bound get
    * `default`. E.g. Seq(("train", 52429), ("val", 58982)) + "test" ≈
    * 80/10/10. Adds a `split` column.
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      bounds: Seq[(String, Int)],
      default: String): DataFrame = {
    require(bounds.nonEmpty && bounds.map(_._2) == bounds.map(_._2).sorted,
      s"hashSplit bounds must be ascending: $bounds")
    val b = TextAnalysis.md5Bucket(col(idCol))
    val label = bounds.foldRight(lit(default): Column) {
      case ((name, hi), acc) => when(b < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Curriculum phase assignment WITHOUT a global sort: phase(row) =
    * floor(phases · strictlyBetter / N), where strictlyBetter counts rows
    * with a strictly HIGHER `scoreCol` (ties always share a phase —
    * equal-score rows are indistinguishable, so splitting them would be
    * arbitrary; phases are therefore equal-sized only up to tie mass,
    * unlike ntile).
    *
    * 100 TB design: a global ntile/row_number is the anti-pattern (one
    * reducer sees every row). Here the ONLY row-sized work is the
    * map-side-combined score-distribution groupBy; the cumulative counts
    * live on the O(distinct scores) distribution (tiny window), and the
    * assignment joins back via broadcast. Adds a `phase` column.
    */
  def curriculumPhases(
      df: DataFrame,
      scoreCol: String,
      phases: Int): DataFrame =
    phasesCore(df, Nil, scoreCol, phases)

  /** Shared phase-assignment core for [[curriculumPhases]] (no groups —
    * ONE global distribution whose only windows run over O(distinct
    * scores) rows) and [[groupedPhases]] (per-group windows). Null
    * scores are unrankable: they are excluded from the distribution (so
    * they cannot skew every real row's phase) and come back with
    * phase = null via the LEFT join — row-preserving either way.
    */
  private def phasesCore(
      df: DataFrame,
      byCols: Seq[String],
      scoreCol: String,
      phases: Int): DataFrame = {
    require(phases >= 1, s"phases=$phases")
    val by = byCols.map(col)
    val dist = df.filter(col(scoreCol).isNotNull)
      .groupBy(by :+ col(scoreCol).as("__s"): _*).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(by: _*).orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wg = Window.partitionBy(by: _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val gsel = byCols.zipWithIndex.map { case (c, i) => col(c).as(s"__g$i") }
    val cum = dist
      .withColumn("__cum", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wg))
      .select(gsel :+ col("__s") :+ expr(s"($phases * __cum) div __n").as("phase"): _*)
    val cond = byCols.zipWithIndex
      .map { case (c, i) => df(c) <=> col(s"__g$i") }
      .foldRight(col(scoreCol) === col("__s"))(_ && _)
    df.join(broadcast(cum), cond, "left")
      .drop(byCols.indices.map(i => s"__g$i") :+ "__s": _*)
  }

  /** [[curriculumPhases]] with the phase boundaries computed PER GROUP
    * (`byCols` — a language column, say): phase = floor(phases ·
    * strictlyBetterInGroup / nGroup), so every group gets its own
    * head/middle/tail cut regardless of how its score distribution sits
    * against the others' — the CCNet per-language bucketing move (Wenzek
    * et al. 2020). Phase 0 is the BEST bucket (highest scores).
    *
    * 100 TB design: the corpus collapses to the O(Σ_g distinct scores)
    * per-group distribution in one map-side-combined groupBy; the only
    * windows run over that distribution partitioned by group (no global
    * sort, no single reducer), and the assignment join broadcasts the
    * distribution. Null scores are excluded from the distribution and
    * come back with phase = null (row-preserving), as in
    * [[curriculumPhases]].
    */
  def groupedPhases(
      df: DataFrame,
      byCols: Seq[String],
      scoreCol: String,
      phases: Int): DataFrame = {
    require(byCols.nonEmpty, "groupedPhases: use curriculumPhases for no groups")
    phasesCore(df, byCols, scoreCol, phases)
  }

  /** One cycle of iterative proportional fitting (raking; Deming &
    * Stephan 1940) over a two-way contingency of `rowCol` × `colCol`
    * cell counts, toward UNIFORM marginals — the mixture-balancing move
    * when two attributes (source × language, say) must BOTH hit target
    * shares and per-cell reweighting has to reconcile them. Returns one
    * row per occupied cell: (rowCol, colCol, n, w9) with `w9` the raked
    * weight in 1e-9 fixed point after a row pass then a column pass.
    *
    * Cross-engine determinism: cell counts, marginal sums and the raked
    * intermediate are exact LONGs (the intermediate is ROUNDED to 1e-9
    * fixed point before the column pass, so both engines sum identical
    * integers); each pass applies one double factor with pinned
    * operation order.
    *
    * 100 TB design: the corpus collapses to O(cells) in one map-side-
    * combined groupBy; every subsequent table (marginals, totals) is
    * cell-bounded and broadcast. Further IPF cycles would repeat the two
    * cell-local passes — nothing row-sized ever recomputes.
    */
  def ipfWeights(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = graft.ext.Dedup.materialize(
      df.groupBy(col(rowCol), col(colCol)).agg(count(lit(1)).as("n")))
    val tot = cells.agg(sum(col("n")).as("__N"),
      count_distinct(col(rowCol)).as("__nr"),
      count_distinct(col(colCol)).as("__nc"))
    val rs = cells.groupBy(col(rowCol)).agg(sum(col("n")).as("__rs"))
    // row pass: w1 = n · (N/nr) / rowsum, rounded to 1e-9 LONG
    val w1 = cells.join(broadcast(rs), Seq(rowCol)).crossJoin(broadcast(tot))
      .withColumn("__w1",
        round(col("n").cast("double") *
          ((col("__N").cast("double") / col("__nr").cast("double")) /
            col("__rs").cast("double")) * lit(1e9d), 0).cast("long"))
    val cs = w1.groupBy(col(colCol)).agg(sum(col("__w1")).as("__cs"))
    // column pass: w2 = w1 · (N/nc)·1e9 / colsum1_9
    w1.join(broadcast(cs), Seq(colCol))
      .withColumn("w9",
        round(col("__w1").cast("double") *
          ((col("__N").cast("double") / col("__nc").cast("double")) *
            lit(1e9d) / col("__cs").cast("double")), 0).cast("long"))
      .select(col(rowCol), col(colCol), col("n"), col("w9"))
  }
}
