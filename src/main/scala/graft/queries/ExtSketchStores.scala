package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, Chunking, DataCard, Dedup, Dsir, Events, Graph, LangModel, MediaStore, Multimodal, Pq, Privacy, Profiling, Quantiles, Redaction, Retrieval, SampleStore, Sampling, Scd2, Sharding, Similarity, Sketches, TextAnalysis}
import graft.streaming.Replay

/** x101-x137: time travel, sketch stores (CM/hist), PQ ANN, expectations, streaming stores.
  * Mechanical slice of the former single-object ExtQueries (r14);
  * see ExtQueries.scala for the shared determinism conventions.
  */
private[graft] trait ExtSketchStores extends ExtCorpusStats {
  import CoreQueries.t
  // --- x101: lakehouse time travel ---------------------------------------
  // write (v1) -> upsert rewrite (v2) -> insert batch (v3), then read
  // EVERY version via ManifestStore.read(version = Some(v)) and summarize
  // each snapshot — the gate proves old snapshots stay bit-stable after
  // later commits (the audit/reproducibility contract of the table
  // format). The oracle rebuilds each snapshot's summary from the inputs.
  def x101TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    val root = FreshTables.next(spark, dir, "timetravel")
    val base = t(spark, dir, "documents")
      .select(col("doc_id"), col("source").as("pt"), col("n_chars"))
    ManifestStore.write(spark, base, root, "pt")
    ManifestStore.merge(spark, root,
      base.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L),
      Seq("doc_id"), "pt")
    ManifestStore.merge(spark, root,
      base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("pt"), col("n_chars")),
      Seq("doc_id"), "pt")
    ManifestStore.versions(spark, root).sorted.map { v =>
      ManifestStore.read(spark, root, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_chars"))
    }.reduce(_.unionByName(_))
  }

  val x101Sql: String =
    """WITH b AS (SELECT doc_id, n_chars FROM documents),
       b2 AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
         FROM b),
       b3 AS (SELECT * FROM b2
         UNION ALL SELECT doc_id + 10000, n_chars FROM b WHERE doc_id % 5 = 0)
       SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM b
       UNION ALL
       SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT) FROM b2
       UNION ALL
       SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT) FROM b3"""

  // --- x102: n-gram containment pairs ------------------------------------
  // The quote/subsumption detector: asymmetric containment over the same
  // 4-gram inverted index as x05 — a short doc fully copied into a long
  // one scores containment ~1 where Jaccard stays low.
  def x102ContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(spark, dir, "documents"), "doc_id", "text",
      shingleN = 4, threshold = 0.8, maxPostingLen = 1000000L)

  val x102Sql: String =
    s"""WITH ${jaccardCtes(4)}
       SELECT id_a, id_b,
         CAST(i AS DOUBLE) / CAST(na.n AS DOUBLE) AS cont_a_in_b,
         CAST(i AS DOUBLE) / CAST(nb.n AS DOUBLE) AS cont_b_in_a
       FROM inter JOIN sizes na ON na.doc_id = id_a
       JOIN sizes nb ON nb.doc_id = id_b
       WHERE greatest(CAST(i AS DOUBLE) / CAST(na.n AS DOUBLE),
                      CAST(i AS DOUBLE) / CAST(nb.n AS DOUBLE)) >= 0.8"""

  // --- x103: triangle census of the near-dup graph -----------------------
  // Degree-ordered-orientation triangle count + global clustering
  // coefficient over x04's MinHash pair graph; the oracle counts
  // triangles by the id-canonical 3-way join (orientation changes the
  // bound, never the count).
  def x103TriangleStats(spark: SparkSession, dir: String): DataFrame =
    Graph.triangleStats(
      allPairs(spark, dir),
      "id_a", "id_b")

  val x103Sql: String =
    s"""WITH ${jaccardCtes(3)},
       pairs AS (SELECT id_a, id_b
         FROM inter JOIN sizes na ON na.doc_id = id_a
         JOIN sizes nb ON nb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.7),
       und AS (SELECT id_a AS u FROM pairs UNION ALL SELECT id_b FROM pairs),
       deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         FROM pairs e1
         JOIN pairs e2 ON e2.id_a = e1.id_b
         JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
           CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         FROM deg)
       SELECT n_nodes, n_edges, n_wedges, n_triangles,
         CASE WHEN n_wedges = 0 THEN 0.0
              ELSE round(3.0 * n_triangles / n_wedges, 6) END AS global_cc
       FROM st CROSS JOIN tri"""

  // --- x104: BPE-encoded vocabulary statistics ---------------------------
  // The tokenizer-side view of x100's run: the weighted vocab after both
  // merges, rolled up to induced-symbol statistics (top-10 by corpus
  // occurrences).
  def x104BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = graft.ext.Bpe.encodeVocab(t(spark, dir, "documents"),
      "doc_id", "text", rounds = 2)
    val sym = enc.select(col("cnt"), explode(split(col("seq"), " ")).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("cnt")).as("n_occ"), count(lit(1)).as("n_words"))
    Sampling.scoredTopK(sym, "sym", col("n_occ"), k = 10)
      .withColumnRenamed("sel_rank", "rank")
  }

  val x104Sql: String =
    s"""WITH $bpeCtes,
       s2 AS (SELECT s1.w, s1.cnt,
           trim(replace(' ' || s1.seq || ' ',
             ' ' || m2.a || ' ' || m2.b || ' ',
             ' ' || m2.a || m2.b || ' ')) AS seq
         FROM s1 CROSS JOIN m2),
       syms AS (SELECT sym, CAST(sum(cnt) AS BIGINT) AS n_occ,
           CAST(count(*) AS BIGINT) AS n_words
         FROM (SELECT cnt, unnest(string_split(seq, ' ')) AS sym FROM s2)
         GROUP BY 1),
       r AS (SELECT sym, n_occ, n_words,
           row_number() OVER (ORDER BY n_occ DESC, sym) AS rank FROM syms)
       SELECT sym, n_occ, n_words, CAST(rank AS BIGINT) AS rank
       FROM r WHERE rank <= 10"""

  // --- x105: per-document tokenization under the induced tokenizer -------
  // x100's merges applied to the corpus: each doc's word stream joins
  // the merge-ENCODED vocab (broadcast, vocab-bounded) for its symbol
  // count — tokens-per-doc under the learned tokenizer, the statistic
  // packing and cost estimation actually need.
  def x105BpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val enc = graft.ext.Bpe.encodeVocab(docs, "doc_id", "text", rounds = 2)
      .select(col("w"), size(split(col("seq"), " ")).cast("long").as("n_syms_w"))
    LangModel.tokenRows(docs, "doc_id", "text")
      .join(broadcast(enc), Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms_w")).as("n_syms"))
      .select(col("id").as("doc_id"), col("n_words"), col("n_syms"),
        round(col("n_syms").cast("double") / col("n_words").cast("double"), 6)
          .as("syms_per_word"))
  }

  val x105Sql: String =
    s"""WITH $bpeCtes,
       s2 AS (SELECT s1.w, s1.cnt,
           trim(replace(' ' || s1.seq || ' ',
             ' ' || m2.a || ' ' || m2.b || ' ',
             ' ' || m2.a || m2.b || ' ')) AS seq
         FROM s1 CROSS JOIN m2),
       wsyms AS (SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_syms_w FROM s2)
       SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_syms_w) AS BIGINT) AS n_syms,
         round(CAST(sum(n_syms_w) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS syms_per_word
       FROM toks JOIN wsyms USING (w) GROUP BY 1"""

  // --- x106: salting pre-flight plan -------------------------------------
  // x83's skew profile turned actionable: every token key whose count
  // exceeds the per-reducer row budget gets its ceil(cnt/target) salt
  // factor — the exact input saltedAgg/saltedJoin need, O(distinct
  // keys) work.
  def x106ShufflePlan(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltPlan(
      LangModel.tokenRows(t(spark, dir, "documents"), "doc_id", "text"),
      "w", targetRows = 500L)

  val x106Sql: String =
    """WITH toks AS (SELECT
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       FROM documents)
       SELECT w, CAST(count(*) AS BIGINT) AS cnt,
         CAST((count(*) + 499) // 500 AS BIGINT) AS salt_buckets
       FROM toks GROUP BY 1 HAVING count(*) > 500"""

  // --- x107: differentially-private release counts -----------------------
  // Laplace mechanism (eps = 1) over per-source doc counts with the
  // seeded md5 inverse-CDF draw — noise applies as a narrow map over
  // the 20 aggregated groups, never over rows. The checked-in seed and
  // includeExact audit flag mark this as a portability ORACLE, not a
  // privacy release (a real release uses a secret seed and the default
  // n_noisy-only output — see Privacy.dpNoisyCounts scaladoc).
  protected val DpFixtureSeed = "x107-fixture-seed"
  def x107DpHistogram(spark: SparkSession, dir: String): DataFrame =
    Privacy.dpNoisyCounts(t(spark, dir, "documents"), "source",
      epsilon = 1.0, seed = DpFixtureSeed, includeExact = true)

  val x107Sql: String =
    s"""WITH ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         FROM documents GROUP BY 1),
       h AS (SELECT source, n_exact, md5('$DpFixtureSeed' || '|' || source) AS hx FROM ex),
       u AS (SELECT source, n_exact,
           (CAST(${duckHex48("hx")} AS DOUBLE) + 0.5) / 281474976710656.0 AS u
         FROM h)
       SELECT source, n_exact,
         round(CAST(n_exact AS DOUBLE) +
           ((-1.0 * sign(u - 0.5)) * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS n_noisy
       FROM u"""

  // --- x108: Kneser-Ney bigram self-perplexity ---------------------------
  // The continuation-count LM next to x58's add-one model; train =
  // score corpus so no unseen branch exists, and the probability
  // expression's operation order is pinned identically in both engines.
  def x108KnScore(spark: SparkSession, dir: String): DataFrame =
    LangModel.knScore(t(spark, dir, "documents"), "doc_id", "text")

  val x108Sql: String =
    """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
       bi AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM t),
       bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM bi),
       c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
       ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
           CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
       back AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
       np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM c2),
       sc AS (SELECT bg.doc_id,
           CAST(round(ln(
             (CAST(c2.c2 AS DOUBLE) - 0.75 +
              0.75 * CAST(ctx.n1f AS DOUBLE) *
                (CAST(back.n1b AS DOUBLE) / CAST(np.np AS DOUBLE)))
             / CAST(ctx.c1 AS DOUBLE)) * 1000000000.0, 0) AS BIGINT) AS lp9
         FROM bg JOIN c2 USING (w1, w2) JOIN ctx USING (w1)
         JOIN back USING (w2) CROSS JOIN np)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round((CAST(sum(lp9) AS DOUBLE) / 1000000000.0)
               / CAST(count(*) AS DOUBLE), 6) AS avg_lp
       FROM sc GROUP BY 1"""

  // --- x109: IPF raking of the source x lang contingency -----------------
  // One raking cycle toward uniform marginals on both attributes —
  // cell counts and marginal sums exact LONGs, the row-pass result
  // rounded to 1e-9 fixed point BEFORE the column pass so both engines
  // sum identical integers.
  def x109IpfRaking(spark: SparkSession, dir: String): DataFrame =
    Sampling.ipfWeights(t(spark, dir, "documents"), "source", "lang")

  val x109Sql: String =
    """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
           CAST(count(DISTINCT source) AS BIGINT) AS nr,
           CAST(count(DISTINCT lang) AS BIGINT) AS ncl
         FROM cells),
       rs AS (SELECT source, CAST(sum(n) AS BIGINT) AS rsum FROM cells GROUP BY 1),
       w1 AS (SELECT c.source, c.lang, c.n,
           CAST(round(CAST(c.n AS DOUBLE) *
             ((CAST(nn AS DOUBLE) / CAST(nr AS DOUBLE)) / CAST(rsum AS DOUBLE))
             * 1000000000.0, 0) AS BIGINT) AS w1
         FROM cells c JOIN rs USING (source) CROSS JOIN tot),
       cs AS (SELECT lang, CAST(sum(w1) AS BIGINT) AS csum FROM w1 GROUP BY 1)
       SELECT w1.source, w1.lang, w1.n,
         CAST(round(CAST(w1 AS DOUBLE) *
           ((CAST(nn AS DOUBLE) / CAST(ncl AS DOUBLE)) * 1000000000.0
             / CAST(csum AS DOUBLE)), 0) AS BIGINT) AS w9
       FROM w1 JOIN cs USING (lang) CROSS JOIN tot"""

  // --- x111: STREAMING count-min sketch maintenance ----------------------
  // The sketch family's streaming leg: CM cells maintained as a NATIVE
  // Structured Streaming aggregation — the groupBy(r, cell) count IS the
  // sketch, so the state store holds exactly d×w bounded rows no matter
  // how long the stream runs (the textbook mergeable-sketch property,
  // expressed as Spark streaming state). Complete-mode memory sink reads
  // back O(d×w) rows; the final cells are batch-invariant (counts are
  // exact sums), so the probe must equal the batch-built x96-style gate.
  def x111StreamCountmin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"scm_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val keys = t(spark, dir, "events").select(col("user_id").as("k"))
    keys.write.parquet(s"$base/in")
    val cells = Replay.memory(Sketches.countMinCells(
      spark.readStream.schema(keys.schema).parquet(s"$base/in"),
      "k", depth = 4, width = 1024), s"x111_scm_$tag", "complete")
    val exact = Dedup.materialize(
      keys.groupBy(col("k")).agg(count(lit(1)).as("cnt")))
    val top = Sampling.scoredTopK(exact, "k", col("cnt"), k = 20).drop("sel_rank")
    Sketches.countMinEstimate(cells, top, "k", depth = 4, width = 1024)
      .withColumn("overcount", col("est") - col("cnt"))
  }

  val x111Sql: String =
    s"""WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS v, user_id AS k FROM events),
       ex AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM keys GROUP BY 1),
       top AS (SELECT k, cnt FROM (
           SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k) AS rn FROM ex)
         WHERE rn <= 20),
       rr AS (SELECT r FROM (VALUES (0), (1), (2), (3)) AS t(r)),
       cells0 AS (SELECT r, md5('cm' || CAST(r AS VARCHAR) || '_' || v) AS hx
         FROM keys CROSS JOIN rr),
       cells AS (SELECT r, ${duckHex48("hx")} % 1024 AS cell,
           CAST(count(*) AS BIGINT) AS ccnt
         FROM cells0 GROUP BY 1, 2),
       pr0 AS (SELECT k, cnt, r,
           md5('cm' || CAST(r AS VARCHAR) || '_' || CAST(k AS VARCHAR)) AS hx
         FROM top CROSS JOIN rr),
       pr AS (SELECT k, cnt, r, ${duckHex48("hx")} % 1024 AS cell FROM pr0)
       SELECT pr.k, pr.cnt, CAST(min(cells.ccnt) AS BIGINT) AS est,
         CAST(min(cells.ccnt) - pr.cnt AS BIGINT) AS overcount
       FROM pr JOIN cells USING (r, cell) GROUP BY pr.k, pr.cnt"""

  // --- x112: corpus build manifest ---------------------------------------
  // The capstone plan artifact: x61's temperature-mixture allocation
  // extended with shard provisioning — per source, the docs/tokens
  // inventory, the budgeted allocation, epochs, sampling rate, AND the
  // number of 50k-token output shards (ceil division of the allocation)
  // a writer should provision. Pure integer arithmetic on top of x61's
  // plan; O(sources) rows.
  def x112BuildManifest(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixturePlan(t(spark, dir, "documents"), "source", "n_chars",
        budget = 200000L)
      .withColumn("n_shards", expr("(alloc_toks + 49999) div 50000L"))

  val x112Sql: String =
    """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS n_toks FROM documents GROUP BY 1),
       w AS (SELECT *, CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000) AS BIGINT) AS wq FROM c),
       t AS (SELECT sum(wq) AS tw FROM w),
       a AS (SELECT source, n_docs, n_toks,
             CAST((200000 * wq) // tw AS BIGINT) AS alloc_toks
             FROM w CROSS JOIN t)
       SELECT source, n_docs, n_toks, alloc_toks,
         CAST(CASE WHEN n_toks = 0 THEN 0
              ELSE (alloc_toks + n_toks - 1) // n_toks END AS BIGINT) AS epochs,
         CASE WHEN n_toks = 0 THEN 0.0
              ELSE round(CAST(alloc_toks AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) END AS sample_rate,
         CAST((alloc_toks + 49999) // 50000 AS BIGINT) AS n_shards
       FROM a"""

  // --- x113: quality-model calibration matrix ----------------------------
  // Per-source distribution of the x93 model's GLOBAL score deciles —
  // the calibration audit that shows which sources the model up- or
  // down-ranks (a uniform model would put ~10% of each source in each
  // decile). Rides x97's distribution-based phase assignment at
  // phases = 10; one extra O(sources × 10) rollup.
  def x113ScoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = Dedup.materialize(
      TextAnalysis.hashedLinearScore(t(spark, dir, "documents"), "doc_id", "text")
        .join(t(spark, dir, "documents").select(col("doc_id"), col("source")), "doc_id"))
    Sampling.curriculumPhases(scored, "score_fp3", phases = 10)
      .groupBy(col("source"), col("phase").as("decile"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val x113Sql: String =
    s"""WITH $qmScoreCtes,
       sc2 AS (SELECT sc.doc_id, sc.score_fp3, d.source
         FROM sc JOIN documents d USING (doc_id)),
       dist AS (SELECT score_fp3 AS s, CAST(count(*) AS BIGINT) AS c FROM sc2 GROUP BY 1),
       nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dist),
       cb AS (SELECT s, CAST(coalesce(sum(c) OVER (ORDER BY s DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         FROM dist)
       SELECT sc2.source, CAST((10 * cb.cum) // nn.n AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_docs
       FROM sc2 JOIN cb ON sc2.score_fp3 = cb.s CROSS JOIN nn
       GROUP BY 1, 2"""

  // --- x114: maintained count-min store (day-over-day) -------------------
  // Three "days" of event keys appended as day-keyed cell SUBTOTALS into
  // a ManifestStore table (partition-pruned, replay-idempotent — day 1
  // is appended TWICE in-gate to prove replaying replaces rather than
  // double-counts); the probe reads the summed store cells, which must
  // equal the one-shot batch sketch exactly (CM cells merge by
  // addition) — same oracle as x111.
  def x114CmStore(spark: SparkSession, dir: String): DataFrame = {
    val keys = t(spark, dir, "events")
      .select(col("event_id"), col("user_id").as("k"))
    val table = FreshTables.next(spark, dir, "cmstore")
    for (d <- 0 to 2)
      Sketches.countMinAppendDay(spark,
        keys.filter(col("event_id") % 3 === d).select(col("k")),
        "k", s"day$d", table, depth = 4, width = 1024)
    // replay day 1: idempotence is part of the gated contract
    Sketches.countMinAppendDay(spark,
      keys.filter(col("event_id") % 3 === 1).select(col("k")),
      "k", "day1", table, depth = 4, width = 1024)
    val cells = Sketches.countMinCellsFromStore(spark, table)
    val exact = Dedup.materialize(
      keys.groupBy(col("k")).agg(count(lit(1)).as("cnt")))
    val top = Sampling.scoredTopK(exact, "k", col("cnt"), k = 20).drop("sel_rank")
    Sketches.countMinEstimate(cells, top, "k", depth = 4, width = 1024)
      .withColumn("overcount", col("est") - col("cnt"))
  }

  val x114Sql: String = x111Sql

  // --- x115: winsorized robust statistics --------------------------------
  // Per-source winsorized mean of document length (clip at the exact
  // p05/p95 nearest-rank quantiles, then average) — the robust-mean
  // companion to x64's median/MAD; the whole computation lives on the
  // O(distinct values) distribution.
  def x115WinsorizedStats(spark: SparkSession, dir: String): DataFrame =
    Quantiles.winsorizedStats(t(spark, dir, "documents"), Seq("source"),
      "n_chars", lo = 0.05, hi = 0.95)

  val x115Sql: String =
    """WITH c AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
         FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
       w AS (SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
           FROM c),
       qs AS (SELECT unnest([CAST(0.05 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS q),
       qv AS (SELECT source, q, v FROM w, qs
         WHERE CAST(floor(q * (n - 1)) + 1 AS BIGINT) > cum - c
           AND CAST(floor(q * (n - 1)) + 1 AS BIGINT) <= cum),
       b AS (SELECT source,
           CAST(min(CASE WHEN q = 0.05 THEN v END) AS BIGINT) AS q_lo,
           CAST(min(CASE WHEN q = 0.95 THEN v END) AS BIGINT) AS q_hi
         FROM qv GROUP BY 1),
       f AS (SELECT c.source, c.c,
           least(greatest(c.v, b.q_lo), b.q_hi) AS clip
         FROM c JOIN b USING (source))
       SELECT f.source, CAST(sum(f.c) AS BIGINT) AS n,
         min(b.q_lo) AS q_lo, min(b.q_hi) AS q_hi,
         round(CAST(sum(f.clip * f.c) AS DOUBLE) / CAST(sum(f.c) AS DOUBLE), 6)
           AS winsorized_mean
       FROM f JOIN b USING (source) GROUP BY 1"""

  // --- x116: quality-budget selection curve ------------------------------
  // "How much data survives each quality bar": cumulative docs + token
  // mass down the x93 model's global score deciles — the curve a
  // curation run reads to pick its cutoff. Rides x113's decile
  // machinery; the cumsum window runs over 10 rows.
  def x116QualityBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Dedup.materialize(
      TextAnalysis.hashedLinearScore(t(spark, dir, "documents"), "doc_id", "text")
        .join(t(spark, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Sampling.curriculumPhases(scored, "score_fp3", phases = 10)
      .groupBy(col("phase").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_toks"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
  }

  val x116Sql: String =
    s"""WITH $qmScoreCtes,
       sc2 AS (SELECT sc.doc_id, sc.score_fp3, d.n_chars
         FROM sc JOIN documents d USING (doc_id)),
       dist AS (SELECT score_fp3 AS s, CAST(count(*) AS BIGINT) AS c FROM sc2 GROUP BY 1),
       nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dist),
       cb AS (SELECT s, CAST(coalesce(sum(c) OVER (ORDER BY s DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         FROM dist),
       ph AS (SELECT sc2.doc_id, sc2.n_chars,
           (10 * cb.cum) // nn.n AS decile
         FROM sc2 JOIN cb ON sc2.score_fp3 = cb.s CROSS JOIN nn),
       g AS (SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_toks
         FROM ph GROUP BY 1)
       SELECT decile, n_docs, n_toks,
         CAST(sum(n_docs) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
         CAST(sum(n_toks) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
       FROM g"""

  // --- x117: maintained-store lifecycle (append^N -> compact -> vacuum) --
  // The r8 verdict's missing lifecycle piece: 8 daily CM-cell appends
  // accumulate 8 live commits; ManifestStore.compact collapses them to
  // ONE (the return value — liveCommits before — and the second
  // compact's 0 are require'd in-gate, proving post-compaction reads
  // touch O(partitions) commits, not O(days)); vacuum(0) reclaims the
  // superseded commit dirs; and the store's summed cells are
  // bit-identical before and after (require'd on the collected cell
  // tables — bounded at d×w = 4096 rows by sketch geometry, never
  // row-scaled). The probe then reads the compacted store, which must
  // still equal the one-shot batch sketch — same oracle as x111/x114.
  def x117StoreLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    val keys = t(spark, dir, "events")
      .select(col("event_id"), col("user_id").as("k"))
    val table = FreshTables.next(spark, dir, "cmlife")
    for (d <- 0 to 7)
      Sketches.countMinAppendDay(spark,
        keys.filter(col("event_id") % 8 === d).select(col("k")),
        "k", s"day$d", table, depth = 4, width = 1024)
    val pre = Sketches.countMinCellsFromStore(spark, table)
      .orderBy(col("r"), col("cell")).collect().map(_.toSeq).toSeq
    val collapsed = ManifestStore.compact(spark, table)
    require(collapsed == 8,
      s"x117: expected 8 live commits before compaction, saw $collapsed")
    // no concurrent writer can exist on a FreshTables scratch dir, so the
    // retention fence can be 0 here (see vacuum scaladoc)
    val removed = ManifestStore.vacuum(spark, table, minAgeMillis = 0L)
    require(removed >= 8,
      s"x117: vacuum reclaimed $removed dirs, expected the 8 superseded commits")
    val post = Sketches.countMinCellsFromStore(spark, table)
      .orderBy(col("r"), col("cell")).collect().map(_.toSeq).toSeq
    require(pre == post, "x117: compaction changed the store's cell contents")
    require(ManifestStore.compact(spark, table) == 0,
      "x117: second compact must be a no-op on a single-commit store")
    val cells = Sketches.countMinCellsFromStore(spark, table)
    val exact = Dedup.materialize(
      keys.groupBy(col("k")).agg(count(lit(1)).as("cnt")))
    val top = Sampling.scoredTopK(exact, "k", col("cnt"), k = 20).drop("sel_rank")
    Sketches.countMinEstimate(cells, top, "k", depth = 4, width = 1024)
      .withColumn("overcount", col("est") - col("cnt"))
  }

  // day-keyed subtotals sum to the batch sketch no matter how history is
  // sliced, so the lifecycle store's oracle is x111's batch oracle
  val x117Sql: String = x111Sql

  // --- x118: plan-driven salted join on a hot key -------------------------
  // x106's salt plan composed with the join it exists for: half the
  // event stream collapses onto ONE key (user_id 0), making the plain
  // join's hash partitioning put 50% of the fact table on a single
  // reducer. plannedSaltedJoin spreads exactly the plan's hot keys
  // over ceil(cnt/target) salt buckets (routing only — the joined row
  // SET is deterministic), and the gate aggregates the join output so
  // the oracle is the plain-join SQL.
  def x118SaltedHotJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = t(spark, dir, "events")
      .select(when(col("user_id") % 2 === 0, lit(0L))
        .otherwise(col("user_id")).as("k"))
    val dim = Dedup.materialize(
      fact.distinct().withColumn("seg", expr("k % 7")))
    val plan = graft.operators.Skew.saltPlan(fact, "k", targetRows = 1000L)
    graft.operators.Skew.plannedSaltedJoin(fact, dim, "k", plan)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), count_distinct(col("k")).as("n_keys"))
  }

  val x118Sql: String =
    """WITH f AS (SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS k
         FROM events),
       d AS (SELECT DISTINCT k, k % 7 AS seg FROM f)
       SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT k) AS BIGINT) AS n_keys
       FROM f JOIN d USING (k) GROUP BY 1"""

  // --- x119: sliding-window duplicate-span profile ------------------------
  // Lee et al. exact-substring DETECTION with true sliding windows
  // (every 8-token window, vs x49's disjoint tiles): per doc, how many
  // of its tokens sit inside a window whose exact sequence repeats
  // anywhere in the corpus — the thresholding signal before span
  // surgery. Interval union via a lag sweep, exact integers end to end.
  def x119SlidingDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.slidingDupStats(t(spark, dir, "documents"), "doc_id", "text", k = 8)

  val x119Sql: String =
    """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
         FROM documents),
       tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws FROM t),
       w AS (SELECT doc_id, i - 1 AS tpos,
           md5(array_to_string(ws[i:i+7], ' ')) AS fp
         FROM tk, unnest(range(1, n_tokens - 6)) AS u(i)),
       dup AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
       sw AS (SELECT doc_id, tpos,
           tpos - lag(tpos) OVER (PARTITION BY doc_id ORDER BY tpos) AS gap
         FROM w JOIN dup USING (fp)),
       cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
           CAST(sum(CASE WHEN gap IS NULL THEN 8 ELSE least(8, gap) END) AS BIGINT)
             AS covered_tokens
         FROM sw GROUP BY 1),
       nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM w GROUP BY 1)
       SELECT tk.doc_id, tk.n_tokens, nw.n_windows,
         CAST(coalesce(cov.dup_windows, 0) AS BIGINT) AS dup_windows,
         CAST(coalesce(cov.covered_tokens, 0) AS BIGINT) AS covered_tokens,
         round(CAST(coalesce(cov.covered_tokens, 0) AS DOUBLE)
           / CAST(tk.n_tokens AS DOUBLE), 6) AS dup_frac
       FROM tk JOIN nw USING (doc_id) LEFT JOIN cov USING (doc_id)"""

  // --- x120: product-quantization ANN (encode + ADC top-k) ----------------
  // PQ over the embeddings (4 subspaces x 16 dims, 16 sampled codewords
  // per subspace): encode the corpus to 4 codes/vector, then ADC top-10
  // for the x07 query slice through the integer LUT. The oracle
  // replicates codebook, argmin encode, LUT, and fused ranking — all on
  // the same fixed-point grid, so agreement is exact.
  def x120PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val cb = Pq.codebook(data, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, stride = 3)
    val codes = Pq.encode(data, cb, "vec_id", "embedding", dim = 64, m = 4)
    Pq.adcTopK(data.filter(col("vec_id") < 8), codes, cb,
      "vec_id", "embedding", dim = 64, m = 4, k = 10)
  }

  protected def pqD2(a: String, b: String): String =
    s"""CAST(round((list_sum(list_transform(range(1, 17), i -> $a[i] * $a[i]))
       + list_sum(list_transform(range(1, 17), i -> $b[i] * $b[i]))
       - 2 * list_sum(list_transform(range(1, 17), i -> $a[i] * $b[i]))) * 1e9)
       AS BIGINT)"""

  /** Shared PQ CTE chain over a pre-defined `v(vec_id, ..., ve)`:
    * codebook `cb`, per-vector subspaces `vsub`, argmin `codes`, and
    * the x07-slice query LUT `lut` — reused by x120 and the x128 IVF+PQ
    * composition.
    */
  protected val pqCtes: String =
    s"""subs AS (SELECT unnest(range(0, 4)) AS sub),
       cb AS (SELECT s.sub, c.vec_id // 3 AS code,
           c.ve[s.sub * 16 + 1 : s.sub * 16 + 16] AS cv
         FROM v c CROSS JOIN subs s
         WHERE c.vec_id % 3 = 0 AND c.vec_id < 48 AND c.vec_id >= 0),
       vsub AS (SELECT vec_id, s.sub, ve[s.sub * 16 + 1 : s.sub * 16 + 16] AS sv
         FROM v CROSS JOIN subs s),
       pqdist AS (SELECT vs.vec_id, vs.sub, cb.code, ${pqD2("vs.sv", "cb.cv")} AS d9
         FROM vsub vs JOIN cb ON vs.sub = cb.sub),
       codes AS (SELECT vec_id, sub, code FROM (
           SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub ORDER BY d9, code) AS rn
           FROM pqdist) WHERE rn = 1),
       lut AS (SELECT q.vec_id AS query_id, cb.sub, cb.code,
           ${pqD2("q.sv", "cb.cv")} AS pd9
         FROM vsub q JOIN cb ON q.sub = cb.sub WHERE q.vec_id < 8)"""

  val x120Sql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       $pqCtes,
       scored AS (SELECT l.query_id, c.vec_id, CAST(sum(l.pd9) AS BIGINT) AS est_d9
         FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
         GROUP BY 1, 2),
       r AS (SELECT query_id, vec_id, est_d9,
           row_number() OVER (PARTITION BY query_id ORDER BY est_d9, vec_id) AS rank
         FROM scored)
       SELECT query_id, rank, vec_id, est_d9 FROM r WHERE rank <= 10"""

  // --- x121: cross-dataset exact n-gram contamination matrix --------------
  // GPT-3-style exact-overlap audit generalized to all source pairs:
  // distinct 5-gram vocabulary Jaccard per (source_a, source_b) — the
  // complement of x60's near-dup-pair matrix and x31/x55's
  // one-benchmark checks. Pair volume is sum over shingles of
  // (sources holding it)^2 — bounded by the source count, never doc^2.
  def x121ContaminationMatrix(spark: SparkSession, dir: String): DataFrame =
    Dedup.groupShingleOverlap(t(spark, dir, "documents"),
      "doc_id", "text", "source", n = 5)

  val x121Sql: String =
    """WITH t AS (SELECT source, doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
         FROM documents),
       sh AS (SELECT DISTINCT source, md5(array_to_string(ws[i:i+4], ' ')) AS fp
         FROM t, unnest(range(1, len(ws) - 3)) AS u(i)),
       sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS nsh FROM sh GROUP BY 1),
       shared AS (SELECT a.source AS group_a, b.source AS group_b,
           CAST(count(*) AS BIGINT) AS shared
         FROM sh a JOIN sh b ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2)
       SELECT s.group_a, s.group_b, s.shared,
         na.nsh AS n_a, nb.nsh AS n_b,
         round(CAST(s.shared AS DOUBLE)
           / CAST(na.nsh + nb.nsh - s.shared AS DOUBLE), 6) AS jaccard
       FROM shared s JOIN sizes na ON na.source = s.group_a
       JOIN sizes nb ON nb.source = s.group_b"""

  // --- x122: hopping event-time windows ------------------------------------
  // The sliding complement of x09's tumbling buckets: 2 h windows
  // hopping every 30 min, each event expanded into exactly 4 windows
  // (bounded explode), one map-side-combined shuffle on (window_start,
  // event_type). Exact integer microsecond math on both engines.
  def x122HoppingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    Events.hopping(
      ev.withColumn("ts_us", Events.epochMicros(ev)),
      "ts_us", slideUs = 30L * 60 * 1000000L, spanUs = 2L * 3600 * 1000000L,
      keys = Seq(col("event_type")),
      aggs = Seq(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value")))
  }

  val x122Sql: String =
    """WITH x AS (SELECT epoch_us(ts) AS e, event_type, value FROM events),
       h AS (SELECT ((e - (e % 1800000000 + 1800000000) % 1800000000)
             // 1800000000 - i) * 1800000000 AS window_start,
           event_type, value
         FROM x, unnest(range(0, 4)) AS u(i))
       SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(28, 2))) AS DOUBLE) AS total_value,
         window_start + 7200000000 AS window_end
       FROM h GROUP BY 1, 2"""

  // --- x123: maintained histogram store + quantile bounds ------------------
  // The x114 day-keyed-subtotal pattern applied to a QUANTILE synopsis:
  // three days of doc-length histogram cells (width 32) land as
  // replay-idempotent day subtotals (day 1 appended twice in-gate); the
  // store reads back as EXACTLY the batch histogram (cells add), and
  // the p50/p90/p99 bucket bounds come off the O(buckets) cell table.
  def x123HistStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    val table = FreshTables.next(spark, dir, "histstore")
    for (d <- 0 to 2)
      Sketches.histAppendDay(spark,
        docs.filter(col("doc_id") % 3 === d).select(col("n_chars")),
        "n_chars", bucketWidth = 32L, day = s"day$d", table = table)
    // replay day 1: idempotence is part of the gated contract
    Sketches.histAppendDay(spark,
      docs.filter(col("doc_id") % 3 === 1).select(col("n_chars")),
      "n_chars", bucketWidth = 32L, day = "day1", table = table)
    Sketches.histQuantiles(
      Sketches.histCellsFromStore(spark, table), bucketWidth = 32L,
      qs = Seq(0.5, 0.9, 0.99))
  }

  val x123Sql: String =
    """WITH c AS (SELECT n_chars // 32 AS bucket, CAST(count(*) AS BIGINT) AS cnt
         FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
       w AS (SELECT bucket, cnt,
           sum(cnt) OVER (ORDER BY bucket) AS cum,
           sum(cnt) OVER () AS n
         FROM c),
       qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
           CAST(0.99 AS DOUBLE)]) AS q)
       SELECT q, bucket, CAST(bucket * 32 AS BIGINT) AS lo,
         CAST(bucket * 32 + 31 AS BIGINT) AS hi, cnt
       FROM w, qs
       WHERE CAST(floor(q * (n - 1)) + 1 AS BIGINT) > cum - cnt
         AND CAST(floor(q * (n - 1)) + 1 AS BIGINT) <= cum"""

  // --- x124: binned range join (point-in-interval, NO equi-key) ----------
  // The range-predicate join Spark has no operator for: per-user audit
  // intervals (each user's first event + a user-scaled horizon) matched
  // against EVERY event's timestamp — no equi-key, so the naive plan is
  // a nested loop. RangeJoin.pointInInterval turns it into a bucket
  // equi-join (30 min bins) + exact re-check; the spec pins that no
  // BroadcastNestedLoopJoin/CartesianProduct survives in the plan.
  def x124RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val ev = Dedup.materialize(
      e.select(col("user_id"), Events.epochMicros(e).as("pt")))
    val iv = ev.filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .agg(min(col("pt")).as("lo"))
      .select(col("user_id").as("iv_user"), col("lo"),
        (col("lo") + (col("user_id") + 1) * lit(600000000L)).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
        ev.select(col("pt")), iv, "pt", "lo", "hi",
        bucketWidth = 30L * 60 * 1000000L)
      .groupBy(col("iv_user"))
      .agg(count(lit(1)).as("n_hits"), min(col("pt")).as("first_hit"),
        max(col("pt")).as("last_hit"))
  }

  val x124Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS pt FROM events),
       iv AS (SELECT user_id AS iv_user, min(pt) AS lo,
           min(pt) + (user_id + 1) * 600000000 AS hi
         FROM e WHERE user_id < 50 GROUP BY user_id)
       SELECT iv_user, CAST(count(*) AS BIGINT) AS n_hits,
         min(e.pt) AS first_hit, max(e.pt) AS last_hit
       FROM iv JOIN e ON e.pt >= iv.lo AND e.pt < iv.hi GROUP BY 1"""

  // --- x125: binned interval-overlap join (concurrent sessions) ----------
  // x08's sessions turned into validity intervals, then the overlap
  // join: which user pairs were active at the same moment, and how many
  // of their session pairs overlapped. The canonical-bucket trick
  // dedupes pairs without a distinct; the exact overlap predicate
  // re-checks candidates. Users capped at < 100 so pair volume is
  // bounded by the USER pair count, not corpus size.
  def x125SessionOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val sess = Dedup.materialize(Events.sessionizeBatch(
        e.filter(col("user_id") < 100)
          .withColumn("ts_us", Events.epochMicros(e)),
        "user_id", "ts_us", gap = 30L * 60 * 1000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("lo"),
        (max(col("ts_us")) + 1L).as("hi")))
    val a = sess.select(col("user_id").as("ua"),
      col("lo").as("alo"), col("hi").as("ahi"))
    val b = sess.select(col("user_id").as("ub"),
      col("lo").as("blo"), col("hi").as("bhi"))
    graft.operators.RangeJoin.intervalOverlap(
        a, b, "alo", "ahi", "blo", "bhi",
        bucketWidth = 6L * 3600 * 1000000L)
      .filter(col("ua") < col("ub"))
      .groupBy(col("ua"), col("ub"))
      .agg(count(lit(1)).as("n_overlaps"))
  }

  val x125Sql: String =
    """WITH x AS (SELECT user_id, epoch_us(ts) AS e FROM events WHERE user_id < 100),
       s AS (SELECT user_id, e,
         CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
         FROM x WINDOW w AS (PARTITION BY user_id ORDER BY e)),
       g AS (SELECT user_id, e,
         sum(ns) OVER (PARTITION BY user_id ORDER BY e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq FROM s),
       iv AS (SELECT user_id, seq, min(e) AS lo, max(e) + 1 AS hi
         FROM g GROUP BY 1, 2)
       SELECT a.user_id AS ua, b.user_id AS ub,
         CAST(count(*) AS BIGINT) AS n_overlaps
       FROM iv a JOIN iv b
         ON a.lo < b.hi AND b.lo < a.hi AND a.user_id < b.user_id
       GROUP BY 1, 2"""

  // --- x126: STREAMING hopping windows ------------------------------------
  // x122's hopping aggregation as a NATIVE Structured Streaming window
  // (window(ts, span, slide) — Spark expands each event into its 4
  // windows inside the streaming agg; state is O(active windows ×
  // event_types), bounded by the horizon). Complete-mode drain over the
  // staged events must equal the batch hopping pass exactly, so the
  // oracle is x122's.
  def x126StreamHopping(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"shop_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val e = t(spark, dir, "events")
    val src = e.select(timestamp_micros(Events.epochMicros(e)).as("tss"),
      col("event_type"), col("value"))
    src.write.parquet(s"$base/in")
    val agg = spark.readStream.schema(src.schema).parquet(s"$base/in")
      .groupBy(window(col("tss"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(dec2(col("value"))).as("__tv"))
    Replay.memory(agg, s"x126_shop_$tag", "complete").select(
      unix_micros(col("window.start")).as("window_start"),
      col("event_type"), col("n_events"),
      col("__tv").cast("double").as("total_value"),
      unix_micros(col("window.end")).as("window_end"))
  }

  // Spark's window(ts, span, slide) and Events.hopping produce the same
  // epoch-aligned half-open windows, so the streaming drain shares the
  // batch oracle
  val x126Sql: String = x122Sql

  // --- x127: DP counts with per-user contribution bounding ----------------
  // The user-level-DP preprocessing x107 assumes away: each user's rows
  // per event_type capped at 5 (first by event_id — a deterministic,
  // data-independent rule), then Laplace(cap/eps) noise at the scale
  // the bounded sensitivity requires. Fixture seed + audit flag mark
  // this as a portability oracle, like x107.
  def x127DpBounded(spark: SparkSession, dir: String): DataFrame =
    Privacy.dpBoundedCounts(t(spark, dir, "events"),
      "user_id", "event_type", "event_id", capPerUser = 5,
      epsilon = 1.0, seed = DpFixtureSeed, includeBounded = true)

  val x127Sql: String =
    s"""WITH b AS (SELECT event_type FROM (
           SELECT event_type,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY event_id) AS rn
           FROM events) WHERE rn <= 5),
       ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_bounded
         FROM b GROUP BY 1),
       h AS (SELECT event_type, n_bounded,
           md5('$DpFixtureSeed' || '|' || event_type) AS hx FROM ex),
       u AS (SELECT event_type, n_bounded,
           (CAST(${duckHex48("hx")} AS DOUBLE) + 0.5) / 281474976710656.0 AS u
         FROM h)
       SELECT event_type, n_bounded,
         round(CAST(n_bounded AS DOUBLE) +
           ((-5.0 * sign(u - 0.5)) * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS n_noisy
       FROM u"""

  // --- x128: IVF + PQ — the production ANN pipeline end to end ------------
  // x11's bucket pruning composed with x120's compression: queries probe
  // their 3 nearest centroid buckets, then ADC-score ONLY those buckets'
  // code rows through the integer LUT — per-query work is the probed
  // partitions' codes, not the corpus, and the scored payload is m
  // one-byte codes per vector, not the float vector. At write time the
  // centroid assignment is the table's partition key, so the probe
  // prunes whole partitions. Self-matches excluded like ivfTopK.
  def x128IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val data = t(spark, dir, "embeddings")
    val cents = data.filter(col("vec_id") % 50 === 0)
    val assigned = Similarity.ivfAssign(data, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
    val queries = data.filter(col("vec_id") < 8)
    val probes = Similarity.probeCentroids(queries, cents,
      "vec_id", "embedding", nprobe = 3)
    val candidates = probes
      .join(assigned.select(col("centroid_id"), col("vec_id")), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val cb = Pq.codebook(data, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, stride = 3)
    val codes = Pq.encode(data, cb, "vec_id", "embedding", dim = 64, m = 4)
    Pq.adcTopKCandidates(queries, candidates, codes, cb,
      "vec_id", "embedding", dim = 64, m = 4, k = 10)
  }

  val x128Sql: String =
    s"""WITH $ivfCtes,
       $pqCtes,
       pr0 AS (SELECT q.vec_id AS query_id, c.centroid_id,
           list_sum(list_transform(range(1, len(q.ve) + 1), i -> q.ve[i] * c.cv[i])) / (q.nrm * c.cn) AS sim
         FROM n q CROSS JOIN c WHERE q.vec_id < 8),
       pr AS (SELECT query_id, centroid_id FROM (
           SELECT query_id, centroid_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, centroid_id) AS rn
           FROM pr0) WHERE rn <= 3),
       cand AS (SELECT pr.query_id, asg.vec_id
         FROM pr JOIN asg USING (centroid_id)
         WHERE asg.vec_id <> pr.query_id),
       scored AS (SELECT ca.query_id, ca.vec_id, CAST(sum(l.pd9) AS BIGINT) AS est_d9
         FROM cand ca JOIN codes cd ON ca.vec_id = cd.vec_id
         JOIN lut l ON l.query_id = ca.query_id
           AND l.sub = cd.sub AND l.code = cd.code
         GROUP BY 1, 2),
       r AS (SELECT query_id, vec_id, est_d9,
           row_number() OVER (PARTITION BY query_id ORDER BY est_d9, vec_id) AS rank
         FROM scored)
       SELECT query_id, rank, vec_id, est_d9 FROM r WHERE rank <= 10"""

  // --- x129: maintained vector-index store (IVF + PQ, day over day) ------
  // x128's pipeline as a PERSISTED index (ext/VectorStore): codes
  // partitioned by centroid assignment, model tables frozen at build.
  // The gate splits the corpus into history and a day's increment
  // (chosen OFF the model ids, so the frozen model equals the full-data
  // model and the oracle is x128's); builds from history, proves the
  // pre-append probe cannot see the increment, folds the day in TWICE
  // (replay-idempotence is part of the contract), and returns the
  // post-append probe — which must equal the one-shot IVF+PQ pass over
  // the full corpus, bit for bit.
  def x129VectorStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.VectorStore
    val data = t(spark, dir, "embeddings")
    val incPred = col("vec_id") % 5 === 1 && col("vec_id") % 3 =!= 0
    val inc = Dedup.materialize(data.filter(incPred))
    // r15 bench diet: hardlink-clone the build-once historical store —
    // the per-pass VectorStore.build re-trained the same deterministic
    // PQ codebook the prototype's first build already measured (this
    // gate mutates the clone via appendDay below)
    val root = FreshTables.next(spark, dir, "vecstore")
    ProtoStores.cloneTo(spark, vecHistProto(spark, dir), root)
    val queries = data.filter(col("vec_id") < 8)
    val pre = VectorStore.probe(spark, queries, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, nprobe = 3, topK = 10)
    require(pre.filter(col("vec_id") % 5 === 1 && col("vec_id") % 3 =!= 0)
        .count() == 0L,
      "x129: pre-append probe must not see the increment")
    VectorStore.appendDay(spark, inc, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3)
    // replay the day: merge on (vec_id, sub) must replace, not duplicate
    VectorStore.appendDay(spark, inc, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3)
    val nCodes = graft.sources.ManifestStore.read(spark, s"$root/codes").count()
    require(nCodes == data.count() * 4,
      s"x129: store holds $nCodes code rows, expected corpus x m")
    VectorStore.probe(spark, queries, "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, nprobe = 3, topK = 10)
  }

  // the final store state IS the full-corpus IVF+PQ index (frozen model
  // == full-data model by construction), so the oracle is x128's
  val x129Sql: String = x128Sql

  // --- x130: data-quality expectation suite --------------------------------
  // The promote-gate audit (Deequ-style): five checks over documents —
  // null lang, unique doc_id, length range, accepted languages, and
  // doc->embedding referential integrity. All row-local checks + the
  // uniqueness check ride ONE aggregation pass; the ref check is one
  // broadcast anti-join. Checks are chosen so both pass AND fail rows
  // exist (zh is deliberately outside the accepted set; n_chars range
  // is deliberately tight).
  def x130Expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Expectations._
    audit(t(spark, dir, "documents"), Seq(
      NotNull("c1_lang_notnull", "lang"),
      Unique("c2_docid_unique", "doc_id"),
      InRange("c3_len_range", "n_chars", lo = 50, hi = 500),
      Accepted("c4_lang_accepted", "lang", Seq("en", "de", "es", "fr")),
      RefIntegrity("c5_has_embedding", "doc_id",
        t(spark, dir, "embeddings"), "vec_id")))
  }

  val x130Sql: String =
    """SELECT 'c1_lang_notnull' AS check_id, 'not_null' AS check_type,
         'lang' AS col_name,
         CAST(count(CASE WHEN lang IS NULL THEN 1 END) AS BIGINT) AS n_violations,
         count(CASE WHEN lang IS NULL THEN 1 END) = 0 AS pass
       FROM documents
       UNION ALL
       SELECT 'c2_docid_unique', 'unique', 'doc_id',
         CAST(count(CASE WHEN doc_id IS NOT NULL THEN 1 END)
           - count(DISTINCT doc_id) AS BIGINT) AS v,
         count(CASE WHEN doc_id IS NOT NULL THEN 1 END)
           - count(DISTINCT doc_id) = 0
       FROM documents
       UNION ALL
       SELECT 'c3_len_range', 'in_range', 'n_chars',
         CAST(count(CASE WHEN n_chars IS NOT NULL
           AND (n_chars < 50 OR n_chars > 500) THEN 1 END) AS BIGINT) AS v,
         count(CASE WHEN n_chars IS NOT NULL
           AND (n_chars < 50 OR n_chars > 500) THEN 1 END) = 0
       FROM documents
       UNION ALL
       SELECT 'c4_lang_accepted', 'accepted', 'lang',
         CAST(count(CASE WHEN lang IS NOT NULL
           AND lang NOT IN ('en', 'de', 'es', 'fr') THEN 1 END) AS BIGINT) AS v,
         count(CASE WHEN lang IS NOT NULL
           AND lang NOT IN ('en', 'de', 'es', 'fr') THEN 1 END) = 0
       FROM documents
       UNION ALL
       SELECT 'c5_has_embedding', 'ref_integrity', 'doc_id',
         CAST((SELECT count(*) FROM documents d
           WHERE d.doc_id IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS BIGINT) AS v,
         (SELECT count(*) FROM documents d
           WHERE d.doc_id IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) = 0"""

  // --- x131: cluster-aware split (the FIX for x80's leakage finding) ------
  // x80 AUDITS near-dup leakage across a doc-keyed split; this gate
  // removes it: the split key is the doc's near-dup CLUSTER (connected
  // component label; singletons key on their own id), so an entire
  // duplicate family lands in one split and cross-split near-dup pairs
  // are ZERO by construction — require'd in-gate on the same banded
  // pair set x80 audits.
  def x131ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = allPairs(spark, dir)
    val clusters = Dedup.duplicateClusters(pairs)
    val keyed = docs.select(col("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("label"), col("doc_id")))
    val split = Dedup.materialize(Sampling.hashSplit(keyed, "ckey",
        Seq(("train", 52429), ("val", 58982)), "test")
      .select(col("doc_id"), col("ckey"), col("split")))
    val sp = split.select(col("doc_id"), col("split"))
    val leaks = pairs
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    require(leaks == 0L,
      s"x131: $leaks near-dup pairs cross splits — cluster keying is broken")
    split.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("ckey")).as("n_clusters"))
  }

  val x131Sql: String = {
    val bkt = (c: String) =>
      s"""CAST((strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 4096
         + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 2, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 4, 1)) - 1) AS BIGINT)"""
    s"""WITH RECURSIVE ${jaccardCtes(3)},
       ${componentCtes(0.7)},
       cl AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY id),
       keyed AS (SELECT d.doc_id, coalesce(cl.label, d.doc_id) AS ckey
         FROM documents d LEFT JOIN cl USING (doc_id)),
       sp AS (SELECT doc_id, ckey,
           CASE WHEN ${bkt("ckey")} < 52429 THEN 'train'
                WHEN ${bkt("ckey")} < 58982 THEN 'val' ELSE 'test' END AS split
         FROM keyed)
       SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters
       FROM sp GROUP BY 1"""
  }

  // --- x110: session-scoped conversion funnel ----------------------------
  // x08's gap sessions composed with x94's ordered funnel: the chain
  // must complete INSIDE one session — the composite (user, session)
  // progression key exercises funnelByKeys.
  def x110SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val sess = Events.sessionizeBatch(
      ev.withColumn("ts_us", Events.epochMicros(ev)),
      "user_id", "ts_us", gap = 30L * 60 * 1000000L)
    Events.funnelByKeys(sess, Seq("user_id", "session_seq"),
      "event_type", "ts_us", Seq("view", "click", "purchase"))
  }

  val x110Sql: String =
    """WITH x AS (SELECT user_id, event_type, epoch_us(ts) AS e FROM events),
       s AS (SELECT user_id, event_type, e,
         CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
         FROM x WINDOW w AS (PARTITION BY user_id ORDER BY e)),
       g AS (SELECT user_id, event_type, e,
         sum(ns) OVER (PARTITION BY user_id ORDER BY e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq FROM s),
       s1 AS (SELECT user_id, seq, min(e) AS t FROM g
         WHERE event_type = 'view' GROUP BY 1, 2),
       s2 AS (SELECT g.user_id, g.seq, min(g.e) AS t FROM g
         JOIN s1 ON g.user_id = s1.user_id AND g.seq = s1.seq AND g.e > s1.t
         WHERE g.event_type = 'click' GROUP BY 1, 2),
       s3 AS (SELECT g.user_id, g.seq, min(g.e) AS t FROM g
         JOIN s2 ON g.user_id = s2.user_id AND g.seq = s2.seq AND g.e > s2.t
         WHERE g.event_type = 'purchase' GROUP BY 1, 2)
       SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
         CAST(count(*) AS BIGINT) AS units FROM s1
       UNION ALL
       SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
       UNION ALL
       SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3"""

  // --- x132: per-language KN scoring + CCNet quality buckets --------------
  // The CCNet curation cut (Wenzek et al. 2020): every language gets its
  // OWN Kneser-Ney model (LangModel.knScoreBy — pooling would let the
  // dominant language's statistics drown the rest) and its own
  // head/middle/tail boundaries (Sampling.groupedPhases — per-group
  // thirds of the score distribution, phase 0 = most reference-like).
  // The rollup re-rounds the 6-dp score to exact integer micro-units
  // before summing, so the per-bucket totals are order-free LONGs.
  def x132PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    // materialized: groupedPhases consumes the scored frame twice (the
    // distribution pass and the join-back) — x05 multi-consumer rule
    val scored = Dedup.materialize(LangModel.knScoreBy(
      t(spark, dir, "documents"), "doc_id", "text", Seq("lang")))
    Sampling.groupedPhases(scored, Seq("lang"), "avg_lp", 3)
      .groupBy(col("lang"), col("phase").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(round(col("avg_lp") * lit(1e6d), 0).cast("long")).as("sum_lp6"))
  }

  val x132Sql: String =
    """WITH t AS (SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
       bi AS (SELECT doc_id, lang, unnest(range(1, len(ws))) AS i, ws FROM t),
       bg AS (SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2 FROM bi),
       c2 AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2, 3),
       ctx AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS c1,
           CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1, 2),
       back AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1, 2),
       np AS (SELECT lang, CAST(count(*) AS BIGINT) AS np FROM c2 GROUP BY 1),
       sc AS (SELECT bg.doc_id, bg.lang,
           CAST(round(ln(
             (CAST(c2.c2 AS DOUBLE) - 0.75 +
              0.75 * CAST(ctx.n1f AS DOUBLE) *
                (CAST(back.n1b AS DOUBLE) / CAST(np.np AS DOUBLE)))
             / CAST(ctx.c1 AS DOUBLE)) * 1000000000.0, 0) AS BIGINT) AS lp9
         FROM bg JOIN c2 USING (lang, w1, w2) JOIN ctx USING (lang, w1)
         JOIN back USING (lang, w2) JOIN np USING (lang)),
       d AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
           round((CAST(sum(lp9) AS DOUBLE) / 1000000000.0)
                 / CAST(count(*) AS DOUBLE), 6) AS avg_lp
         FROM sc GROUP BY 1, 2),
       dist AS (SELECT lang, avg_lp AS s, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
       cb AS (SELECT lang, s,
           CAST(coalesce(sum(c) OVER (PARTITION BY lang ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum,
           CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         FROM dist),
       ph AS (SELECT lang, s, (3 * cum) // n AS bucket FROM cb),
       j AS (SELECT d.lang, ph.bucket, d.n_bigrams, d.avg_lp
         FROM d JOIN ph ON d.lang = ph.lang AND d.avg_lp = ph.s)
       SELECT lang, CAST(bucket AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
         CAST(sum(CAST(round(avg_lp * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_lp6
       FROM j GROUP BY 1, 2"""

  // --- x133: fuzzy benchmark decontamination (MinHash probe) --------------
  // The fuzzy complement to x31/x55's exact n-gram overlap: eval items
  // that were PARAPHRASED or lightly edited into the corpus don't share
  // exact 5-grams but do share most shingles — the near-dup
  // decontamination pass of GPT-3 appendix C / Dodge et al. 2021. The
  // %10 = 0 slice stands in for the benchmark; the corpus probes the
  // benchmark's LSH band index (x48's machinery: O(corpus x bands)
  // probe, never all-pairs, exact-Jaccard verify), and contaminated
  // docs roll up per source. Oracle = exact cross-slice Jaccard (banded
  // recall at 0.7 is exact to well past oracle precision).
  def x133FuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val pairs = Dedup.minhashPairsAgainst(corpus, bench, "doc_id", "text",
      shingleN = 3, bands = 32, rowsPerBand = 2, threshold = 0.7)
    val hit = pairs.select(col("inc_id").as("doc_id")).distinct()
      .withColumn("__hit", lit(1))
    corpus.join(hit, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__hit").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("n_contaminated"))
      .withColumn("n_clean", col("n_docs") - col("n_contaminated"))
  }

  val x133Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM documents),
       sh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w),
       sh AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       inter AS (SELECT a.doc_id AS inc_id, b.doc_id AS hist_id, count(*) AS i
                 FROM posts a JOIN posts b ON a.s = b.s
                 WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0 GROUP BY 1, 2),
       sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
       hits AS (SELECT DISTINCT inc_id AS doc_id
         FROM inter JOIN sizes na ON na.doc_id = inc_id
         JOIN sizes nb ON nb.doc_id = hist_id
         WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.7)
       SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
         CAST(count(*) - count(h.doc_id) AS BIGINT) AS n_clean
       FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       WHERE d.doc_id % 10 <> 0
       GROUP BY 1"""

  // --- x134: blocked edit-distance entity matching ------------------------
  // Entity-resolution blocking (Fellegi-Sunter; Christen 2012) on the
  // customer master: candidate duplicate records meet only inside their
  // (nation, name-prefix) block — one equi-join shuffle, O(sum block^2)
  // pairs, never the O(n^2) cross join — then the codegen'd levenshtein
  // keeps pairs within edit distance 1. DuckDB's levenshtein is the
  // same unit-cost DP distance, so the oracle is exact.
  def x134BlockedEr(spark: SparkSession, dir: String): DataFrame =
    Similarity.blockedEditPairs(t(spark, dir, "customer"),
      "c_custkey", "c_name",
      // concat (not concat_ws): NULL-PROPAGATING like the oracle's ||,
      // so a null nationkey excludes the record in BOTH engines instead
      // of silently blocking on the bare name prefix in one
      concat(col("c_nationkey").cast("string"), lit("|"),
        substring(col("c_name"), 1, 16)),
      maxDist = 1)

  val x134Sql: String =
    """WITH b AS (SELECT c_custkey AS id, c_name AS nm,
           CAST(c_nationkey AS VARCHAR) || '|' || substr(c_name, 1, 16) AS bk
         FROM customer)
       SELECT a.id AS id_a, c.id AS id_b, levenshtein(a.nm, c.nm) AS dist
       FROM b a JOIN b c ON a.bk = c.bk AND a.id < c.id
       WHERE levenshtein(a.nm, c.nm) <= 1"""

  // --- x135: temporal embargo split (purged time-series holdout) ----------
  // The time-ordered eval-hygiene split (de Prado 2018): train before
  // the 70th percentile of the time RANGE, test after the 80th, the
  // embargo window between DROPPED so autocorrelated state cannot
  // straddle the boundary. The audit reports per-split volume plus
  // cold-start users (test users never seen in train) — the number that
  // tells you whether the test split actually measures generalization
  // to new users or only to new time.
  def x135EmbargoSplit(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val ev = e.select(col("event_id"), col("user_id"),
      Events.epochMicros(e).as("ts_us"))
    val sp = Dedup.materialize(Sampling.embargoSplit(ev, "ts_us", 70, 10))
    val trainUsers = sp.filter(col("split") === "train")
      .select(col("user_id")).distinct().withColumn("__seen", lit(1))
    sp.join(trainUsers, Seq("user_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        count_distinct(when(col("__seen").isNull, col("user_id")))
          .as("n_cold_users"))
  }

  val x135Sql: String =
    """WITH x AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
       b AS (SELECT min(ts_us) AS mn, max(ts_us) AS mx FROM x),
       s AS (SELECT user_id,
           CASE WHEN ts_us < mn + ((mx - mn) * 70) // 100 THEN 'train'
                WHEN ts_us < mn + ((mx - mn) * 80) // 100 THEN 'embargo'
                ELSE 'test' END AS split
         FROM x CROSS JOIN b),
       tu AS (SELECT DISTINCT user_id FROM s WHERE split = 'train')
       SELECT s.split, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users,
         CAST(count(DISTINCT CASE WHEN tu.user_id IS NULL THEN s.user_id END) AS BIGINT) AS n_cold_users
       FROM s LEFT JOIN tu ON s.user_id = tu.user_id
       GROUP BY 1"""

  // --- x136: approximate-FD profile (g3 error) ----------------------------
  // Dependency DISCOVERY next to x130's declared checks: how far is each
  // candidate lhs -> rhs from holding exactly, by the g3 measure TANE
  // minimizes (rows to delete / total). l_orderkey -> l_linestatus is a
  // near-FD (line items of an order mostly ship together), the others
  // are deliberately weak — the profile's job is the NUMBER, not a
  // boolean.
  def x136FdProfile(spark: SparkSession, dir: String): DataFrame =
    Profiling.fdProfile(t(spark, dir, "lineitem"), Seq(
      ("l_orderkey", "l_linestatus"),
      ("l_partkey", "l_suppkey"),
      ("l_suppkey", "l_returnflag")))

  val x136Sql: String = {
    def one(lhs: String, rhs: String): String =
      s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(count(*) FILTER (WHERE k > 1) AS BIGINT) AS n_violating_groups,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(n - m) AS BIGINT) AS n_violations,
         round(CAST(sum(n - m) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS g3_rate
       FROM (SELECT l, sum(c) AS n, max(c) AS m, count(*) AS k
             FROM (SELECT $lhs AS l, $rhs AS r, CAST(count(*) AS BIGINT) AS c
                   FROM lineitem GROUP BY 1, 2) GROUP BY 1)"""
    s"""${one("l_orderkey", "l_linestatus")}
       UNION ALL ${one("l_partkey", "l_suppkey")}
       UNION ALL ${one("l_suppkey", "l_returnflag")}"""
  }

  // --- x137: STREAMING vector-index maintenance ---------------------------
  // x129's maintained IVF+PQ store fed by a STREAM: the day's embedding
  // increment arrives in micro-batches (file-per-batch replay), each
  // folded in by VectorStore.appendDay inside foreachBatch — encode
  // against the frozen model, partition-pruned merge on (vec_id, sub).
  // Appends commute and replays replace, so the final store state is
  // micro-batch-invariant AND at-least-once-safe (one batch is
  // deliberately re-appended after the drain); the closing probe must
  // equal the one-shot IVF+PQ pass over the full corpus, bit for bit —
  // x129's contract, reached through the streaming door.
  def x137StreamVectorStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.VectorStore
    val data = t(spark, dir, "embeddings")
    val incPred = col("vec_id") % 5 === 1 && col("vec_id") % 3 =!= 0
    val inc = Dedup.materialize(data.filter(incPred))
    // r15 bench diet: hardlink-clone the build-once historical store
    // (identical content to x129's — see vecHistProto); the stream below
    // mutates the clone
    val root = FreshTables.next(spark, dir, "svecstore")
    ProtoStores.cloneTo(spark, vecHistProto(spark, dir), root)
    val batchKey = expr("pmod(vec_id div 3, 3)").cast("int")
    val base = FreshTables.next(spark, dir, "svecin")
    Replay.foreachBatch(spark, inc, batchKey, base, "x137") { (batch, _) =>
      VectorStore.appendDay(spark, batch, "vec_id", "embedding", root,
        dim = 64, m = 4, k = 16, stride = 3)
    }
    // at-least-once replay: re-deliver one batch AFTER the drain — the
    // (vec_id, sub) merge must replace, not duplicate
    VectorStore.appendDay(spark, inc.filter(batchKey === 1),
      "vec_id", "embedding", root, dim = 64, m = 4, k = 16, stride = 3)
    val nCodes = graft.sources.ManifestStore.read(spark, s"$root/codes").count()
    require(nCodes == data.count() * 4,
      s"x137: store holds $nCodes code rows, expected corpus x m")
    VectorStore.probe(spark, data.filter(col("vec_id") < 8),
      "vec_id", "embedding", root,
      dim = 64, m = 4, k = 16, stride = 3, nprobe = 3, topK = 10)
  }

  // final store state == the full-corpus IVF+PQ index (the frozen model
  // is the full-data model by construction, as in x129)
  val x137Sql: String = x128Sql

}
