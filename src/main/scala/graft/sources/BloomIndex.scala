package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.StoreSidecar

/** Per-partition Bloom filters over a NON-partition column — the
  * equality-skipping complement to [[ZoneMaps]] (Bloom 1970; the
  * Parquet/ORC bloom-filter statistic lifted to partition granularity
  * for [[ManifestStore]] tables). Zone maps skip RANGE predicates on
  * columns that CLUSTER with the layout; blooms skip point lookups
  * (`col = v`) on high-cardinality columns that DON'T — the "find one
  * document by id in a date-partitioned 100 TB corpus" query, where
  * min/max ranges cover everything and prune nothing.
  *
  * The filter is the textbook m-bit / K-hash Bloom built from Spark
  * primitives only (codegen'd, mergeable): each non-null value sets K
  * positions `pmod(xxhash64(cast(v as string), i), m)`; a partition's
  * bitset is the `bit_or` of its rows' one-hot words, stored SPARSE as
  * a `map<word index, 64-bit word>` — a partition touching few of the
  * m/64 words pays only for those. No false negatives by construction
  * (a stored value's K bits are all set), so skipping is always sound;
  * false positives only cost an extra partition scan (fpp per
  * partition ≈ (1 − e^(−K·n/m))^K for n distinct values).
  *
  * Freshness follows the [[ZoneMaps]] contract: the index is stamped
  * with the snapshot version it measured; [[readEq]] consults it only
  * when the stamp matches, degrading to the unskipped (still filtered,
  * still correct) scan otherwise — `requireFresh = true` makes
  * staleness loud. A partition with ONLY nulls in the column writes no
  * bloom row and is safely skipped: `col = v` is never true on null.
  *
  * 100 TB shape: refresh is ONE column-pruned scan whose shuffle is
  * O(partitions × touched words) — bounded by partitions × m/64, not
  * by rows; the probe reads the O(partitions)-row side table, collects
  * only the QUALIFYING partitions' values (driver-side routing
  * metadata, same class as the ManifestStore listing), and the skip is
  * planning-time directory pruning via the shared balanced OR-of-AND
  * predicate. Because bloom(A ∪ B) = bloom(A) | bloom(B), day-over-day
  * maintenance can bit_or a new day's words into the stored map
  * instead of rescanning history.
  */
object BloomIndex {

  private def bloomT(table: String, col: String): String =
    new org.apache.hadoop.fs.Path(table, s"_bloom/$col").toString

  /** (Re)build the per-partition blooms of `valCol` for the CURRENT
    * snapshot: one column-pruned scan, O(partitions × m/64) output,
    * version-stamped with (m, K) so probes hash identically.
    */
  def refresh(
      spark: SparkSession,
      table: String,
      valCol: String,
      bits: Int = 1 << 17,
      hashes: Int = 5): Unit = {
    val pcols = ManifestStore.partitionColsOf(spark, table)
    requireMappable(pcols, valCol, bits, hashes)
    val version = ManifestStore.currentVersion(spark, table)
    val packed = packedFrame(
      ManifestStore.read(spark, table), pcols, Seq(valCol), bits, hashes)
      .filter(col("__c") === valCol).drop("__c")
    commitPacked(spark, table, valCol, packed, version, bits, hashes)
  }

  private[sources] def requireMappable(
      pcols: Seq[String], valCol: String, bits: Int, hashes: Int): Unit = {
    require(!pcols.contains(valCol),
      s"BloomIndex: $valCol is a partition column — partition pruning " +
        "already skips on it; a bloom adds nothing")
    require(bits >= 64 && hashes >= 1,
      s"BloomIndex: need bits >= 64 and hashes >= 1, got ($bits, $hashes)")
  }

  /** Per-partition packed blooms of EVERY listed column in ONE pass —
    * one scan, one (partition, column, word) shuffle, however many
    * columns ([[SkippingIndexes.refreshAll]]'s bloom half). Each row's
    * K positions per column are tagged with the column name and
    * exploded together; a column's NULL rows carry a keep=false flag
    * and drop after the explode (codegen'd — no higher-order-function
    * filter). Output: `pcols + __c (column name) + __words`.
    */
  private[graft] def packedFrame(
      snapshot: DataFrame,
      pcols: Seq[String],
      valCols: Seq[String],
      bits: Int,
      hashes: Int): DataFrame = {
    // the value is hashed THROUGH ITS STRING FORM so the probe (a
    // driver-side literal) provably hashes like the refresh (a column)
    val entries = valCols.flatMap(c => (0 until hashes).map(i => struct(
      lit(c).as("__c"),
      pmod(xxhash64(col(c).cast("string"), lit(i)), lit(bits.toLong))
        .as("__pos"),
      col(c).isNotNull.as("__keep"))))
    snapshot
      .select(pcols.map(col) :+ explode(array(entries: _*)).as("__e"): _*)
      .filter(col("__e.__keep"))
      .select(pcols.map(col) :+ col("__e.__c").as("__c") :+
        col("__e.__pos").as("__pos"): _*)
      .groupBy(pcols.map(col) :+ col("__c") :+ expr("__pos div 64").as("__w"): _*)
      .agg(bit_or(expr(
        "shiftleft(cast(1 as bigint), cast(pmod(__pos, 64) as int))"))
        .as("__bits"))
      .groupBy(pcols.map(col) :+ col("__c"): _*)
      .agg(map_from_entries(collect_list(struct(col("__w"), col("__bits"))))
        .as("__words"))
  }

  /** Commit one column's packed words (`pcols + __words`) as the
    * `_bloom/<col>` side table stamped at `version` — which the caller
    * read BEFORE the snapshot (the [[ZoneMaps.commitStats]]
    * under-stamping argument).
    */
  private[sources] def commitPacked(
      spark: SparkSession,
      table: String,
      valCol: String,
      packed: DataFrame,
      version: Int,
      bits: Int,
      hashes: Int): Unit = {
    ManifestStore.write(spark, packed.withColumn("__bpt", lit(0L)),
      bloomT(table, valCol), "__bpt")
    StoreSidecar.write(spark, bloomT(table, valCol), Seq(
      "version" -> version.toLong,
      "bits" -> bits.toLong,
      "hashes" -> hashes.toLong))
  }

  /** Fold ONE ManifestStore commit's rows into the stored blooms
    * WITHOUT rescanning history — bloom(A ∪ B) = bloom(A) | bloom(B),
    * so the appended batch's words bit_or into the stored maps and the
    * stamp advances to the new snapshot. Cost is O(index size +
    * batch), independent of the table's history.
    *
    * Contract: call IMMEDIATELY after the commit that wrote `batch`,
    * with the same rows — the stored stamp must be exactly one version
    * behind the snapshot (any interleaved commit means the index no
    * longer covers the table; that degrades LOUDLY here, never to
    * false negatives — refresh() instead). Sound for replace-merges
    * and deletes too: a replaced/removed value's bits linger, which
    * can only ADD false positives (fpp creeps until the next full
    * refresh re-measures; pure appends stay bit-identical to it).
    */
  def mergeAppend(
      spark: SparkSession,
      table: String,
      valCol: String,
      batch: DataFrame): Unit = {
    val bt = bloomT(table, valCol)
    val meta = StoreSidecar.read(spark, bt, Seq("version", "bits", "hashes"))
      .getOrElse(throw new IllegalArgumentException(
        s"BloomIndex: no index for $table/$valCol — refresh() first"))
    val current = ManifestStore.currentVersion(spark, table)
    require(meta("version") + 1 == current.toLong,
      s"BloomIndex: index stamped v${meta("version")} but the snapshot " +
        s"is v$current — mergeAppend covers exactly ONE commit; refresh()")
    val bits = meta("bits")
    val hashes = meta("hashes").toInt
    val pcols = ManifestStore.partitionColsOf(spark, table)
    val positions = (0 until hashes).map(i =>
      pmod(xxhash64(col(valCol).cast("string"), lit(i)), lit(bits)))
    val batchWords = batch
      .filter(col(valCol).isNotNull)
      .select(pcols.map(col) :+ explode(array(positions: _*)).as("__pos"): _*)
      .groupBy(pcols.map(col) :+ expr("__pos div 64").as("__w"): _*)
      .agg(bit_or(expr(
        "shiftleft(cast(1 as bigint), cast(pmod(__pos, 64) as int))"))
        .as("__bits"))
    val storedWords = ManifestStore.read(spark, bt)
      .select(pcols.map(col) :+ explode(col("__words")).as(Seq("__w", "__bits")): _*)
    val packed = storedWords.unionByName(batchWords)
      .groupBy(pcols.map(col) :+ col("__w"): _*)
      .agg(bit_or(col("__bits")).as("__bits"))
      .groupBy(pcols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__w"), col("__bits"))))
        .as("__words"))
      .withColumn("__bpt", lit(0L))
    ManifestStore.write(spark, packed, bt, "__bpt")
    StoreSidecar.write(spark, bt, Seq(
      "version" -> current.toLong,
      "bits" -> bits,
      "hashes" -> hashes.toLong))
  }

  /** Total, idempotent per-ingest maintenance — the streaming door's
    * form of [[mergeAppend]], branching on an EXPLICIT version probe
    * (never a catch): stamp == snapshot → already folded (a replayed
    * batch after a successful fold), no-op; one behind → fold the
    * batch in at O(index + batch); further behind (the replay window
    * tore — a crash landed between the table commit and the fold, so
    * the re-delivered commit doubled the gap) → full [[refresh]],
    * correct at O(table). Every at-least-once replay position
    * converges: folds are idempotent, the torn window degrades to a
    * rescan, never to false negatives.
    */
  def maintainAppend(
      spark: SparkSession,
      table: String,
      valCol: String,
      batch: DataFrame): Unit = {
    val meta = StoreSidecar
      .read(spark, bloomT(table, valCol), Seq("version", "bits", "hashes"))
    val current = ManifestStore.currentVersion(spark, table).toLong
    meta match {
      case Some(m) if m("version") == current => () // replay after a completed fold
      case Some(m) if m("version") + 1 == current =>
        mergeAppend(spark, table, valCol, batch)
      case Some(m) => // torn window: rebuild, keeping the sized (m, K)
        refresh(spark, table, valCol, m("bits").toInt, m("hashes").toInt)
      case None => refresh(spark, table, valCol)
    }
  }

  // ---- token blooms: equality skipping INSIDE a text column ----

  private def bloomTokT(table: String, col: String): String =
    new org.apache.hadoop.fs.Path(table, s"_bloomtok/$col").toString

  /** The ONE tokenization both the refresh and the probe's residual use
    * (`LangModel.tokenRowsBy`'s boundary): lowercase, split on runs of
    * non-alphanumerics. A probe term must BE a token of this alphabet —
    * enforced loudly, because a mixed-case or punctuated term can never
    * match and would read as "no documents" instead of "bad query".
    */
  private val TokenSplit = "[^a-z0-9]+"

  private def tokenArr(c: org.apache.spark.sql.Column) =
    split(lower(c), TokenSplit)

  /** (Re)build per-partition blooms over the DISTINCT TOKENS of a text
    * column — keyword-level data skipping ("which partitions of the
    * 100 TB corpus can mention this term at all?"), the search-side
    * sibling of [[refresh]]'s value blooms: a takedown sweep, a
    * benchmark-contamination spot check, or an eval-set keyword audit
    * prunes to the partitions whose token bloom might contain the term
    * instead of scanning the corpus. One column-pruned scan; the
    * shuffle is O(partitions × m/64) after map-side combine (tokens
    * collapse into word masks per partition), never O(tokens).
    */
  def refreshTokens(
      spark: SparkSession,
      table: String,
      textCol: String,
      bits: Int = 1 << 17,
      hashes: Int = 5): Unit = {
    val pcols = ManifestStore.partitionColsOf(spark, table)
    requireMappable(pcols, textCol, bits, hashes)
    val version = ManifestStore.currentVersion(spark, table)
    val packed = packTokenWords(
      ManifestStore.read(spark, table), pcols, textCol, bits, hashes)
    ManifestStore.write(spark, packed.withColumn("__bpt", lit(0L)),
      bloomTokT(table, textCol), "__bpt")
    StoreSidecar.write(spark, bloomTokT(table, textCol), Seq(
      "version" -> version.toLong,
      "bits" -> bits.toLong,
      "hashes" -> hashes.toLong))
  }

  /** `pcols + __words` token-bloom rows of a snapshot slice — explode
    * tokens, hash K positions each (through the string the probe also
    * hashes), pack per (partition, word). Null/empty texts contribute
    * nothing (explode of a null array emits no row).
    */
  private def packTokenWords(
      snapshot: DataFrame,
      pcols: Seq[String],
      textCol: String,
      bits: Long,
      hashes: Int): DataFrame = {
    val positions = (0 until hashes).map(i =>
      pmod(xxhash64(col("__tok"), lit(i)), lit(bits)))
    snapshot
      .select(pcols.map(col) :+ explode(tokenArr(col(textCol))).as("__tok"): _*)
      .filter(col("__tok") =!= "")
      .select(pcols.map(col) :+ explode(array(positions: _*)).as("__pos"): _*)
      .groupBy(pcols.map(col) :+ expr("__pos div 64").as("__w"): _*)
      .agg(bit_or(expr(
        "shiftleft(cast(1 as bigint), cast(pmod(__pos, 64) as int))"))
        .as("__bits"))
      .groupBy(pcols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__w"), col("__bits"))))
        .as("__words"))
  }

  /** Fold one commit's docs into the token blooms — [[mergeAppend]]'s
    * contract (exactly one version behind, loud otherwise; replaced
    * docs' tokens linger as extra false positives until the next full
    * refresh; pure appends bit-identical to it).
    */
  def mergeAppendTokens(
      spark: SparkSession,
      table: String,
      textCol: String,
      batch: DataFrame): Unit = {
    val bt = bloomTokT(table, textCol)
    val meta = StoreSidecar.read(spark, bt, Seq("version", "bits", "hashes"))
      .getOrElse(throw new IllegalArgumentException(
        s"BloomIndex: no token index for $table/$textCol — refreshTokens() first"))
    val current = ManifestStore.currentVersion(spark, table)
    require(meta("version") + 1 == current.toLong,
      s"BloomIndex: token index stamped v${meta("version")} but the snapshot " +
        s"is v$current — mergeAppendTokens covers exactly ONE commit; refreshTokens()")
    val pcols = ManifestStore.partitionColsOf(spark, table)
    val batchWords = packTokenWords(batch, pcols, textCol,
      meta("bits"), meta("hashes").toInt)
      .select(pcols.map(col) :+ explode(col("__words")).as(Seq("__w", "__bits")): _*)
    val storedWords = ManifestStore.read(spark, bt)
      .select(pcols.map(col) :+ explode(col("__words")).as(Seq("__w", "__bits")): _*)
    val packed = storedWords.unionByName(batchWords)
      .groupBy(pcols.map(col) :+ col("__w"): _*)
      .agg(bit_or(col("__bits")).as("__bits"))
      .groupBy(pcols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__w"), col("__bits"))))
        .as("__words"))
      .withColumn("__bpt", lit(0L))
    ManifestStore.write(spark, packed, bt, "__bpt")
    StoreSidecar.write(spark, bt, Seq(
      "version" -> current.toLong,
      "bits" -> meta("bits"),
      "hashes" -> meta("hashes")))
  }

  /** The conjunctive token residual — the ONE definition [[readContainsAll]]
    * and [[SkippingIndexes]]' `HasTokens` predicate share, so the
    * residual can never drift from the refresh's tokenization.
    */
  private[sources] def tokensResidual(textCol: String, terms: Seq[String]) =
    terms.map(t => array_contains(tokenArr(col(textCol)), t)).reduce(_ && _)

  /** Rows whose token set contains EVERY term in `terms` — the keyword
    * sweep, scanning only partitions whose token bloom might contain
    * ALL of them when the index is fresh (a doc holding every term
    * implies its partition's bloom holds every term's bits — skipping
    * is sound per conjunct), degrading to the full filtered scan
    * otherwise. The conjunctive residual ALWAYS applies; results never
    * depend on the blooms.
    */
  def readContainsAll(
      spark: SparkSession,
      table: String,
      textCol: String,
      terms: Seq[String],
      requireFresh: Boolean = false): DataFrame = {
    val pred = tokensResidual(textCol, terms)
    qualifyingTokens(spark, table, textCol, terms) match {
      case None =>
        require(!requireFresh,
          s"BloomIndex: $table/$textCol token index is absent or stale — " +
            "refreshTokens() before a requireFresh read")
        ManifestStore.read(spark, table).filter(pred)
      case Some(quals) =>
        val base = ManifestStore.read(spark, table)
        if (quals.isEmpty) base.limit(0).filter(pred)
        else {
          val pcols = ManifestStore.partitionColsOf(spark, table)
          base.filter(ManifestStore.partitionValuesPred(pcols, quals))
            .filter(pred)
        }
    }
  }

  /** The partitions whose token bloom might contain ALL `terms` — None
    * when the index is absent or stale. Terms must already be tokens of
    * the index's alphabet (lowercase alphanumeric): a term the
    * tokenizer could never emit is refused loudly instead of silently
    * matching nothing.
    */
  def qualifyingTokens(
      spark: SparkSession,
      table: String,
      textCol: String,
      terms: Seq[String]): Option[Seq[Seq[Any]]] = {
    require(terms.nonEmpty && terms.size <= 256,
      s"BloomIndex: need 1..256 probe terms, got ${terms.size}")
    terms.foreach(t => require(t.matches("[a-z0-9]+"),
      s"BloomIndex: '$t' is not a token of the index alphabet " +
        "([a-z0-9]+) — normalize the term the way the tokenizer would"))
    val bt = bloomTokT(table, textCol)
    val meta = StoreSidecar.read(spark, bt, Seq("version", "bits", "hashes"))
      .getOrElse(return None)
    if (meta("version") != ManifestStore.currentVersion(spark, table).toLong)
      return None
    val bits = meta("bits")
    val hashes = meta("hashes").toInt
    // one 1-row local job through the SAME hash expressions as refresh
    val probed = spark.range(1).select(terms.zipWithIndex.flatMap {
      case (t, j) => (0 until hashes).map(i =>
        pmod(xxhash64(lit(t), lit(i)), lit(bits)).as(s"p${j}_$i"))
    }: _*).head()
    val mightContainAll = terms.indices.map { j =>
      (0 until hashes)
        .map(i => probed.getLong(j * hashes + i))
        .groupBy(_ / 64)
        .map { case (w, ps) => w -> ps.map(p => 1L << (p % 64)).reduce(_ | _) }
        .map { case (w, msk) =>
          coalesce(element_at(col("__words"), lit(w)), lit(0L))
            .bitwiseAND(lit(msk)) === lit(msk)
        }.reduce(_ && _)
    }.reduce(_ && _)
    val pcols = ManifestStore.partitionColsOf(spark, table)
    Some(ManifestStore.read(spark, bt)
      .filter(mightContainAll)
      .select(pcols.map(col): _*)
      .collect().toSeq.map(r => pcols.indices.map(r.get)))
  }

  /** Rows of `table` with `valCol = value` (non-null), scanning only
    * the partitions whose bloom might contain the value when the index
    * is fresh — the full (still filtered, still correct) scan when it
    * is not. Results NEVER depend on the blooms: no false negatives, so
    * they only prove partitions empty of matches.
    */
  def readEq(
      spark: SparkSession,
      table: String,
      valCol: String,
      value: Any,
      requireFresh: Boolean = false): DataFrame = {
    require(value != null, "BloomIndex.readEq: `col = null` is never true")
    val pred = col(valCol) === lit(value)
    qualifying(spark, table, valCol, value) match {
      case None =>
        require(!requireFresh,
          s"BloomIndex: $table/$valCol index is absent or stale — " +
            "refresh() before a requireFresh read")
        ManifestStore.read(spark, table).filter(pred)
      case Some(quals) =>
        val base = ManifestStore.read(spark, table)
        if (quals.isEmpty) base.limit(0).filter(pred)
        else {
          val pcols = ManifestStore.partitionColsOf(spark, table)
          base.filter(ManifestStore.partitionValuesPred(pcols, quals))
            .filter(pred)
        }
    }
  }

  /** Rows of `table` with `valCol` IN `values` — the multi-key form of
    * [[readEq]] ("fetch these N documents from the 100 TB corpus"): a
    * partition qualifies when its bloom might contain ANY of the
    * values, all values' positions are hashed in ONE local job, and
    * the full IN-list always applies as the residual. For lists past a
    * few hundred keys, a broadcast semi-join on the table is the right
    * tool, not a bloom probe per value — refused loudly.
    */
  def readIn(
      spark: SparkSession,
      table: String,
      valCol: String,
      values: Seq[Any],
      requireFresh: Boolean = false): DataFrame = {
    val pred = col(valCol).isin(values: _*)
    qualifyingIn(spark, table, valCol, values) match {
      case None =>
        require(!requireFresh,
          s"BloomIndex: $table/$valCol index is absent or stale — " +
            "refresh() before a requireFresh read")
        ManifestStore.read(spark, table).filter(pred)
      case Some(quals) =>
        val base = ManifestStore.read(spark, table)
        if (quals.isEmpty) base.limit(0).filter(pred)
        else {
          val pcols = ManifestStore.partitionColsOf(spark, table)
          base.filter(ManifestStore.partitionValuesPred(pcols, quals))
            .filter(pred)
        }
    }
  }

  /** The partitions whose bloom might contain `value` — the routing
    * half of [[readEq]], exposed for composite planning
    * ([[SkippingIndexes]]): None when the index is absent or stale,
    * Some(partition-value tuples) when fresh. All-null partitions have
    * no bloom row and never qualify (sound: the probed value is
    * non-null). O(partitions) driver-side routing metadata.
    */
  def qualifying(
      spark: SparkSession,
      table: String,
      valCol: String,
      value: Any): Option[Seq[Seq[Any]]] =
    qualifyingIn(spark, table, valCol, Seq(value))

  /** [[qualifying]] for an IN-list: a partition qualifies when ANY
    * value's K bits are all present in its bloom.
    */
  def qualifyingIn(
      spark: SparkSession,
      table: String,
      valCol: String,
      values: Seq[Any]): Option[Seq[Seq[Any]]] = {
    require(values.nonEmpty && !values.contains(null),
      "BloomIndex: IN-list must be non-empty and null-free " +
        "(`col = null` is never true)")
    require(values.size <= 256,
      s"BloomIndex: ${values.size}-key IN-list — past a few hundred keys " +
        "probe cost and fpp accumulate; use a broadcast semi-join instead")
    val bt = bloomT(table, valCol)
    val meta = StoreSidecar.read(spark, bt, Seq("version", "bits", "hashes"))
      .getOrElse(return None)
    if (meta("version") != ManifestStore.currentVersion(spark, table).toLong)
      return None
    val bits = meta("bits")
    val hashes = meta("hashes").toInt
    // every value's K positions, computed through the SAME expressions
    // as refresh (ONE 1-row local job — no second hash implementation
    // to drift); per value, collapsed to per-word masks (two hashes may
    // share a word)
    val probed = spark.range(1).select(values.zipWithIndex.flatMap {
      case (v, j) => (0 until hashes).map(i =>
        pmod(xxhash64(lit(v).cast("string"), lit(i)), lit(bits))
          .as(s"p${j}_$i"))
    }: _*).head()
    val mightContainAny = values.indices.map { j =>
      (0 until hashes)
        .map(i => probed.getLong(j * hashes + i))
        .groupBy(_ / 64)
        .map { case (w, ps) => w -> ps.map(p => 1L << (p % 64)).reduce(_ | _) }
        .map { case (w, msk) =>
          coalesce(element_at(col("__words"), lit(w)), lit(0L))
            .bitwiseAND(lit(msk)) === lit(msk)
        }.reduce(_ && _)
    }.reduce(_ || _)
    val pcols = ManifestStore.partitionColsOf(spark, table)
    Some(ManifestStore.read(spark, bt)
      .filter(mightContainAny)
      .select(pcols.map(col): _*)
      .collect().toSeq.map(r => pcols.indices.map(r.get)))
  }
}
