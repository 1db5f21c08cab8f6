package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Day-over-day MAINTAINED WEIGHTED SAMPLE — [[Sampling.weightedTopK]]
  * (Efraimidis–Spirakis A-Res, 2006) joins the maintained-store matrix
  * next to the four sketches (CM x114, histogram x123, HLL x143, KMV
  * x148). The production question: "keep a reproducible 1M-doc
  * weighted sample of the whole corpus, updated as days arrive,
  * honoring erasure requests" — without ever re-ranking history.
  *
  * The store works because A-Res priorities are DETERMINISTIC per row
  * (`round(ln(u)/max(w,1), 6)` with u from the row key's md5 — no RNG
  * state, no draw order): the global top-k by priority is a pure
  * function of the row set, and any of the global k largest priorities
  * is within its own day's k largest (pigeonhole). So per-day top-k
  * summaries merge LOSSLESSLY: the read-time top-k over day summaries
  * is bit-identical to the batch sample over the union.
  *
  * `slack` buys erasure headroom: each day retains its top-(k+slack)
  * candidates, and the merged top-k stays EXACT (equal to the batch
  * sample over the surviving corpus) as long as at most `slack` rows
  * of any single day's retained set have been forgotten — each day's
  * top-k among survivors is then still inside its retained set. Past
  * that bound the sample degrades to "top-k over retained candidates"
  * (never wrong rows, possibly rank-displaced ones); re-appending the
  * breached day restores exactness. The law is specced in
  * SampleStoreSpec.
  *
  * Scale shape: the daily append is one O(day) pass (salted two-phase
  * top-k — no global sort of the day) + O(k+slack) rows of commit I/O;
  * the store holds O(days × (k+slack)) rows total, so reads and
  * forgets touch bounded state no matter the corpus size. Forgets are
  * [[graft.sources.ManifestStore.delete]] keyed deletes whose locate
  * pass scans only the store itself, with per-day doomed counts
  * recorded in a seq-keyed `_forgetledger` — the budget bookkeeping
  * that lets [[compactDays]] fold old days into an epoch (capping the
  * store at O(live days × (k+slack)) forever) while REFUSING to
  * launder a day already past its slack.
  */
object SampleStore {

  /** Append one day's candidates: the day's top-(k+slack) rows by
    * A-Res priority land as day-keyed (key, es_key) rows — global, or
    * PER STRATUM when `byCols` is set (the per-language reproducible
    * sample; the slack law then holds per (stratum, day) retained
    * set). Replaying a day REPLACES its rows (keyed merge on the day
    * partition), so at-least-once delivery converges.
    */
  def appendDay(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      weight: org.apache.spark.sql.Column,
      day: String,
      k: Int,
      slack: Int,
      table: String,
      byCols: Seq[String] = Nil): Unit = {
    require(k > 0 && slack >= 0, s"SampleStore.appendDay: k=$k, slack=$slack")
    // the epoch namespace is reserved for [[compactDays]]
    import graft.sources.ManifestStore
    ManifestStore.requireDayTag("SampleStore.appendDay", day)
    // (k, slack) are STORE properties (the kmv-store lesson): a day
    // appended at a different retention width would silently break the
    // pigeonhole that makes the merged read exact — and compactDays
    // reads the fold width from here, so it can never mismatch either
    StoreSidecar.requireOrInit(spark, table, Seq(
      "k" -> k.toLong, "slack" -> slack.toLong), "SampleStore")
    val top = Sampling.weightedTopKBy(df, keyCol, weight, byCols, k + slack)
      .select((byCols :+ keyCol).map(col) :+ col("es_key"): _*)
      .withColumn("day", lit(day))
    ManifestStore.mergeOrCreate(spark, table, top,
      byCols ++ Seq(keyCol, "day"), "day")
  }

  private def ledgerT(table: String) = s"$table/_forgetledger"

  /** EPOCH COMPACTION of the day summaries — the metadata diet for a
    * sample maintained over years of daily ingest, with the slack law
    * restated for the folded world. The named days' retained rows fold
    * into ONE epoch row set: the global top-(k+slack) of their
    * surviving union (per stratum when the store is grouped), under
    * the store's own (k, slack) from the geometry sidecar — so the
    * fold width can never mismatch the build.
    *
    * Exactness, the x229 pigeonhole applied twice: (1) the READ is
    * bit-identical — any row in the global top-k over all stored rows
    * ranks ≤ k within the folded union, so it survives a
    * top-(k+slack) fold; (2) the slack BUDGET resets — the epoch's
    * row set is re-derived from survivors, so the epoch behaves as one
    * fresh day: the merged top-k stays exact while at most `slack`
    * rows of the EPOCH's retained set (and of each unfolded day's,
    * the original law) are forgotten. The price, stated honestly: N
    * days' separate slack budgets collapse into ONE epoch budget.
    *
    * The refusal (the forget-accountability fence): each folded day's
    * forgotten-row count — maintained by [[forget]] in the
    * `_forgetledger` sidecar table — must be ≤ slack. A day past its
    * budget is already serving a degraded sample ("top-k over retained
    * candidates", see the object doc), and folding it would DESTROY
    * the evidence, laundering the breach into an epoch that claims a
    * fresh budget. The cure: re-append the breached day from the
    * scrubbed corpus (the wholesale replace restores a full retained
    * set) and [[clearLedgerDay]] it — the fold is then legal with the
    * budget refilled. Ledger rows of FOLDED days are
    * dropped AFTER the fold commits (their budget is accounted by the
    * re-derivation); the epoch's own ledger rows are never dropped by
    * its own fold — a crash-window replay re-derives the epoch from
    * already-shrunk rows, so interleaved-forget budget must survive it
    * (see the inline note). A crash between the two commits replays
    * convergently.
    */
  def compactDays(
      spark: SparkSession,
      table: String,
      keyCol: String,
      foldDays: Seq[String],
      epochDay: String,
      byCols: Seq[String] = Nil): Unit = {
    import graft.sources.ManifestStore
    ManifestStore.requireEpochTag("SampleStore.compactDays", epochDay)
    require(foldDays.nonEmpty && !foldDays.contains(epochDay),
      "SampleStore.compactDays: foldDays must be non-empty and not contain the epoch tag")
    val g = StoreSidecar.require(spark, table, Seq("k", "slack"), "SampleStore.compactDays")
    val (k, slack) = (g("k").toInt, g("slack").toInt)
    // byCols is a store property of the same class as (k, slack): a fold
    // with the wrong strata would window minority-stratum rows out of a
    // GLOBAL top-(k+slack) and drop them irreversibly. The sidecar holds
    // integers only, but the table schema determines the columns exactly
    // — validate against it
    val have = ManifestStore.read(spark, table).columns.toSet
    val want = (byCols ++ Seq(keyCol, "es_key", "day")).toSet
    require(have == want,
      s"SampleStore.compactDays: $table columns ${have.toSeq.sorted.mkString(",")} " +
        s"do not match byCols+keyCol (${want.toSeq.sorted.mkString(",")}) — " +
        "folding with the wrong strata would drop per-stratum retained rows")
    val doomedDays = (foldDays :+ epochDay).distinct
    val lt = ledgerT(table)
    if (ManifestStore.hasData(spark, lt)) {
      val breaches = ManifestStore.read(spark, lt)
        .filter(col("day").isin(doomedDays: _*))
        .groupBy(col("day")).agg(sum(col("cnt")).as("forgotten"))
        .filter(col("forgotten") > slack)
        .collect()
      require(breaches.isEmpty,
        s"SampleStore.compactDays: day(s) ${breaches.map(r =>
            s"${r.getString(0)} (${r.getLong(1)} forgotten)").mkString(", ")} " +
          s"exceeded the slack budget ($slack) — their sample reads are already " +
          "degraded, and folding would make the breach unaccountable; " +
          "re-append the breached day(s) first to restore exactness")
    }
    val global = Window.partitionBy(byCols.map(col): _*)
      .orderBy(col("es_key").desc, col(keyCol))
    val epoch = ManifestStore.read(spark, table)
      .filter(col("day").isin(doomedDays: _*))
      .withColumn("__rk", row_number().over(global))
      .filter(col("__rk") <= k + slack)
      .select((byCols :+ keyCol).map(col) :+ col("es_key"): _*)
      .withColumn("day", lit(epochDay))
    import spark.implicits._
    ManifestStore.replaceWhere(spark, table, epoch,
      doomedDays.toDF("day"), Seq("day"))
    // the FOLDED days' ledger rows are consumed by the re-derivation —
    // the epoch starts with a full budget; dropped AFTER the fold so a
    // crash in between never erases an unconsumed breach record. The
    // epoch's OWN ledger rows are NEVER dropped here: a crash-window
    // replay re-derives the epoch from the already-shrunk epoch rows
    // (the folded days are gone — it cannot refill the retained set),
    // so budget spent on the epoch by an interleaved forget must
    // survive the replay or it would be laundered — the exact hole the
    // fence exists to close. (An epoch's ledger is consumed only when
    // that epoch is itself a foldDay of a LATER fold, whose
    // re-derivation from survivors genuinely refills the budget.)
    // (hasData, not exists: a fully-cleared ledger has no partitions
    // left to read or drop)
    if (ManifestStore.hasData(spark, lt))
      ManifestStore.replaceWhere(spark, lt,
        ManifestStore.read(spark, lt).limit(0),
        foldDays.distinct.toDF("day"), Seq("day"))
  }

  /** The maintained sample: global top-k by (es_key desc, key) over the
    * store's day summaries, ranked 1..k — bit-identical to
    * [[Sampling.weightedTopK]] over the surviving corpus whenever every
    * day's forget count is within its slack (see object doc). The scan
    * is O(days × (k+slack)) rows; the final rank runs on that bounded
    * set, not the corpus.
    */
  def sampleFromStore(
      spark: SparkSession,
      table: String,
      keyCol: String,
      k: Int,
      byCols: Seq[String] = Nil): DataFrame = {
    import graft.sources.ManifestStore
    val global = Window.partitionBy(byCols.map(col): _*)
      .orderBy(col("es_key").desc, col(keyCol))
    ManifestStore.read(spark, table)
      .withColumn("sample_rank", row_number().over(global).cast("long"))
      .filter(col("sample_rank") <= k)
      .select((byCols :+ keyCol).map(col) :+ col("sample_rank") :+ col("es_key"): _*)
  }

  /** Erase keys from the sample store (right-to-be-forgotten, the x171
    * matrix): a keyed ManifestStore delete. The doomed frame carries no
    * day column, so the delete's locate pass reads the STORE (bounded:
    * O(days × (k+slack)) rows), never the corpus. Exactness after the
    * forget follows the slack law in the object doc.
    *
    * The LEDGER (what makes the law auditable and [[compactDays]]
    * refusable): before the delete, the doomed keys' per-day hit
    * counts — per (day, stratum) MAX when the store is grouped, the
    * conservative reading of the per-stratum law — land in
    * `_forgetledger` keyed (day, forgetSeq). `forgetSeq` is the
    * per-request ticket number (the ViewStore/IndexStore contract:
    * unique per request, reused verbatim on replay), which makes the
    * two-commit window convergent: a replay BEFORE the delete
    * recomputes identical counts and upserts them in place; a replay
    * AFTER finds zero hits, writes nothing, and the committed rows
    * stand. Budget spent = ledger sum per day; re-appending a day
    * wholesale-replaces its rows AND clears its ledger (exactness
    * restored, budget refilled).
    */
  def forget(
      spark: SparkSession,
      table: String,
      keyCol: String,
      doomed: DataFrame,
      forgetSeq: Long,
      byCols: Seq[String] = Nil): Unit = {
    import graft.sources.ManifestStore
    val keys = doomed.select(col(keyCol)).distinct()
    val hitsByStratum = ManifestStore.read(spark, table)
      .join(keys, Seq(keyCol), "left_semi")
      .groupBy((byCols :+ "day").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    // materialized: the emptiness probe AND the merge both consume it
    // (the ViewStore.forgetA corr convention) — one store scan, not two
    val ledger = Dedup.materialize(hitsByStratum
      .groupBy(col("day")).agg(max(col("cnt")).as("cnt"))
      .withColumn("seq", lit(forgetSeq)))
    if (!ledger.head(1).isEmpty)
      ManifestStore.mergeOrCreate(spark, ledgerT(table), ledger,
        Seq("day", "seq"), "day")
    ManifestStore.delete(spark, table, keys, Seq(keyCol), Seq("day"))
  }

  /** Clear a day's forget-ledger rows — called when a day is
    * re-appended from the corpus (the breach cure: the wholesale
    * day replace restores the full retained set, so its budget
    * refills). Kept separate from [[appendDay]] because appendDay is
    * also the FIRST-delivery path, where no ledger exists to clear.
    *
    * REFUSES `epoch:` days: an epoch cannot be re-appended
    * ([[appendDay]] rejects the reserved prefix), so clearing its
    * ledger alone would launder a breach WITHOUT restoring the
    * retained set — the sample would silently keep serving the
    * degraded epoch under a fresh budget. The epoch cure is
    * [[repairEpoch]], which re-derives the rows from the surviving
    * corpus slice and clears the ledger together.
    */
  def clearLedgerDay(spark: SparkSession, table: String, day: String): Unit = {
    graft.sources.ManifestStore.requireDayTag("SampleStore.clearLedgerDay", day,
      " — clearing an epoch's ledger without re-deriving its rows would launder " +
        "the breach while the sample keeps serving the degraded retained set; " +
        "use repairEpoch")
    clearLedgerAny(spark, table, day)
  }

  private def clearLedgerAny(spark: SparkSession, table: String, day: String): Unit = {
    import graft.sources.ManifestStore
    import spark.implicits._
    val lt = ledgerT(table)
    if (ManifestStore.hasData(spark, lt))
      ManifestStore.replaceWhere(spark, lt,
        ManifestStore.read(spark, lt).limit(0), Seq(day).toDF("day"), Seq("day"))
  }

  /** The EPOCH breach cure — the repair path ordinary days get from
    * "re-append + [[clearLedgerDay]]", for epochs, whose source days no
    * longer exist as store rows: re-derive the epoch's retained set
    * from the SURVIVING corpus slice that the folded days covered
    * (`df`, already scrubbed of every forgotten subject — the same
    * input contract as re-appending a day from the scrubbed corpus),
    * wholesale-replace the epoch's rows, and clear its ledger. The
    * epoch is then a fresh retained set with a full slack budget, and
    * the merged read is again bit-identical to the batch sample over
    * survivors.
    *
    * Two commits, replay-convergent: a crash after the replace but
    * before the ledger clear re-runs both — the replace re-derives the
    * identical row set (its input is the corpus slice, not the store),
    * and the clear then lands; a crash before the replace leaves the
    * breached epoch AND its ledger intact, so [[compactDays]] keeps
    * refusing — the fence never opens on a half-repaired store.
    */
  def repairEpoch(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      weight: org.apache.spark.sql.Column,
      epochDay: String,
      table: String,
      byCols: Seq[String] = Nil): Unit = {
    import graft.sources.ManifestStore
    import spark.implicits._
    ManifestStore.requireEpochTag("SampleStore.repairEpoch", epochDay,
      " — re-append ordinary days via appendDay + clearLedgerDay")
    val g = StoreSidecar.require(spark, table, Seq("k", "slack"), "SampleStore.repairEpoch")
    val (k, slack) = (g("k").toInt, g("slack").toInt)
    // byCols is a store property (the compactDays strata check, same
    // reason): re-deriving with the wrong strata would replace the epoch
    // with wrong-shaped, wrongly-windowed rows
    val have = ManifestStore.read(spark, table).columns.toSet
    val want = (byCols ++ Seq(keyCol, "es_key", "day")).toSet
    require(have == want,
      s"SampleStore.repairEpoch: $table columns ${have.toSeq.sorted.mkString(",")} " +
        s"do not match byCols+keyCol (${want.toSeq.sorted.mkString(",")}) — " +
        "re-deriving with the wrong strata would corrupt the retained set")
    val top = Sampling.weightedTopKBy(df, keyCol, weight, byCols, k + slack)
      .select((byCols :+ keyCol).map(col) :+ col("es_key"): _*)
      .withColumn("day", lit(epochDay))
    ManifestStore.replaceWhere(spark, table, top,
      Seq(epochDay).toDF("day"), Seq("day"))
    clearLedgerAny(spark, table, epochDay)
  }
}
