package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.DateMacros
import graft.operators.Transformer
import graft.sinks.{LogStore, MergeRouter}
import graft.sources.{CsvSource, FixedWidth, InlinePayload}
import graft.spec.Specs._

/** Job orchestration — the engine analogue of `etl_cron.run`
  * (reference cubicerpetl/etl_cron.py:35-56): resolve the job spec, extract
  * as a DataFrame, transform declaratively, recover previously-loaded ids
  * from the log state store, and route rows by reprocess mode. The
  * remote state machine (`action_start`/`action_done`) becomes local
  * [[JobResult]] bookkeeping; the reference's 100-row chunk loop
  * (etl_cron.py:46-53, which silently DROPS the tail — SURVEY.md §2.8)
  * is replaced by Spark partitioning over the full dataset. A day file
  * smaller than `spark.sql.files.openCostInBytes` (4 MB) is one input
  * partition, so [[run]] spreads such a narrow extract by its routing key
  * before the route (see [[spread]]), and the route joins the key state
  * to the spread rows co-partitioned; a wide input keeps its splits and
  * the state is broadcast.
  */
object JobRunner {

  /** Largest template-mode id list inlined as an IN literal; larger lists
    * route through a broadcast semi-join (see extract).
    */
  val MaxInlineIds: Int = 1000

  final case class JobResult(job: String, routed: DataFrame, state: DataFrame)

  /** Extract per the job's resource spec (SURVEY.md §2.1 dispatch,
    * reference do_extract cubicerpetl.py:191-355). File paths go through
    * date-macro substitution (:825).
    */
  def extract(spark: SparkSession, job: JobSpec): DataFrame = job.extract match {
    case Left(f) =>
      // transport first (S7): a declared file server resolves the
      // templated filename against its root/protocol (ftp stages to a
      // local spool); no server = pathTemplate is already scannable
      val path = f.server match {
        case Some(srv) => graft.sources.FileTransport.resolve(spark, srv, f.pathTemplate, job.date)
        case None      => DateMacros.substitute(f.pathTemplate, job.date)
      }
      val df = f.fType match {
        case "parquet" => spark.read.parquet(path)
        case "csv"     => CsvSource.read(spark, path, f.dialect, f.columns)
        case "txt"     => FixedWidth.readFile(spark, path, f.columns, f.headerColumns, f.footerColumns)
        case other     => throw new IllegalArgumentException(s"file type: $other")
      }
      InlinePayload.withRowDefaults(df, job.rowDefaults)
    case Right(c) =>
      // connector extract: table registered in the session catalog, with
      // the Odoo domain pushed as a Catalyst predicate and the field list
      // as a projection — Catalyst carries both into the scan. Template
      // mode (reference template_run_from + model_ids, cubicerpetl.py:
      // 321-324): an explicit id list replaces the domain search, pushed
      // as an IN filter.
      var df = spark.table(c.model)
      df = c.ids match {
        // A short id list pushes down as an IN filter (reaches the scan as
        // PushedFilters). Above the threshold an IN literal tree stops
        // being a pushdown win and starts being an analyzer hazard — 15k
        // ids at sf0.1 is already a 15k-node expression; at 100× it would
        // be 1.5M literals. Large lists become a broadcast semi-join
        // against a local ids relation instead: one broadcast of exactly
        // the id column, no shuffle of the fact side.
        case Some(ids) if ids.size <= MaxInlineIds =>
          df.filter(col(c.idField).isin(ids: _*))
        case Some(ids) =>
          // The ids relation is built as STRINGS and cast to the column's
          // type inside the plan — the analyzer-style literal coercion the
          // <=MaxInlineIds isin path gets for free. Building Row(v) against
          // the column's exact dataType instead would throw 'not a valid
          // external type' at execution for e.g. Int ids from a parsed spec
          // against a LongType field — same spec succeeding or failing
          // depending on list size.
          val dt = df.schema(c.idField).dataType
          val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.size)
          ids.foreach(v => rows.add(org.apache.spark.sql.Row(
            if (v == null) null else String.valueOf(v))))
          val idsDf = spark.createDataFrame(rows,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__graft_raw",
                org.apache.spark.sql.types.StringType))))
            .select(col("__graft_raw").cast(dt).as("__graft_id"))
          df.join(broadcast(idsDf.distinct()), col(c.idField) === col("__graft_id"), "left_semi")
        case None if c.domain.nonEmpty => df.filter(graft.expr.OdooDomain.compile(c.domain))
        case None => df
      }
      if (c.fields.nonEmpty) df = df.select(c.fields.map(col): _*)
      InlinePayload.withRowDefaults(df, job.rowDefaults)
  }

  /** Catalog-introspection fallback (SURVEY.md §1.2 flavor 2) — reference
    * cubicerpetl.py:124-135: a connector resource with NO declared field
    * list searches the remote catalog (`ir.model.fields` by model name)
    * and synthesizes pass-through fields (field_name = name, field_type =
    * ttype, no mapping, no expression). The engine's remote catalog is
    * the session catalog: the model's schema supplies the same
    * (name, type) set as pure metadata — no action, no collect.
    */
  def introspectFields(schema: org.apache.spark.sql.types.StructType): Seq[FieldSpec] = {
    import org.apache.spark.sql.types._
    schema.fields.toSeq.map { sf =>
      val ft = sf.dataType match {
        case ByteType | ShortType | IntegerType | LongType => "int"
        case FloatType | DoubleType | _: DecimalType       => "float"
        case BooleanType                                   => "boolean"
        case DateType                                      => "date"
        case TimestampType | TimestampNTZType              => "datetime"
        case _                                             => "char"
      }
      FieldSpec(sf.name, fieldType = ft)
    }
  }

  def introspectFields(spark: SparkSession, model: String): Seq[FieldSpec] =
    introspectFields(spark.table(model).schema)

  /** Run extract → transform → id-recovery → routing. The caller hands the
    * routed DataFrame to a sink ([[graft.sinks.ConnectorSink]], JDBC,
    * file) and appends the results to the log store — keeping the plan
    * lazy end-to-end so Catalyst optimizes across stage boundaries.
    */
  def run(spark: SparkSession, job: JobSpec, logPath: Option[String] = None): JobResult = {
    val extracted = extract(spark, job)
    // connector jobs with no declared transform fields fall back to
    // catalog introspection over the extracted schema (which already
    // reflects the resource's projection and row defaults)
    val tspec = job.extract match {
      case Right(_) if job.transform.fields.isEmpty =>
        job.transform.copy(fields = introspectFields(extracted.schema))
      case _ => job.transform
    }
    val transformed = Transformer(extracted, tspec)
    // First run (missing log path) ⇒ empty state; real read errors
    // propagate (see LogStore.readOrEmpty).
    val state = logPath match {
      case Some(p) => LogStore.stateFor(LogStore.readOrEmpty(spark, p), job.name)
      case None    => emptyState(spark)
    }
    val pkCol = if (transformed.columns.contains("pk")) "pk"
      else job.transform.pkField.getOrElse(
        throw new IllegalArgumentException(s"job ${job.name}: no pk column for routing"))
    val mode = job.transform.reprocess
    // Delete routing already repartitions on the pk; a spread before it
    // would be a second exchange
    val incoming = if (mode != ReprocessMode.Delete && spread(spark, extracted))
      transformed.repartition(col(pkCol).cast("string")) else transformed
    val routed = MergeRouter.route(incoming, state, pkCol, mode)
    JobResult(job.name, routed, state)
  }

  /** Whether [[run]] hash-repartitions the transformed rows on the
    * routing key (in the string form the route join compares) so that the
    * transform, the route probe, the connector and the log write run on
    * every core, with the partition count left to AQE. It does when the
    * extract's widest file scan has fewer input partitions than
    * `defaultParallelism` and at least twice AQE's
    * `coalescePartitions.minPartitionSize` bytes: below that AQE would
    * coalesce the exchange back to one task. The scans are read off the
    * extract's physical plan on the driver (`FileSourceScanExec.inputRDD`
    * builds the file partitions without running anything), so deciding
    * starts no Spark job. An extract with no file scan, or whose scan
    * prunes by a run-time subquery, is left alone.
    *
    * The spread is also the route join's partitioning: [[MergeRouter.route]]
    * sees it in the plan and joins the state, which its `groupBy(pk)`
    * already clusters on the key, as a shuffled hash join built from the
    * spread rows, so the state is neither collected nor broadcast.
    */
  private def spread(spark: SparkSession, extracted: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.internal.SQLConf
    val scans = extracted.queryExecution.sparkPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s
    }
    if (scans.isEmpty || scans.exists(_.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruning]))))
      false
    else {
      val widest = scans.map(_.inputRDD.partitions).maxBy(_.length)
      val bytes = widest.iterator.collect { case p: FilePartition => p.files.iterator.map(_.length).sum }.sum
      val minPartition = spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      widest.length < spark.sparkContext.defaultParallelism && bytes >= 2 * minPartition
    }
  }

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("pk", "model_id")
  }

  /** Outcome of one job in a [[runAll]] batch: state ∈ done | failed |
    * skipped (skipped = an upstream dependency did not finish `done`).
    */
  final case class JobOutcome(job: String, state: String, error: Option[String])

  /** Run a batch of jobs in dependency order — the engine form of the
    * reference's cron loop (etl_cron.py:43-55 runs every ready batch job
    * sequentially; `deps` generalizes the ordering users there encode by
    * hand in job states). Kahn topological order with a deterministic
    * name tiebreak; a job failure marks its transitive dependents
    * `skipped` instead of aborting the batch (per-job isolation, like the
    * reference's per-job try/except). `load` applies each routed result
    * to its sink — returning control to the caller keeps the plan lazy
    * until the sink acts.
    */
  def runAll(
      spark: SparkSession,
      jobs: Seq[JobSpec],
      deps: Map[String, Seq[String]] = Map.empty,
      logPath: Option[String] = None,
      load: JobResult => Unit): Seq[JobOutcome] = {
    val byName = jobs.map(j => j.name -> j).toMap
    deps.foreach { case (j, ds) =>
      require(byName.contains(j), s"deps reference unknown job: $j")
      ds.foreach(d => require(byName.contains(d), s"job $j depends on unknown job: $d"))
    }
    // Kahn's algorithm, smallest name first for determinism
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val remaining = scala.collection.mutable.Set(jobs.map(_.name): _*)
    val pending = scala.collection.mutable.Map(
      jobs.map(j => j.name -> deps.getOrElse(j.name, Nil).toSet): _*)
    while (remaining.nonEmpty) {
      val ready = remaining.filter(j => pending(j).forall(d => !remaining.contains(d))).toSeq.sorted
      require(ready.nonEmpty, s"dependency cycle among: ${remaining.toSeq.sorted.mkString(", ")}")
      val next = ready.head
      order += next
      remaining -= next
    }
    val notDone = scala.collection.mutable.Set.empty[String]
    order.toSeq.map { name =>
      val blockedBy = deps.getOrElse(name, Nil).filter(notDone.contains)
      if (blockedBy.nonEmpty) {
        notDone += name
        JobOutcome(name, "skipped", Some(s"upstream not done: ${blockedBy.sorted.mkString(", ")}"))
      } else {
        try { load(run(spark, byName(name), logPath)); JobOutcome(name, "done", None) }
        catch { case e: Exception =>
          notDone += name
          JobOutcome(name, "failed", Some(e.toString))
        }
      }
    }
  }
}
