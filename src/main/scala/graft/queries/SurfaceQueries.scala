package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runner.JobRunner
import graft.sinks.{CsvSink, MergeRouter}
import graft.sources.InlinePayload
import graft.spec.Specs._
import graft.streaming.Drain

/** Driver-gated queries for the orchestration + payload surfaces added on
  * top of CoreQueries: inline base64 payloads (S6), row defaults (S8),
  * CSV sink layout (K2), and the JobRunner end-to-end path (§3.1).
  */
object SurfaceQueries {

  import CoreQueries.t

  // --- q21: inline base64 payload parse (reference online-job input) -----
  def q21InlinePayload(spark: SparkSession, dir: String): DataFrame = {
    // The payload arrives on the driver by definition (job['input_file']);
    // here it is built from the nation table for a self-contained check.
    val rows = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
      .collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}")
    val payload = java.util.Base64.getEncoder.encodeToString(
      ("key|name|region\n" + rows.mkString("\n") + "\n").getBytes("UTF-8"))
    InlinePayload.readCsv(spark, payload,
      Seq(FwColumn("n_nationkey", dataType = "int"), FwColumn("n_name"),
        FwColumn("n_regionkey", dataType = "int")),
      CsvDialect(separator = "|", header = true))
  }

  val q21Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  // --- q22: row defaults (S8: defaults seed, data wins) -------------------
  def q22RowDefaults(spark: SparkSession, dir: String): DataFrame = {
    val masked = t(spark, dir, "orders").select(
      col("o_orderkey"),
      nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio"))
    InlinePayload.withRowDefaults(masked, Map("prio" -> "DEFAULTED", "batch_tag" -> "B1"))
  }

  val q22Sql: String =
    """SELECT o_orderkey,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 'DEFAULTED' ELSE o_orderpriority END AS prio,
       'B1' AS batch_tag
       FROM orders"""

  // --- q23: CSV sink layout (K2: writeheader + forced + header/footer) ----
  def q23CsvSinkLines(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
    CsvSink.assemble(df,
      Seq(FwColumn("o_orderkey"), FwColumn("o_orderstatus"), FwColumn("tag", forced = Some("T"))),
      CsvDialect(header = true), orderCol = "o_orderkey",
      headerCols = Seq(FwColumn("o_orderkey")),
      footerCols = Seq(FwColumn("o_orderkey")))
      .select(col("value"))
  }

  val q23Sql: String =
    """SELECT 'o_orderkey,o_orderstatus,tag' AS value
       UNION ALL SELECT CAST(min(o_orderkey) AS VARCHAR) FROM orders
       UNION ALL SELECT CAST(o_orderkey AS VARCHAR) || ',' || o_orderstatus || ',T' FROM orders
       UNION ALL SELECT CAST(max(o_orderkey) AS VARCHAR) FROM orders"""

  // --- q24: JobRunner end-to-end routing (extract→transform→route) --------
  def q24RunnerRouting(spark: SparkSession, dir: String): DataFrame = {
    val job = JobSpec(
      name = "orders_job",
      date = java.time.LocalDate.of(1998, 6, 15),
      extract = Left(FileResource(s"$dir/orders.parquet", "parquet")),
      transform = TransformSpec(
        fields = Seq(
          FieldSpec("o_orderkey", fieldName = Some("okey"), fieldType = "int"),
          FieldSpec("o_orderdate", fieldName = Some("odate"), fieldType = "date"),
          FieldSpec("o_totalprice", fieldName = Some("price"), fieldType = "float")),
        reprocess = ReprocessMode.NoUpdate,
        pkField = Some("o_orderkey")))
    val res = JobRunner.run(spark, job, logPath = None)
    // no log state → everything inserts; project a stable column set
    res.routed.select(col("okey"), col("odate"), col("price"),
      col(MergeRouter.ActionCol).as("action"))
  }

  val q24Sql: String =
    """SELECT o_orderkey AS okey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
       o_totalprice AS price, 'insert' AS action FROM orders"""

  // --- q25: connector extract with pushed domain + projection (S5/F1) -----
  def q25ConnectorExtract(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_model")
    val job = JobSpec(
      name = "connector_job",
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Right(ConnectorResource(
        model = "orders_model",
        domain = Seq("&",
          graft.expr.OdooDomain.Term("o_orderstatus", "=", "F"),
          graft.expr.OdooDomain.Term("o_totalprice", ">", 200000.0)),
        fields = Seq("o_orderkey", "o_orderstatus", "o_totalprice"))),
      transform = TransformSpec(
        fields = Seq(
          FieldSpec("o_orderkey", fieldType = "int"),
          FieldSpec("o_orderstatus"),
          FieldSpec("o_totalprice", fieldType = "float")),
        pkField = Some("o_orderkey")))
    JobRunner.run(spark, job, None).routed
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  val q25Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice > 200000.0"""

  // --- q26: prev/post hook surface (§2.9 — Scala DataFrame hooks) ----------
  def q26HookPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Transformer
    val spec = TransformSpec(Seq(
      FieldSpec("o_orderkey", fieldName = Some("okey"), fieldType = "int"),
      FieldSpec("o_orderpriority", fieldName = Some("prio"))))
    Transformer.withHooks(t(spark, dir, "orders"), spec,
      prev = df => df.filter(col("o_orderkey") % 7 === 0), // continue_on analogue
      post = df => df.withColumn("hooked", upper(col("prio"))))
  }

  val q26Sql: String =
    """SELECT o_orderkey AS okey, o_orderpriority AS prio,
       upper(o_orderpriority) AS hooked
       FROM orders WHERE o_orderkey % 7 = 0"""

  // --- q27: DBF round-trip (S3/K3, from-scratch dBase III) -----------------
  def q27DbfRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Dbf
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val path = graft.Scratch.path(s"dbf_$tag.dbf")
    // DBF field names are 10 chars max (dBase III descriptor layout) —
    // use short aliases rather than silently truncating.
    Dbf.write(t(spark, dir, "nation")
      .select(col("n_nationkey").as("nkey"), col("n_name").as("nname"),
        col("n_regionkey").as("rkey")), path, charLen = 32)
    Dbf.read(spark, path)
  }

  val q27Sql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS nkey, n_name AS nname,
       CAST(n_regionkey AS BIGINT) AS rkey FROM nation"""

  // --- q28: xml_id FK resolution (J2) with miss channel --------------------
  def q28XmlIdResolve(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.FkResolve
    // registry: nation keys < 20 resolvable; destination ids differ from
    // the source keys (×100) so the join is observable
    val registry = t(spark, dir, "nation").filter(col("n_nationkey") < 20)
      .select(lit("nation").as("module"),
        col("n_nationkey").cast("string").as("name"),
        (col("n_nationkey") * 100).cast("long").as("res_id"))
    val fact = t(spark, dir, "customer").select(col("c_custkey"),
      concat(lit("nation."), col("c_nationkey").cast("string")).as("nation_ref"))
    FkResolve.xmlId(fact, "nation_ref", registry, "nation_id")
      .withColumnRenamed(FkResolve.MissCol, "fk_miss")
  }

  val q28Sql: String =
    """SELECT c_custkey, 'nation.' || CAST(c_nationkey AS VARCHAR) AS nation_ref,
       CASE WHEN c_nationkey < 20 THEN CAST(c_nationkey * 100 AS BIGINT) END AS nation_id,
       c_nationkey >= 20 AS fk_miss
       FROM customer"""

  // --- q29: name-search FK resolution (J3) with first-match pick -----------
  def q29NameSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.FkResolve
    val dim = t(spark, dir, "customer").filter(col("c_custkey") % 10 =!= 0)
    val fact = t(spark, dir, "orders").select(col("o_orderkey"),
      concat(lit("Customer#"), lpad(col("o_custkey").cast("string"), 9, "0")).as("cust_name"))
    FkResolve.nameSearch(fact, "cust_name", dim, "c_name", "c_custkey", "resolved_id")
      .withColumnRenamed(FkResolve.MissCol, "fk_miss")
  }

  val q29Sql: String =
    """SELECT o_orderkey,
       'Customer#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0') AS cust_name,
       CASE WHEN o_custkey % 10 <> 0 THEN o_custkey END AS resolved_id,
       o_custkey % 10 = 0 AS fk_miss
       FROM orders"""

  // --- q30: left-semi join (EXISTS — the K8 insert-missing probe shape) ---
  def q30SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val late = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz"))
    t(spark, dir, "orders")
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  val q30Sql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate >= TIMESTAMP '1998-01-01')"""

  // --- q31: left-anti join (NOT EXISTS — the K8 insert-missing shape) ------
  def q31AntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val q31Sql: String =
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)"""

  // --- q32: scalar function breadth (§2.11 mapping table) ------------------
  def q32ScalarFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      format_string("ORD-%08d/%s", col("o_orderkey"), col("o_orderstatus")).as("ref"),
      regexp_extract(col("o_orderpriority"), "^(\\d+)-", 1).cast("int").as("prio_num"),
      date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
      datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date")).as("age_days"),
      base64(col("o_orderstatus").cast("binary")).as("status_b64"),
      substring(upper(col("o_orderpriority")), 3, 6).as("prio_word"))

  val q32Sql: String =
    """SELECT o_orderkey,
       printf('ORD-%08d/%s', o_orderkey, o_orderstatus) AS ref,
       CAST(regexp_extract(o_orderpriority, '^(\d+)-', 1) AS INT) AS prio_num,
       strftime(o_orderdate, '%Y-%m') AS order_month,
       datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS age_days,
       to_base64(encode(o_orderstatus)) AS status_b64,
       substring(upper(o_orderpriority), 3, 6) AS prio_word
       FROM orders"""

  // --- q33: set operations (EXCEPT / INTERSECT distinct semantics) --------
  def q33SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c97 = o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey"))
    val c98 = o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey"))
    c97.except(c98).withColumn("status", lit("churned"))
      .unionByName(c97.intersect(c98).withColumn("status", lit("retained")))
  }

  val q33Sql: String =
    """SELECT o_custkey, 'churned' AS status FROM (
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
       UNION ALL
       SELECT o_custkey, 'retained' AS status FROM (
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)"""

  // --- q34: pivot (status columns per priority) ---------------------------
  // Spark's pivot leaves empty cells null where conditional counts give 0 —
  // coalesce to match SQL FILTER semantics.
  def q34Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))

  val q34Sql: String =
    """SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
       FROM orders GROUP BY o_orderpriority"""

  // --- q35: statistical moments from EXACT sums + interpolated quantiles --
  // stddev via the textbook two-pass-free form, but with n/Σx/Σx² carried
  // as exact integers/decimals and the final arithmetic done identically
  // in double on both engines — order-independent, so it hash-matches
  // where a naive stddev_samp (partial-merge double accumulation) wouldn't.
  def q35StatsMoments(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(18,2)")).cast("double").as("sum_qty2"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"))
      .withColumn("stddev_qty",
        round(sqrt((col("sum_qty2") - col("sum_qty") * col("sum_qty") / col("n"))
          / (col("n") - 1)), 6))

  val q35Sql: String =
    """SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty2,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(sqrt((CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             / (count(*) - 1)), 6) AS stddev_qty
       FROM lineitem GROUP BY l_returnflag"""

  // --- q36: explicit GROUPING SETS with grouping_id -----------------------
  // Rollup (q18) and cube (x15) cover the uniform lattices; this is the
  // irregular one: totals by (status), by (priority), and grand total —
  // but NOT by (status, priority).
  // Spark's DataFrame API has no groupingSets; express it in SQL over a
  // temp view — the same engine path (Catalyst expands to Expand exactly
  // as rollup/cube do).
  def q36GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_q36_orders")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
         grouping_id(o_orderstatus, o_orderpriority) AS gid,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM graft_q36_orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
  }

  val q36Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""

  // --- q37: correlated-subquery shape (orders above their customer's avg) -
  // The correlated scalar subquery decorrelates to a groupBy + join; the
  // avg is sum(DECIMAL)/count so both engines compare against the
  // identical double.
  def q37AboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val avgs = o.groupBy(col("o_custkey").as("__ck"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("__avg"))
    o.join(avgs, col("o_custkey") === col("__ck"))
      .filter(col("o_totalprice") > col("__avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        round(col("__avg"), 6).as("cust_avg"))
  }

  val q37Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
       round(cust_avg, 6) AS cust_avg FROM (
         SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
                  / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
         FROM orders)
       WHERE o_totalprice > cust_avg"""

  // --- q38: copy-on-write parquet MERGE (incremental partitioned ingest) --
  // Build a year-partitioned table, merge a batch of updates (doubled
  // price for key%100=0) + inserts (new keys in a new 2024 partition),
  // read the merged table back. Only the touched partitions are
  // rewritten (see ScaleSpec).
  def q38PartitionedMerge(spark: SparkSession, dir: String): DataFrame =
    readMergedOrders(spark, buildMergedOrders(spark, dir, "pstore"))

  /** A fresh `orders` table in a [[graft.sources.ManifestStore]],
    * partitioned by `order_year`, after one merge of the q38 updates and
    * inserts; returns the table path. The path is emptied first: a write
    * on an existing table adds a version and keeps the old commits.
    */
  private def buildMergedOrders(spark: SparkSession, dir: String, name: String): String = {
    import graft.sources.ManifestStore
    val base = graft.Scratch.path(s"${name}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val root = new org.apache.hadoop.fs.Path(base)
    root.getFileSystem(spark.sessionState.newHadoopConf()).delete(root, true)
    val orders = t(spark, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
    ManifestStore.write(spark, orders, base, "order_year")
    val updates = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserts = orders.filter(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("order_year", lit(2024))
    ManifestStore.merge(spark, base, updates.unionByName(inserts),
      Seq("o_orderkey"), "order_year")
    base
  }

  private def readMergedOrders(spark: SparkSession, base: String): DataFrame =
    graft.sources.ManifestStore.read(spark, base)
      .select(col("o_orderkey"), col("o_totalprice"), col("order_year").cast("int").as("order_year"))

  val q38Sql: String =
    """SELECT o_orderkey,
       CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
       CAST(year(o_orderdate) AS INT) AS order_year
       FROM orders
       UNION ALL
       SELECT o_orderkey + 10000000, o_totalprice, 2024
       FROM orders WHERE o_orderkey % 1000 = 0"""

  // --- q39: the streaming online-job path, end-to-end in the gate ---------
  // Orders subset exported as a CSV drop-directory, drained by OnlineJob
  // (Structured Streaming, drain what has arrived) through the SAME
  // transform + log-state recovery + merge routing as the batch path;
  // keys pre-loaded in the log store must route as updates, the rest as
  // inserts. The oracle is the equivalent batch SQL — streaming and batch
  // must agree exactly.
  def q39OnlineDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{LogStore, MergeRouter}
    import graft.streaming.OnlineJob
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"online_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh run: checkpoint must not carry over
    val (srcDir, logDir, ckpt, outDir) = (s"$base/in", s"$base/log", s"$base/ckpt", s"$base/out")
    val subset = t(spark, dir, "orders").filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    subset.coalesce(1).write.csv(srcDir)
    LogStore.append(spark, logDir, subset.filter(col("o_orderkey") % 14 === 0).select(
      lit("online_q39").as("job"), col("o_orderkey").cast("string").as("pk"),
      (col("o_orderkey") * 7).as("model_id"), lit("info").as("level"),
      lit("preloaded").as("message"), current_timestamp().as("ts")))
    val job = JobSpec(
      name = "online_q39",
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Left(FileResource(srcDir, "csv")),
      transform = TransformSpec(
        fields = Seq(
          FieldSpec("o_orderkey", fieldName = Some("okey")),
          FieldSpec("o_totalprice", fieldName = Some("price"), fieldType = "float")),
        reprocess = ReprocessMode.Update,
        pkField = Some("o_orderkey")))
    val source = spark.readStream.schema("o_orderkey long, o_totalprice double").csv(srcDir)
    val q = OnlineJob.start(spark, job, source, logDir, ckpt,
      (routed, _) => routed.write.mode("append").parquet(outDir))
    // never read partial output from a still-running drain
    Drain(q, "q39", 120000)
    spark.read.parquet(outDir).select(
      col("okey").cast("long").as("okey"),
      col(MergeRouter.ActionCol).as("action"),
      col(MergeRouter.IdCol).as("model_id"))
  }

  val q39Sql: String =
    """SELECT o_orderkey AS okey,
       CASE WHEN o_orderkey % 14 = 0 THEN 'update' ELSE 'insert' END AS action,
       CASE WHEN o_orderkey % 14 = 0 THEN o_orderkey * 7 END AS model_id
       FROM orders WHERE o_orderkey % 7 = 0"""

  // --- q40: analytic window-function breadth ------------------------------
  // lag/lead/first_value/ntile/cume_dist per customer over a TOTAL order
  // (o_orderdate then o_orderkey — unique, so every function is
  // deterministic; cume_dist is an exact integer ratio).
  def q40AnalyticFunctions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_orderkey"), 1).over(w).as("prev_key"),
      lead(col("o_orderkey"), 1).over(w).as("next_key"),
      first_value(col("o_orderkey")).over(w).as("first_key"),
      ntile(4).over(w).as("quartile"),
      cume_dist().over(w).as("cd"))
  }

  val q40Sql: String =
    """SELECT o_custkey, o_orderkey,
       lag(o_orderkey, 1) OVER w AS prev_key,
       lead(o_orderkey, 1) OVER w AS next_key,
       first_value(o_orderkey) OVER w AS first_key,
       ntile(4) OVER w AS quartile,
       cume_dist() OVER w AS cd
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""

  // --- q41: date/time scalar-function breadth -----------------------------
  def q41DateFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
      last_day(col("o_orderdate")).as("month_end"),
      weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      dayofweek(col("o_orderdate")).cast("long").as("dow"),
      add_months(col("o_orderdate").cast("date"), 3).as("plus_3m"),
      unix_timestamp(col("o_orderdate").cast("timestamp")).as("epoch_s"))

  val q41Sql: String =
    """SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3m,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
       FROM orders"""

  // --- q42: string scalar-function breadth (incl. edit distance) ----------
  def q42StringFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(
      col("c_custkey"),
      reverse(col("c_name")).as("rev_name"),
      translate(col("c_name"), "#", "-").as("dashed"),
      split(col("c_name"), "#").getItem(1).as("name_num"),
      instr(col("c_name"), "#").cast("long").as("hash_pos"),
      repeat(substring(col("c_mktsegment"), 1, 2), 2).as("seg2x"),
      levenshtein(col("c_name"), col("c_mktsegment"))
        .cast("long").as("edit_dist"))

  val q42Sql: String =
    """SELECT c_custkey,
       reverse(c_name) AS rev_name,
       translate(c_name, '#', '-') AS dashed,
       split_part(c_name, '#', 2) AS name_num,
       CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
       repeat(substring(c_mktsegment, 1, 2), 2) AS seg2x,
       CAST(levenshtein(c_name, c_mktsegment) AS BIGINT) AS edit_dist
       FROM customer"""

  // --- q43: template-mode extract (model_ids instead of domain search) ----
  // Reference template_run_from: the job carries explicit ids and the
  // extract reads exactly those records (cubicerpetl.py:321-324). The id
  // list lives on the driver by definition; it reaches the scan as a
  // pushable IN filter.
  def q43ModelIds(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_model_q43")
    val ids = t(spark, dir, "orders").filter(col("o_orderkey") % 97 === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    val job = JobSpec(
      name = "template_job",
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Right(ConnectorResource(
        model = "orders_model_q43",
        ids = Some(ids),
        idField = "o_orderkey",
        fields = Seq("o_orderkey", "o_orderstatus"))),
      transform = TransformSpec(
        fields = Seq(FieldSpec("o_orderkey", fieldType = "int"), FieldSpec("o_orderstatus")),
        pkField = Some("o_orderkey")))
    JobRunner.run(spark, job, None).routed
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  val q43Sql: String =
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 97 = 0"

  // --- q44: per-row error channel through the connector sink --------------
  // The reference's core load property: a failing row becomes an error
  // log entry instead of aborting the job (try/except per create/write,
  // cubicerpetl.py:738-745/:757-765).
  final case class FlakyHandler(pkIdx: Int) extends graft.sinks.ConnectorSink.Handler {
    import graft.sinks.ConnectorSink.LoadResult
    def create(rows: Iterator[org.apache.spark.sql.Row]): Iterator[LoadResult] =
      rows.map { r =>
        val pk = String.valueOf(r.get(pkIdx))
        if (pk.toLong % 10 == 0) LoadResult(pk, "insert", None, Some("boom"))
        else LoadResult(pk, "insert", Some(pk.toLong + 5000), None)
      }
    def update(rows: Iterator[org.apache.spark.sql.Row]): Iterator[LoadResult] = Iterator.empty
    def delete(rows: Iterator[org.apache.spark.sql.Row]): Iterator[LoadResult] = Iterator.empty
  }

  def q44ErrorChannel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ConnectorSink
    import spark.implicits._
    val routed = MergeRouter.route(
      t(spark, dir, "orders").select(col("o_orderkey")),
      Seq.empty[(String, Long)].toDF("pk", "model_id"),
      "o_orderkey", ReprocessMode.Insert)
    val results = ConnectorSink(routed, FlakyHandler(routed.columns.indexOf("o_orderkey")))
    ConnectorSink.toLog(results, "q44")
      .select(col("pk"), col("model_id"), col("level"), col("message"))
  }

  val q44Sql: String =
    """SELECT CAST(o_orderkey AS VARCHAR) AS pk,
       CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderkey + 5000 END AS model_id,
       CASE WHEN o_orderkey % 10 = 0 THEN 'error' ELSE 'info' END AS level,
       CASE WHEN o_orderkey % 10 = 0 THEN 'boom' ELSE 'loaded insert' END AS message
       FROM orders"""

  // --- q45: DBF extract with pushed Odoo domain (F2) ------------------------
  // Reference dbf_domain: the extract filters the DBF table with an eval'd
  // domain before rows enter the pipeline (cubicerpetl.py:281-282). The
  // engine composes the from-scratch DBF reader with the same domain
  // compiler the RPC/parquet paths use.
  def q45DbfDomainFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.OdooDomain
    import graft.sources.Dbf
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val path = graft.Scratch.path(s"dbf_dom_$tag.dbf")
    Dbf.write(t(spark, dir, "supplier")
      .select(col("s_suppkey").as("skey"), col("s_name").as("sname"),
        col("s_nationkey").as("nkey")), path, charLen = 32)
    val domain: Seq[Any] = Seq(
      "|", OdooDomain.Term("nkey", "=", 5L),
      "&", OdooDomain.Term("skey", "<=", 50L),
      OdooDomain.Term("sname", "like", "Supplier"))
    Dbf.read(spark, path, domain)
  }

  val q45Sql: String =
    """SELECT CAST(s_suppkey AS BIGINT) AS skey, s_name AS sname,
       CAST(s_nationkey AS BIGINT) AS nkey
       FROM supplier
       WHERE s_nationkey = 5 OR (s_suppkey <= 50 AND s_name LIKE '%Supplier%')"""

  // --- q47: multi-job runAll orchestration in the gate ---------------------
  // The engine form of the reference's cron loop (etl_cron.py:43-55) with
  // declared dependencies: two jobs run in dependency order (B after A,
  // although B sorts first alphabetically), each routed result lands via
  // the load callback, and the gate checks the union of both jobs' routed
  // rows plus their outcome states. Per-job failure isolation is
  // unit-tested in RunnerSpec; this gates the happy-path ordering + load
  // plumbing end-to-end.
  def q47RunAll(spark: SparkSession, dir: String): DataFrame = {
    val jobA = JobSpec(
      name = "z_orders", // sorts AFTER a_customers — deps must still run it first
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Left(FileResource(s"$dir/orders.parquet", "parquet")),
      transform = TransformSpec(
        fields = Seq(
          FieldSpec("o_orderkey", fieldName = Some("pk"), fieldType = "int"),
          FieldSpec("o_totalprice", fieldName = Some("val"), fieldType = "float")),
        pkField = Some("pk")))
    val jobB = JobSpec(
      name = "a_customers",
      date = java.time.LocalDate.of(2024, 1, 1),
      extract = Left(FileResource(s"$dir/customer.parquet", "parquet")),
      transform = TransformSpec(
        fields = Seq(
          FieldSpec("c_custkey", fieldName = Some("pk"), fieldType = "int"),
          FieldSpec("c_acctbal", fieldName = Some("val"), fieldType = "float")),
        pkField = Some("pk")))
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    val outcomes = JobRunner.runAll(spark, Seq(jobA, jobB),
      deps = Map("a_customers" -> Seq("z_orders")),
      load = r => collected += (r.job -> r.routed))
    require(outcomes.map(o => (o.job, o.state)) ==
      Seq(("z_orders", "done"), ("a_customers", "done")),
      s"runAll order/outcomes wrong: $outcomes")
    collected.map { case (job, routed) =>
      routed.select(lit(job).as("job"), col("pk").cast("long").as("pk"),
        col("val"), col(MergeRouter.ActionCol).as("action"))
    }.reduce(_ unionByName _)
  }

  val q47Sql: String =
    """SELECT 'z_orders' AS job, o_orderkey AS pk,
         CAST(o_totalprice AS DOUBLE) AS val, 'insert' AS action FROM orders
       UNION ALL
       SELECT 'a_customers', c_custkey, CAST(c_acctbal AS DOUBLE), 'insert' FROM customer"""

  // --- q46: manifest-committed MERGE then vacuum ---------------------------
  // q38's table and merge (immutable data commits + one atomic manifest
  // rename per commit), then a vacuum that reclaims the superseded
  // partition versions and must not change the readable snapshot.
  def q46ManifestMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = buildMergedOrders(spark, dir, "mstore")
    // minAge 0: this gate is the table's only writer/reader; production
    // keeps the default retention so in-flight merges are never vacuumed
    graft.sources.ManifestStore.vacuum(spark, base, minAgeMillis = 0L)
    readMergedOrders(spark, base)
  }

  val q46Sql: String = q38Sql

  // --- q48: execution-metrics bookkeeping, gated on its deterministic
  // slice. The reference writes per-step amount rows into etl.log around
  // every extract/load (cubicerpetl/cubicerpetl.py:783-811); the Spark-
  // native form is `df.observe(...)` named aggregates captured by a
  // QueryExecutionListener (runner/Metrics) and flushed to the same log
  // store the upsert state lives in. Timed funcName entries are audit-only
  // (wall-clock is nondeterministic); the gate reads back the 'metric'
  // rows, whose canonical-JSON payload is a pure function of the data.
  def q48MetricsGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.runner.Metrics
    import graft.sinks.LogStore
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"metrics_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh log per run
    val logDir = s"$base/log"
    val c = Metrics.attach(spark, "metrics_q48")
    try {
      val observedLoad = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .observe("q48_obs",
          count(lit(1)).as("rows"),
          sum(col("o_orderkey")).as("key_sum"),
          count(when(col("o_totalprice") > 150000.0, 1)).as("large"))
      observedLoad.write.mode("overwrite").parquet(s"$base/out")
      if (!c.awaitObservation("q48_obs"))
        throw new IllegalStateException("q48: observation not delivered in 30s")
    } finally Metrics.flushAndDetach(spark, c, logDir)
    // distinct: a late-delivered event from a previous run of this very
    // query (same observation name, same payload — the listener bus is
    // session-global and async) must not double a row
    LogStore.read(spark, logDir)
      .filter(col("level") === "metric" && col("pk") === "q48_obs")
      .select(col("job"), col("pk").as("metric"), col("message").as("payload"))
      .distinct()
  }

  val q48Sql: String =
    """SELECT 'metrics_q48' AS job, 'q48_obs' AS metric,
       '{"rows":' || count(*) || ',"key_sum":' || CAST(sum(o_orderkey) AS BIGINT)
         || ',"large":' || count(CASE WHEN o_totalprice > 150000.0 THEN 1 END) || '}' AS payload
       FROM orders WHERE o_orderkey % 3 = 0"""

  // --- x52: version-diff change feed over the manifest table --------------
  // write → merge (updates + inserts) → DELETE (right-to-be-forgotten) →
  // changes(v1, v3). The feed must report the LOGICAL diff only: rows
  // rewritten by copy-on-write but value-identical stay out; deletes carry
  // the old values. The scan is bounded by repointed partitions (asserted
  // structurally in LakehouseOpsSpec), so a day of commits on a 100 TB
  // table diffs in O(touched data). Orders subset (%2) keeps gate I/O
  // proportional to what it proves.
  def x52ManifestCdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"mcdc_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh table per run
    val orders = t(spark, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("order_year"))
    ManifestStore.write(spark, orders, base, "order_year")
    val updates = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserts = orders.filter(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("order_year", lit(2024))
    ManifestStore.merge(spark, base, updates.unionByName(inserts),
      Seq("o_orderkey"), "order_year")
    ManifestStore.delete(spark, base,
      orders.filter(col("o_orderkey") % 500 === 0).select(col("o_orderkey"), col("order_year")),
      Seq("o_orderkey"), Seq("order_year"))
    ManifestStore.changes(spark, base, 1, 3, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("order_year").cast("int").as("order_year"), col("change_type"))
  }

  val x52Sql: String =
    """SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
         CAST(year(o_orderdate) AS INT) AS order_year, 'update' AS change_type
       FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 500 <> 0 AND o_orderkey % 2 = 0
       UNION ALL
       SELECT o_orderkey + 10000000, o_totalprice, 2024, 'insert'
       FROM orders WHERE o_orderkey % 1000 = 0 AND o_orderkey % 2 = 0
       UNION ALL
       SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT), 'delete'
       FROM orders WHERE o_orderkey % 500 = 0 AND o_orderkey % 2 = 0"""

  // --- x53: commit compaction keeps reads O(partitions), not O(commits) ---
  // Three merges leave four live commits; compact() must collapse them to
  // ONE (asserted in-gate — the driver sees content only) while the
  // readable content stays byte-for-byte the last-writer-wins state.
  // Updates derive from the ORIGINAL frame, so the oracle composes as a
  // CASE over the key classes, newest merge first.
  def x53ManifestCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"mcompact_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh table per run
    val orders = t(spark, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("order_year"))
    ManifestStore.write(spark, orders, base, "order_year")
    ManifestStore.merge(spark, base,
      orders.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100),
      Seq("o_orderkey"), "order_year")
    ManifestStore.merge(spark, base,
      orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000),
      Seq("o_orderkey"), "order_year")
    ManifestStore.merge(spark, base,
      orders.filter(col("o_orderkey") % 778 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
        .withColumn("order_year", lit(2025)),
      Seq("o_orderkey"), "order_year")
    val collapsed = ManifestStore.compact(spark, base)
    require(collapsed >= 2, s"x53: expected >=2 live commits collapsed, got $collapsed")
    val out = ManifestStore.read(spark, base)
    val commitRoots = out.inputFiles.map(_.replaceAll("/order_year=.*$", "")).toSet
    require(commitRoots.size == 1, s"x53: read still spans ${commitRoots.size} commits after compact")
    out.select(col("o_orderkey"), col("o_totalprice"),
      col("order_year").cast("int").as("order_year"))
  }

  val x53Sql: String =
    """SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000
              WHEN o_orderkey % 9 = 0 THEN o_totalprice + 100
              ELSE o_totalprice END AS o_totalprice,
         CAST(year(o_orderdate) AS INT) AS order_year
       FROM orders WHERE o_orderkey % 2 = 0
       UNION ALL
       SELECT o_orderkey + 20000000, o_totalprice, 2025
       FROM orders WHERE o_orderkey % 778 = 0 AND o_orderkey % 2 = 0"""

  // --- x54: ADD-column schema evolution through merge ---------------------
  // The batch arrives with a column the table never had (`priority`);
  // evolveSchema widens the schema, touched partitions rewrite with it,
  // and rows in UNTOUCHED pre-evolution partitions read back as NULL —
  // no table-wide rewrite, the Delta/Iceberg read-time semantics.
  def x54SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"mevolve_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh table per run
    val orders = t(spark, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("order_year"))
    ManifestStore.write(spark, orders, base, "order_year")
    val evolved = orders.filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
      .withColumn("priority", (col("o_orderkey") % 7).cast("int"))
    ManifestStore.merge(spark, base, evolved,
      Seq("o_orderkey"), Seq("order_year"), evolveSchema = true)
    ManifestStore.read(spark, base)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("order_year").cast("int").as("order_year"), col("priority").cast("int").as("priority"))
  }

  val x54Sql: String =
    """SELECT o_orderkey,
         CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice,
         CAST(year(o_orderdate) AS INT) AS order_year,
         CASE WHEN o_orderkey % 50 = 0 THEN CAST(o_orderkey % 7 AS INT) END AS priority
       FROM orders WHERE o_orderkey % 2 = 0"""

  // --- x56: full maintenance lifecycle — storage ends O(live data) --------
  // write → merge×3 → compact → vacuum(age 0; sole writer in-gate) → read.
  // x53 proves compaction collapses the READ plan; this gate proves the
  // STORAGE side: after vacuum, exactly one commit directory remains (the
  // compacted one — every superseded commit dir is physically gone),
  // expired snapshots took their manifests with them (time-travel depth ==
  // vacuum retention, so versions() lists only the live snapshot), and the
  // surviving bytes still read back as the exact last-writer-wins state.
  // That end state — O(live data) disk, O(partitions) plan — is what a
  // 100 TB table needs after a year of daily merges. Odd-key slice and
  // distinct moduli so x53 and x56 cannot mask each other.
  def x56LifecycleVacuum(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestStore
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = graft.Scratch.path(s"mvacuum_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh table per run
    val orders = t(spark, dir, "orders").filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("order_year"))
    ManifestStore.write(spark, orders, base, "order_year")
    ManifestStore.merge(spark, base,
      orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10),
      Seq("o_orderkey"), "order_year")
    ManifestStore.merge(spark, base,
      orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500),
      Seq("o_orderkey"), "order_year")
    ManifestStore.merge(spark, base,
      orders.filter(col("o_orderkey") % 997 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
        .withColumn("order_year", lit(2026)),
      Seq("o_orderkey"), "order_year")
    val collapsed = ManifestStore.compact(spark, base)
    require(collapsed >= 2, s"x56: expected >=2 live commits collapsed, got $collapsed")
    // sole writer and no concurrent readers inside the gate → age fence 0
    val removed = ManifestStore.vacuum(spark, base, minAgeMillis = 0L)
    require(removed >= 2, s"x56: vacuum reclaimed only $removed dirs/manifests")
    val commitDirs = fs.listStatus(new org.apache.hadoop.fs.Path(base, "commits"))
      .filter(_.isDirectory)
    require(commitDirs.length == 1,
      s"x56: ${commitDirs.length} commit dirs survive vacuum — storage is not O(live data)")
    val vs = ManifestStore.versions(spark, base)
    require(vs.size == 1, s"x56: expired snapshots still listed: $vs")
    val out = ManifestStore.read(spark, base)
    require(out.inputFiles.forall(_.contains(commitDirs.head.getPath.getName)),
      "x56: read resolves files outside the surviving commit")
    out.select(col("o_orderkey"), col("o_totalprice"),
      col("order_year").cast("int").as("order_year"))
  }

  val x56Sql: String =
    """SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 500
              WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
              ELSE o_totalprice END AS o_totalprice,
         CAST(year(o_orderdate) AS INT) AS order_year
       FROM orders WHERE o_orderkey % 2 = 1
       UNION ALL
       SELECT o_orderkey + 30000000, o_totalprice, 2026
       FROM orders WHERE o_orderkey % 997 = 0 AND o_orderkey % 2 = 1"""
}
