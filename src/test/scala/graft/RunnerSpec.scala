package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.runner.JobRunner
import graft.sinks.{ConnectorSink, CsvSink, LogStore, MergeRouter}
import graft.sources.{CsvSource, InlinePayload}
import graft.spec.Specs._
import graft.streaming.OnlineJob

/** End-to-end job orchestration: extract → transform → route → connector
  * load → log → re-run id recovery; plus the streaming online-job twin and
  * the remaining source/sink surfaces (inline payload, row defaults, CSV
  * sink layout).
  */
/** In-memory "destination server" shared via a JVM-static map (tests run
  * local so executors share the JVM). Top-level so handlers don't capture
  * the (non-serializable) test suite.
  */
object FakeDest {
  val store = new ConcurrentHashMap[String, Long]()
  val nextId = new AtomicLong(1000L)
  def clear(): Unit = { store.clear(); nextId.set(1000L) }
}

class MapHandler(pkIdx: Int) extends ConnectorSink.Handler {
  def create(rows: Iterator[Row]) = rows.map { r =>
    val pk = String.valueOf(r.get(pkIdx))
    val id = FakeDest.nextId.getAndIncrement()
    FakeDest.store.put(pk, id)
    ConnectorSink.LoadResult(pk, "insert", Some(id), None)
  }
  def update(rows: Iterator[Row]) = rows.map { r =>
    val pk = String.valueOf(r.get(pkIdx))
    ConnectorSink.LoadResult(pk, "update", Option(FakeDest.store.get(pk)), None)
  }
  def delete(rows: Iterator[Row]) = rows.map { r =>
    val pk = String.valueOf(r.get(pkIdx))
    FakeDest.store.remove(pk)
    ConnectorSink.LoadResult(pk, "delete", None, None)
  }
}

object FailingHandler extends ConnectorSink.Handler {
  def create(rows: Iterator[Row]) = rows.map { r =>
    val pk = String.valueOf(r.get(0))
    if (pk == "2") ConnectorSink.LoadResult(pk, "insert", None, Some("boom"))
    else ConnectorSink.LoadResult(pk, "insert", Some(pk.toLong), None)
  }
  def update(rows: Iterator[Row]) = Iterator.empty
  def delete(rows: Iterator[Row]) = Iterator.empty
}

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  val jobSpec = JobSpec(
    name = "orders_job",
    date = java.time.LocalDate.of(2024, 1, 15),
    extract = Left(FileResource(s"$sfDir/orders.parquet", "parquet")),
    transform = TransformSpec(
      fields = Seq(
        FieldSpec("o_orderkey", fieldName = Some("okey")),
        FieldSpec("o_totalprice", fieldName = Some("price"), fieldType = "float")),
      reprocess = ReprocessMode.Update,
      pkField = Some("o_orderkey")))

  test("job runner end-to-end: first run inserts, second run updates via log recovery") {
    FakeDest.clear()
    val logDir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_runner_log").toString

    // run 1: empty state → everything inserts
    val r1 = JobRunner.run(spark, jobSpec, Some(logDir))
    val routed1 = r1.routed
    assert(routed1.filter(col(MergeRouter.ActionCol) === "insert").count() == 1500)
    val results1 = ConnectorSink(routed1, new MapHandler(routed1.columns.indexOf("pk")))
    LogStore.append(spark, logDir, ConnectorSink.toLog(results1, jobSpec.name))
    assert(FakeDest.store.size() == 1500)

    // run 2: state recovered from the log → everything updates
    val r2 = JobRunner.run(spark, jobSpec, Some(logDir))
    val actions = r2.routed.groupBy(MergeRouter.ActionCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(actions == Map("update" -> 1500L))
  }

  test("connector job with no declared fields introspects the catalog (pass-through transform)") {
    // reference cubicerpetl.py:124-135: empty rpc_field_ids → look the
    // model's field set up in ir.model.fields and pass every field through
    spark.read.parquet(s"$sfDir/nation.parquet").createOrReplaceTempView("nation_introspect")
    val job = JobSpec(
      name = "introspect",
      date = java.time.LocalDate.of(2024, 1, 15),
      extract = Right(ConnectorResource(model = "nation_introspect")),
      transform = TransformSpec(fields = Nil, pkField = Some("n_nationkey")))
    val routed = JobRunner.run(spark, job, None).routed
    // all model columns survive, typed per the introspected field types
    val src = spark.table("nation_introspect")
    assert(src.columns.forall(routed.columns.contains),
      s"introspected transform dropped columns: got ${routed.columns.mkString(",")}")
    assert(routed.count() == src.count())
    assert(routed.schema("n_nationkey").dataType.typeName == "long") // int field type
    assert(routed.schema("n_name").dataType.typeName == "string")    // char field type
    // the synthesized specs are plain pass-throughs
    val specs = JobRunner.introspectFields(spark, "nation_introspect")
    assert(specs.map(_.name) == src.columns.toSeq)
    assert(specs.forall(f => f.expr.isEmpty && f.mapping.isEmpty && f.forced.isEmpty))
  }

  test("connector sink surfaces per-row errors as log rows") {
    val routed = MergeRouter.route(Seq(1, 2, 3).toDF("pk"),
      Seq.empty[(String, Long)].toDF("pk", "model_id"), "pk", ReprocessMode.Insert)
    val log = ConnectorSink.toLog(ConnectorSink(routed, FailingHandler), "j")
    val levels = log.groupBy("level").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(levels == Map("info" -> 2L, "error" -> 1L))
  }

  test("delete mode: pk co-location applies delete before re-insert") {
    FakeDest.clear()
    // destination pre-loaded with old ids for every pk
    (1 to 200).foreach(k => FakeDest.store.put(k.toString, k.toLong))
    val incoming = (1 to 200).toDF("pk")
    val state = (1 to 200).map(k => (k.toString, k.toLong)).toDF("pk", "model_id")
    val routed = MergeRouter.route(incoming, state, "pk", ReprocessMode.Delete)
    // route puts a pk's delete and insert rows in one partition; the
    // sink's partition-local delete-first makes the order safe.
    ConnectorSink(routed, new MapHandler(routed.columns.indexOf("pk"))).count()
    // if any insert had run before its delete, the delete would have
    // removed the NEW row and the pk would be missing from the store
    assert(FakeDest.store.size() == 200)
    assert((1 to 200).forall(k => FakeDest.store.get(k.toString) >= 1000L))
  }

  test("online streaming job: availableNow drains files through transform+merge") {
    FakeDest.clear()
    val base = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_online").toString
    val srcDir = s"$base/in"; val logDir = s"$base/log"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/batch1.csv"), "1,10.5\n2,20.5\n")

    val schema = "o_orderkey long, o_totalprice double"
    val src = spark.readStream.schema(schema).csv(srcDir)
    @volatile var seen = 0L
    val q = OnlineJob.start(spark, jobSpec, src, logDir, ckpt, (routed, _) => {
      val results = ConnectorSink(routed, new MapHandler(routed.columns.indexOf("pk")))
      LogStore.append(spark, logDir, ConnectorSink.toLog(results, jobSpec.name))
      seen += results.count()
    })
    graft.streaming.Drain(q, "online", 60000)
    assert(seen == 2L)
    assert(FakeDest.store.size() == 2)

    // second file + restart: previously loaded pks now route as updates
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/batch2.csv"), "2,21.0\n3,30.0\n")
    @volatile var actions = Map.empty[String, Long]
    val q2 = OnlineJob.start(spark, jobSpec, src, logDir, ckpt, (routed, _) => {
      actions = routed.groupBy(MergeRouter.ActionCol).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    })
    graft.streaming.Drain(q2, "online-restart", 60000)
    assert(actions == Map("update" -> 1L, "insert" -> 1L))
  }

  test("runAll: dependency order, failure isolation, dependent skip") {
    def job(name: String, path: String) = jobSpec.copy(name = name,
      extract = Left(FileResource(path, "parquet")))
    val good = s"$sfDir/orders.parquet"
    val jobs = Seq(
      job("c_leaf", good), // depends on broken b → skipped
      job("b_broken", "/nonexistent/nope.parquet"),
      job("a_root", good), // independent → runs
      job("d_after_a", good)) // depends on a → runs
    val deps = Map("c_leaf" -> Seq("b_broken"), "d_after_a" -> Seq("a_root"))
    var loaded = Vector.empty[String]
    val outcomes = JobRunner.runAll(spark, jobs, deps, None,
      load = r => { r.routed.count(); loaded :+= r.job })
    val byJob = outcomes.map(o => o.job -> o.state).toMap
    assert(byJob == Map("a_root" -> "done", "b_broken" -> "failed",
      "c_leaf" -> "skipped", "d_after_a" -> "done"))
    // a ran before its dependent d; the failed job never reached load
    assert(loaded.indexOf("a_root") < loaded.indexOf("d_after_a"))
    assert(!loaded.contains("b_broken") && !loaded.contains("c_leaf"))
    // cycles are rejected eagerly
    intercept[IllegalArgumentException] {
      JobRunner.runAll(spark, Seq(job("x", good), job("y", good)),
        Map("x" -> Seq("y"), "y" -> Seq("x")), None, load = _ => ())
    }
  }

  test("inline base64 payload: txt and csv with header") {
    val txt = java.util.Base64.getEncoder.encodeToString("0001alpha\n0002beta \n".getBytes)
    val cols = Seq(
      FwColumn("id", position = 1, length = 4, align = "rjust", fillChar = "0", dataType = "long"),
      FwColumn("name", position = 5, length = 5))
    val parsed = InlinePayload.readTxt(spark, txt, cols)
    assert(sortedRows(parsed) == Seq(Seq(1L, "alpha"), Seq(2L, "beta")))

    val csv = java.util.Base64.getEncoder.encodeToString("id|name\n1|x\n2|y\n".getBytes)
    val csvCols = Seq(FwColumn("id", dataType = "long"), FwColumn("name"))
    val parsedCsv = InlinePayload.readCsv(spark, csv, csvCols,
      CsvDialect(separator = "|", header = true))
    assert(sortedRows(parsedCsv) == Seq(Seq(1L, "x"), Seq(2L, "y")))
  }

  test("row defaults seed missing columns and fill nulls, data wins") {
    val df = Seq((1L, Some("a")), (2L, None)).toDF("id", "v")
    val out = InlinePayload.withRowDefaults(df, Map("v" -> "dflt", "src" -> "file1"))
    assert(sortedRows(out) == Seq(Seq(1L, "a", "file1"), Seq(2L, "dflt", "file1")))
  }

  test("csv sink: column header, forced values, header/footer lines in order") {
    val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(graft.Scratch.root), "graft_csvsink").toString + "/out"
    val df = Seq((2L, "b"), (1L, "a")).toDF("id", "name")
    val cols = Seq(FwColumn("id"), FwColumn("name"), FwColumn("tag", forced = Some("T")))
    CsvSink.write(df, dir, cols, CsvDialect(header = true), orderCol = "id",
      headerCols = Seq(FwColumn("id", fieldName = Some("first"))),
      footerCols = Seq(FwColumn("id", fieldName = Some("last"))))
    val lines = spark.read.text(dir).as[String].collect().toSeq
    assert(lines == Seq("id,name,tag", "1", "1,a,T", "2,b,T", "2"))
  }
}
