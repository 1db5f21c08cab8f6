package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.Events
import graft.queries.ExtQueries

/** The events fixture's `ts` column has shipped in two parquet encodings:
  * TIMESTAMP(NANOS) (read as LONG nanos under `nanosAsLong=true`) and
  * TIMESTAMP(MICROS) (parquet's default, read natively as TIMESTAMP_NTZ).
  * The engine must be indifferent to which one it gets — this suite writes
  * a tiny events table in BOTH encodings and asserts every event-time entry
  * point analyzes and produces identical results on each.
  *
  * (Spark cannot WRITE TIMESTAMP(NANOS); a LONG-typed `ts` parquet is
  * byte-for-byte what the `nanosAsLong=true` compat read of a NANOS file
  * yields, so it exercises exactly the same engine branch.)
  */
class TsCompatSpec extends SparkSpec {
  import spark.implicits._

  private val base = {
    // under the per-JVM Scratch run dir, which Scratch's own shutdown
    // hook removes, so a test run leaks no graft_tscompat* dir into /tmp
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.root), "graft_tscompat").toString
  }
  private val nanosDir  = s"$base/nanos"
  private val microsDir = s"$base/micros"

  // 40 events over 4 users / 3 hours, with signup/click/purchase types and
  // gaps straddling the 30-min session boundary.
  private lazy val fixtureWritten: Unit = {
    val t0 = 1700000000000000L // epoch µs
    val rows = (0 until 40).map { i =>
      val user = (i % 4).toLong
      val tsUs = t0 + i.toLong * 7L * 60 * 1000000L + (i % 3) * 11L * 1000000L
      val tpe = if (i < 4) "signup" else if (i % 3 == 0) "click" else if (i % 5 == 0) "purchase" else "view"
      (i.toLong, tsUs, user, tpe, i * 1.5, s"""{"k":$i}""")
    }
    val df = rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    df.select(col("event_id"), (col("ts_us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    df.select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")
  }

  private def events(dir: String): DataFrame = {
    fixtureWritten
    spark.read.parquet(s"$dir/events.parquet")
  }

  test("fixtures carry the two distinct ts encodings") {
    assert(events(nanosDir).schema("ts").dataType == LongType)
    assert(events(microsDir).schema("ts").dataType == TimestampNTZType)
  }

  test("epochMicros agrees across LONG-nanos, TIMESTAMP_NTZ, and TIMESTAMP") {
    val n = events(nanosDir).select(col("event_id"), Events.epochMicros(events(nanosDir)).as("us"))
    val m = events(microsDir).select(col("event_id"), Events.epochMicros(events(microsDir)).as("us"))
    val tz = events(microsDir).transform(e =>
      e.withColumn("ts", col("ts").cast(TimestampType)))
    val z = tz.select(col("event_id"), Events.epochMicros(tz).as("us"))
    assert(sortedRows(n) == sortedRows(m))
    assert(sortedRows(n) == sortedRows(z))
    assert(n.schema("us").dataType == LongType)
  }

  test("epochMicros floors negative (pre-1970) LONG nanos like epoch_us") {
    // `div` truncates toward zero; DuckDB's epoch_us floors — they
    // disagree on negative epochs (-1500 ns is -2 µs, not -1). The pmod
    // adjustment in the LongType branch must floor.
    import spark.implicits._
    val df = Seq((1L, -1500L), (2L, -1000L), (3L, -999L), (4L, 1500L), (5L, 0L))
      .toDF("event_id", "ts")
    val got = df.select(col("event_id"), Events.epochMicros(df).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((1L, -2L), (2L, -1L), (3L, -1L), (4L, 1L), (5L, 0L)))
  }

  // Every batch event-time entry point, run end-to-end on both encodings.
  private val batchEntryPoints: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "x08_sessions" -> (ExtQueries.x08SessionStats _),
    "x09_tumbling" -> (ExtQueries.x09TumblingWindow _),
    "x13_sliding"  -> (ExtQueries.x13SlidingWindow _),
    "x17_asof"     -> (ExtQueries.x17AsofJoin _))

  for ((name, q) <- batchEntryPoints)
    test(s"$name analyzes and matches on both ts encodings") {
      fixtureWritten
      val a = q(spark, nanosDir)
      val b = q(spark, microsDir)
      val ra = sortedRows(a)
      assert(ra.nonEmpty)
      assert(ra == sortedRows(b))
    }

  // The streaming family (x33/x36/x42/x44) resolves ts through the same
  // Events.epochMicros call before any replay logic; assert its projection
  // step analyzes on both encodings without running the replay harness.
  test("streaming-family ts projection analyzes on both encodings") {
    for (dir <- Seq(nanosDir, microsDir)) {
      val e = events(dir)
      val proj = e.select(col("event_id"), col("user_id"), col("event_type"),
        Events.epochMicros(e).as("tu"))
      assert(proj.schema("tu").dataType == LongType)
      assert(proj.count() == 40L)
    }
  }
}
