package graft

import org.apache.spark.sql.functions._
import graft.ext.AsofJoin

/** As-of join semantics + the registered SQL function. */
class AsofSpec extends SparkSpec {
  import spark.implicits._

  test("asof join picks latest right <= left per key; null when none") {
    val quotes = Seq( // (key, ts, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("B", 15L, 9.0))
      .toDF("sym", "ts", "px")
    val trades = Seq(
      ("A", 5L), ("A", 20L), ("A", 25L), ("A", 35L), ("B", 14L), ("C", 50L))
      .toDF("sym", "ts")
    val out = AsofJoin(trades, quotes, "sym", "ts", "ts",
      Map("px" -> "last_px", "ts" -> "px_ts"))
    val got = out.collect().map(r =>
      (r.getString(0), r.getLong(1), Option(r.getAs[Any]("last_px")), Option(r.getAs[Any]("px_ts"))))
      .toSet
    assert(got == Set(
      ("A", 5L, None, None),              // before first quote
      ("A", 20L, Some(2.0), Some(20L)),   // tie: equal ts matches
      ("A", 25L, Some(2.0), Some(20L)),
      ("A", 35L, Some(3.0), Some(30L)),
      ("B", 14L, None, None),
      ("C", 50L, None, None)))            // key with no right rows
  }

  test("asof join preserves left row count") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .transform(e => e.withColumn("ts_us", graft.ext.Events.epochMicros(e)))
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val right = ev.limit(100)
    assert(AsofJoin(ev, right, "user_id", "ts_us", "ts_us",
      Map("event_id" -> "rid")).count() == ev.count())
  }

  test("graft_dot is registered as a SQL function") {
    // no manual registration: Session.local installs GraftExtensions
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }
}
