package graft

/** The specs run under the session settings Bench and Verify run. */
class SessionSpec extends SparkSpec {

  test("the shared session runs the bench I/O regime") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get("fs.file.impl") == "org.apache.hadoop.fs.RawLocalFileSystem")
    assert(hadoop.get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
