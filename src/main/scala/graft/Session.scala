package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Bench, Verify,
  * ScaleBench, [[Tool]] and the test suites all open theirs here, so the
  * numbers, the oracle dumps, the diagnostics and the specs all run
  * under the same settings and differ only in core count.
  */
object Session {

  /** A `local[cpus]` session with `shuffle.partitions = cpus`, UTC, the
    * UI off, log level WARN, the local-FS I/O regime below and
    * [[GraftExtensions]] installed. `overrides` are applied last, so a
    * config A/B can replace any of these.
    */
  def local(cpus: Int, overrides: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // compat branch: a TIMESTAMP(NANOS)-typed events fixture (which
      // Spark 4 rejects natively) reads as LONG nanos; the current fixture
      // is TIMESTAMP(MICROS) and reads natively. Events.epochMicros
      // resolves either encoding by schema.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Local-FS I/O regime (r15, measured: 10-gate lifecycle subset
      // 95.3 s → 79.1 s, ~17%): Hadoop's default local "file" FS is
      // ChecksumFileSystem, which writes+verifies a client-side .crc
      // sidecar per file — an artifact of LOCAL mode that production
      // filesystems (HDFS datanode checksums, object-store etags) do not
      // pay on this code path. RawLocalFileSystem drops the sidecars;
      // commit semantics are unchanged (ManifestStore's create-exclusive
      // claim and read-back live on the raw FS either way). Overridable
      // via the standard spark.hadoop.* mechanism for deployments that
      // want client checksums on local disk.
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      // v2 commit: task-commit renames instead of a sequential
      // job-commit rename pass on the driver. Safe here by construction:
      // every Spark write lands in a fresh per-commit/per-run directory
      // whose VISIBILITY is governed by the ManifestStore manifest flip
      // (or by being this run's scratch), so v1's stronger
      // job-level atomicity adds nothing — the table format already
      // provides it.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .withExtensions(new GraftExtensions)
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
