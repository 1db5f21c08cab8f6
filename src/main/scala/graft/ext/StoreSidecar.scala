package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.sources.Failpoints

/** The `_graft_geometry.json` sidecar shared by every maintained store
  * ([[DedupStores]], [[VectorStore]], [[ClusterStore]], [[MediaStore]],
  * …): a tiny flat-integer JSON at the table root — outside
  * `manifests/`/`commits/`, so ManifestStore's reads and vacuum never
  * touch it — recording the build-time geometry that later
  * probes/appends must match. A store checks it through one of two
  * policies, [[requireOrInit]] (record on first touch, then require an
  * exact match) or [[require]] (must exist; [[requireMatching]] adds
  * the exact match); DedupStores'
  * validate-if-present probe/append check is the one remaining
  * exception. This object holds the one copy of the IO, parse and
  * compare loop, so a fix to sidecar handling lands everywhere at once.
  * Every writer reports its file as a durable step to
  * [[graft.sources.Failpoints]].
  */
private[graft] object StoreSidecar {

  private def path(root: String) = new Path(root, "_graft_geometry.json")

  private def marker(root: String, name: String) = new Path(root, s"_graft_$name")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Overwrite one small file — a durable step. */
  private def put(spark: SparkSession, p: Path, text: String): Unit = {
    val out = fsOf(spark, p).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    Failpoints.step(p.toString)
  }

  def write(spark: SparkSession, root: String, fields: Seq[(String, Long)]): Unit =
    put(spark, path(root), fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

  /** All requested keys parsed from the sidecar, or None when the file
    * is absent OR any key is missing/unparsable (a partial sidecar is
    * as untrustworthy as none).
    */
  def read(spark: SparkSession, root: String, keys: Seq[String]): Option[Map[String, Long]] = {
    val p = path(root)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed = keys.flatMap { k =>
      s""""$k":(\\d+)""".r.findFirstMatchIn(txt).map(m => k -> m.group(1).toLong)
    }.toMap
    if (parsed.size == keys.size) Some(parsed) else None
  }

  /** A tiny named MARKER file at the table root (`_graft_<name>`) —
    * the cheap-path switch for reads that pay a forget-correctness tax
    * only forget-touched stores need (r14 verdict: the LM/vocab net-sum
    * V filter ran on every forget-free read). Contract: the WRITER must
    * set the marker BEFORE committing the state the marker describes
    * (marker-first ordering) — a crash between the two leaves a set
    * marker over an untouched store, which only costs the slow path,
    * never correctness; the reverse order would serve the cheap path
    * over corrected counts. Markers are never cleared: compaction that
    * folds corrections away may clear via [[clearMarker]] AFTER the
    * fold commits (slow-path-safe in the same way).
    */
  def setMarker(spark: SparkSession, root: String, name: String): Unit =
    put(spark, marker(root, name), "1")

  def hasMarker(spark: SparkSession, root: String, name: String): Boolean =
    fsOf(spark, marker(root, name)).exists(marker(root, name))

  def clearMarker(spark: SparkSession, root: String, name: String): Unit = {
    val p = marker(root, name)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) { fs.delete(p, false); Failpoints.step(p.toString) }
  }

  /** The require-or-init policy (IndexStore, ViewStore, MediaStore,
    * BenchRegistry, SampleStore, kmv, hh): first touch on a fresh table
    * RECORDS the geometry; every later touch REQUIREs an exact match and
    * fails loudly otherwise.
    */
  def requireOrInit(
      spark: SparkSession,
      root: String,
      want: Seq[(String, Long)],
      store: String): Map[String, Long] =
    read(spark, root, want.map(_._1)) match {
      case Some(got) => matching(root, got, want, store)
      case None =>
        write(spark, root, want)
        want.toMap
    }

  /** The must-exist policy: the recorded values of `keys`, failing
    * loudly when the sidecar is absent — the store was never built, its
    * build did not complete, or `root` is not this store's table. A
    * guess in its place could let a mismatched geometry corrupt reads.
    */
  def require(
      spark: SparkSession,
      root: String,
      keys: Seq[String],
      store: String): Map[String, Long] =
    read(spark, root, keys).getOrElse(throw new IllegalStateException(
      s"$store: $root has no geometry sidecar — build the store first " +
        "(or this is not its table)"))

  /** [[require]], then REQUIRE `want` to match the recorded values exactly. */
  def requireMatching(
      spark: SparkSession,
      root: String,
      want: Seq[(String, Long)],
      store: String): Map[String, Long] =
    matching(root, require(spark, root, want.map(_._1), store), want, store)

  private def matching(
      root: String, got: Map[String, Long], want: Seq[(String, Long)],
      store: String): Map[String, Long] = {
    for ((k, v) <- want if got(k) != v)
      throw new IllegalArgumentException(
        s"$store: $root was built with $k=${got(k)} but this call uses $k=$v — " +
          "a geometry mismatch silently corrupts reads or recall")
    got
  }
}
