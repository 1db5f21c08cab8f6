package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Manifest-committed partitioned parquet — the one partitioned-table
  * kernel: copy-on-write by partition, so a merge, delete or
  * replaceWhere costs O(partitions it touches), never O(table), and
  * every commit publishes atomically. The design is the public
  * Delta/Iceberg idea reduced to its core: data files are IMMUTABLE and
  * never moved or deleted by a commit; each commit writes new files plus
  * one small manifest that maps every live partition to the commit
  * directory owning its current version; readers resolve the LATEST
  * manifest and scan only the files it references. That gives:
  *
  *  - atomic commits: the manifest becomes visible via a single file
  *    rename — a crash mid-merge leaves an orphaned commit directory and
  *    an untouched manifest, never a torn table;
  *  - snapshot isolation: a reader that resolved manifest vN keeps
  *    reading vN's files even while vN+1 commits (nothing is overwritten);
  *  - object-store safety: no directory renames of data (object stores
  *    rename by copy, and partition-dir swaps are not atomic there) — the
  *    only rename is one small manifest file.
  *
  * Layout (one `<col>=<val>` level per partition column):
  * {{{
  *   path/commits/<uuid>/<colA>=<v>[/<colB>=<v>/…]/part-*.parquet  (immutable)
  *   path/_manifests/v00000001.json                                (one per commit)
  * }}}
  *
  * Manifest: `{"version": N, "partitionCols": [c, ...],
  * "commit": uuid, "partitions": {"c=v": "commits/<uuid>", ...},
  * "schemas": {"commits/<uuid>": <StructType JSON>, ...}}` — RELATIVE
  * leaf partition paths as Spark wrote them (hive-escaped; nested
  * `a=1/b=2` for multi-level partitioning), mapped to the commit root
  * that owns the partition's current version; and, per live commit root,
  * the schema of the data columns that commit wrote (partition columns
  * excluded), so a read never infers a schema from parquet footers.
  *
  * Concurrency: optimistic. A committer claims version N+1 by renaming a
  * staged manifest to `v<N+1>.json`; HDFS rename fails if the destination
  * exists, and a read-back verifies the claim on filesystems whose rename
  * overwrites (POSIX). The loser gets an IOException and must re-merge
  * from the new snapshot (its commit directory is orphaned, reclaimed by
  * [[vacuum]]). Cost of the atomic publication: one manifest read +
  * write per commit, beside the data I/O of the touched partitions.
  */
object ManifestStore {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestDir(path: String) = new Path(path, "_manifests")

  /** Metadata-operation counter for snapshot RESOLUTION cost: +1 per
    * manifest read / existence probe / hint read, +N per directory listing
    * of N entries. Tests assert the delta around a resolve stays bounded
    * as commit count grows (the point of the `_latest` hint); production
    * code never reads it.
    */
  private[graft] val metaOps = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `partitions` maps RELATIVE leaf partition paths as Spark wrote them
    * (single level `c=v`, or nested `a=1/b=2` for multi-level
    * partitioning) to the commit root owning that leaf's current version.
    *
    * `txn` records, per logical writer id, the last streaming batch id
    * whose merge this snapshot already contains — the public Delta
    * SetTransaction idea. It rides every subsequent manifest forward, so
    * a replayed batch can be recognized and skipped (exactly-once
    * sinks); absent for tables written by batch-only writers.
    *
    * `schemas` maps each commit root to the data columns it wrote (its
    * partition columns excluded); every publisher carries it forward and
    * adds its own commit's entry, and [[commitManifest]] keeps only the
    * entries of live commits.
    */
  private final case class Manifest(
      version: Int, partitionCols: Seq[String], commit: String, partitions: Map[String, String],
      txn: Map[String, Long], schemas: Map[String, StructType]) {
    /** The snapshot after `c` lands on this one: the `dropped` leafs
      * leave, `c`'s leafs point at `c`, and `c`'s schema is recorded.
      */
    def next(c: Commit, dropped: Set[String], txn: Map[String, Long]): Manifest =
      Manifest(version + 1, partitionCols, c.uuid, (partitions -- dropped) ++ c.pointers,
        txn, schemas + (c.root -> c.schema))
  }

  /** A staged data commit: the relative leaf partition paths Spark wrote
    * under `commits/<uuid>` and the schema of its data columns.
    */
  private final case class Commit(uuid: String, leafs: Seq[String], schema: StructType) {
    def root: String = s"commits/$uuid"
    def pointers: Map[String, String] = leafs.map(_ -> root).toMap
  }

  /** Version numbers present in `_manifests`, newest first. Stray files
    * that merely LOOK like manifests (e.g. a hand-dropped `v2-backup
    * .json`) are skipped, not parsed into a crash.
    */
  private def listVersions(fs: FileSystem, path: String): Seq[Int] = {
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return Nil
    val names = fs.listStatus(dir).map(_.getPath.getName).toSeq
    metaOps.addAndGet(math.max(1L, names.size.toLong))
    names
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".json").toIntOption)
      .sorted(Ordering.Int.reverse)
  }

  /** Latest-version HINT — the public Delta `_last_checkpoint` idea: one
    * small overwritable file naming the newest committed version, written
    * best-effort AFTER every successful commit. It is advisory only —
    * commits claim versions by create-exclusive rename, never by the
    * hint — so a stale or lost hint costs extra probes, never
    * correctness. With it, [[latest]] resolves in O(1 + commits since the
    * last hint write + torn claims) metadata ops instead of listing an
    * unbounded `_manifests/` directory: the compaction a
    * 1,000-commits/day table needs to keep snapshot resolution flat.
    */
  private def hintPath(path: String) = new Path(manifestDir(path), "_latest")

  private def writeHint(fs: FileSystem, path: String, version: Int): Unit =
    try {
      val out = fs.create(hintPath(path), true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: java.io.IOException => () } // advisory: losing it only costs probes

  private def readHint(fs: FileSystem, path: String): Option[Int] =
    try {
      metaOps.incrementAndGet()
      val in = fs.open(hintPath(path))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      text.trim.toIntOption.filter(_ >= 1)
    } catch { case _: java.io.IOException => None }

  private def versionFile(path: String, v: Int) = new Path(manifestDir(path), f"v$v%08d.json")

  private def latestByListing(fs: FileSystem, path: String): Option[Manifest] =
    listVersions(fs, path).iterator
      .map { v => metaOps.incrementAndGet(); scala.util.Try(readManifest(fs, path, v)) }
      .collectFirst { case scala.util.Success(m) => m }

  /** Resolve the newest READABLE manifest: versions are tried newest-first
    * and one that fails to parse is skipped — a torn file from an
    * in-flight or crashed committer (the create-exclusive protocol writes
    * content directly into the claim file) is simply not yet visible,
    * which is the correct snapshot semantics.
    */
  private def latest(fs: FileSystem, path: String): Option[Manifest] = {
    val hinted = readHint(fs, path).flatMap { h =>
      // commits are sequential, so probing forward from the hint finds
      // the top claimed version in (commits since hint) + 1 exists calls
      var top = h
      while ({ metaOps.incrementAndGet(); fs.exists(versionFile(path, top + 1)) }) top += 1
      // the newest claims may be torn (in-flight committer) — walk down
      // to the newest READABLE one; torn claims only exist above the
      // newest readable version, so stopping at the hint is safe
      var v = top
      var res: Option[Manifest] = None
      while (v >= h && res.isEmpty) {
        metaOps.incrementAndGet()
        res = scala.util.Try(readManifest(fs, path, v)).toOption
        v -= 1
      }
      res
    }
    // a hint that leads nowhere (persistently failed hint writes followed
    // by a vacuum of the hinted version) degrades to the full listing —
    // the hint is advisory, never load-bearing
    hinted.orElse(latestByListing(fs, path))
  }

  private def newest(fs: FileSystem, path: String, advice: String = ""): Manifest =
    latest(fs, path).getOrElse(
      throw new java.io.FileNotFoundException(s"ManifestStore: no manifest under $path$advice"))

  private def readManifest(fs: FileSystem, path: String, version: Int): Manifest = {
    val p = versionFile(path, version)
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val j = JsonMethods.parse(text)
    def str(v: JValue) = v match { case JString(s) => s; case other => sys.error(s"manifest $p: $other") }
    Manifest(
      version,
      (j \ "partitionCols") match {
        case JArray(vs) => vs.map(str)
        case other => sys.error(s"manifest $p: partitionCols = $other")
      },
      str(j \ "commit"),
      (j \ "partitions") match {
        case JObject(fields) => fields.map { case (k, v) => k -> str(v) }.toMap
        case other => sys.error(s"manifest $p: partitions = $other")
      },
      (j \ "txn") match {
        // absent on batch-written tables
        case JNothing => Map.empty
        case JObject(fields) => fields.map {
          case (k, JInt(v)) => k -> v.toLong
          case (k, JLong(v)) => k -> v
          case (k, other) => sys.error(s"manifest $p: txn.$k = $other")
        }.toMap
        case other => sys.error(s"manifest $p: txn = $other")
      },
      (j \ "schemas") match {
        // absent: every live commit fails loudly in readLeafs
        case JNothing => Map.empty
        case JObject(fields) => fields.map { case (k, v) =>
          k -> DataType.fromJson(JsonMethods.compact(JsonMethods.render(v))).asInstanceOf[StructType]
        }.toMap
        case other => sys.error(s"manifest $p: schemas = $other")
      })
  }

  /** How long an unreadable claim file is presumed to belong to a LIVE
    * committer before commitManifest may reclaim it inline. A manifest is
    * under a kilobyte; a committer that has not finished writing one in
    * 15 minutes is dead. Must stay well below any vacuum retention.
    */
  private[sources] val TornClaimTimeoutMillis: Long = 15L * 60 * 1000

  private def isClaimConflict(e: java.io.IOException): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    // RawLocalFileSystem wraps the condition in a plain IOException
    case other => other.getMessage != null && other.getMessage.contains("already exists")
  }

  /** Publish `m` as version `m.version` by CREATE-EXCLUSIVE on the
    * version file itself — `create(dst, overwrite = false)` is the atomic
    * claim on HDFS semantics (and conditional-put object stores); the
    * loser of a race gets FileAlreadyExistsException here instead of
    * silently overwriting. Content is written directly into the claim
    * file, so a reader can observe a torn manifest mid-write — [[latest]]
    * skips unparseable versions, which makes a torn newest manifest
    * simply "not yet committed". A post-write read-back re-verifies the
    * commit uuid as a second line of defense on filesystems whose
    * create-exclusive check is not atomic (POSIX local FS has a TOCTOU
    * window); the intended deployment is single-writer-per-table with
    * optimistic conflict DETECTION, not a lock service.
    */
  private def commitManifest(fs: FileSystem, path: String, m: Manifest): Unit = {
    fs.mkdirs(manifestDir(path))
    val dst = versionFile(path, m.version)
    def sorted[V](kvs: Map[String, V])(f: V => JValue): JObject =
      JObject(kvs.toList.sortBy(_._1).map { case (k, v) => k -> f(v) })
    val live = m.partitions.values.toSet
    val fields = List[JField](
      "version" -> JInt(m.version),
      "partitionCols" -> JArray(m.partitionCols.map(JString(_)).toList),
      "commit" -> JString(m.commit),
      "partitions" -> sorted(m.partitions)(JString(_))) ++
      // txn only when present: batch-only tables carry none
      Option.when(m.txn.nonEmpty)("txn" -> sorted(m.txn)(JInt(_))) :+
      // schemas of live commits only, so the manifest stays O(live commits)
      ("schemas" -> sorted(m.schemas.filter(s => live(s._1)))(s => JsonMethods.parse(s.json)))
    val json = JsonMethods.compact(JsonMethods.render(JObject(fields)))
    def claim(): org.apache.hadoop.fs.FSDataOutputStream =
      try fs.create(dst, false)
      catch { case e: java.io.IOException if isClaimConflict(e) =>
        // The claimed version is either a real concurrent COMMIT (file
        // parses → the advice "re-merge from the new snapshot" is
        // actionable) or a TORN claim from a dead committer. A young torn
        // claim may still be in flight — fail and let the caller retry
        // later; an aged one is reclaimed inline, so a crashed committer
        // wedges merges for TornClaimTimeoutMillis, not until a vacuum.
        val parses = scala.util.Try(readManifest(fs, path, m.version)).isSuccess
        if (parses)
          throw new java.io.IOException(
            s"ManifestStore: version ${m.version} already committed (concurrent writer) — re-merge from the new snapshot", e)
        val age = System.currentTimeMillis() - fs.getFileStatus(dst).getModificationTime
        if (age <= TornClaimTimeoutMillis)
          throw new java.io.IOException(
            s"ManifestStore: version ${m.version} is claimed by an in-flight committer (torn manifest, ${age / 1000}s old) — retry later", e)
        fs.delete(dst, false)
        fs.create(dst, false) // a second conflict here is a real race — propagate
      }
    val out = claim()
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (readManifest(fs, path, m.version).commit != m.commit)
      throw new java.io.IOException(
        s"ManifestStore: lost commit race for version ${m.version} — re-merge from the new snapshot")
    writeHint(fs, path, m.version)
  }

  /** RELATIVE leaf partition dirs under `root` as Spark wrote them
    * (depth = partitionCols.length, each segment `<col_i>=...`) — never
    * re-derived by string-formatting values: Spark hive-escapes special
    * characters and nulls, and a name mismatch would silently drop the
    * partition.
    */
  private def leafPartitionDirs(
      fs: FileSystem, root: Path, partitionCols: Seq[String]): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    def walk(st: org.apache.hadoop.fs.FileStatus, depth: Int, rel: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      if (depth == partitionCols.length) Seq(rel -> st)
      else fs.listStatus(st.getPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCols(depth) + "="))
        .flatMap(s => walk(s, depth + 1,
          if (rel.isEmpty) s.getPath.getName else rel + "/" + s.getPath.getName))
    walk(fs.getFileStatus(root), 0, "")
  }

  /** Write a data commit: the frame lands under `commits/<uuid>/` hive-
    * partitioned (nested dirs for multi-level partitioning); returns the
    * staged commit with its relative leaf partition paths and the schema
    * of the data columns it wrote.
    */
  private def writeCommit(
      spark: SparkSession, path: String, df: DataFrame, partitionCols: Seq[String]): Commit = {
    val uuid = java.util.UUID.randomUUID().toString
    val commitRoot = new Path(path, s"commits/$uuid")
    df.write.partitionBy(partitionCols: _*).parquet(commitRoot.toString)
    val fs = fsFor(spark, commitRoot)
    Commit(uuid, leafPartitionDirs(fs, commitRoot, partitionCols).map(_._1),
      StructType(df.schema.filterNot(f => partitionCols.contains(f.name))))
  }

  /** The snapshot a commit builds on: the newest readable manifest,
    * checked against the caller's declared partition columns when it
    * declares them (compaction keeps whatever the table has).
    */
  private def base(fs: FileSystem, path: String, partitionCols: Option[Seq[String]]): Manifest = {
    val m = newest(fs, path, " — write() first")
    for (pc <- partitionCols)
      require(m.partitionCols == pc,
        s"ManifestStore: table is partitioned by ${m.partitionCols.mkString(",")}, not ${pc.mkString(",")}")
    m
  }

  /** Whether a leaf name holds Spark's default partition, where a null
    * partition value lands — and an empty string too, since Spark writes
    * both there (and reads both back as null).
    */
  private def isNullLeaf(leaf: String): Boolean = leaf.contains("__HIVE_DEFAULT_PARTITION__")

  /** Live leaf names of `m` that the partition-column values of `tuples`
    * address, from ONE write and no collect: the values are staged
    * hive-partitioned, duplicates and all, under `_tmp/<tag>_<uuid>`, and
    * Spark's own dynamic-partition write yields the leaf names with the
    * table's exact escaping — never string-format partition values. A
    * default-partition leaf is the null signal, refused with `nullMsg`.
    * `__probe` keeps the staged file non-degenerate (partitionBy strips
    * the partition columns from the data).
    */
  private def stagedLeafs(
      fs: FileSystem, path: String, tag: String, tuples: DataFrame,
      partitionCols: Seq[String], m: Manifest, nullMsg: String): Set[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    val probeDir = new Path(path, s"_tmp/${tag}_${java.util.UUID.randomUUID().toString}")
    try {
      tuples.select(partitionCols.map(col): _*).withColumn("__probe", lit(1))
        .write.partitionBy(partitionCols: _*).parquet(probeDir.toString)
      val leafs = leafPartitionDirs(fs, probeDir, partitionCols).map(_._1)
      require(!leafs.exists(isNullLeaf), nullMsg)
      leafs.filter(m.partitions.contains).toSet
    } finally { try fs.delete(probeDir, true) catch { case _: java.io.IOException => () } }
  }

  /** Delete a staged commit no manifest references. */
  private def reclaim(fs: FileSystem, path: String, uuid: String): Unit =
    try fs.delete(new Path(path, s"commits/$uuid"), true)
    catch { case _: java.io.IOException => () }

  /** The one commit step every publisher ends in: claim, read-back and
    * hint ([[commitManifest]]), then the [[Failpoints]] durable-step
    * hook. A claim that fails leaves no manifest referencing `m.commit`,
    * so its staged directory is reclaimed now instead of waiting for
    * [[vacuum]] — retry loops never accumulate orphan directories.
    */
  private def publish(fs: FileSystem, path: String, m: Manifest): Unit = {
    try commitManifest(fs, path, m)
    catch { case e: java.io.IOException =>
      reclaim(fs, path, m.commit)
      throw e
    }
    Failpoints.step(path)
  }

  /** Initialize (or fully replace) the table: one data commit containing
    * every partition + a manifest mapping all of them to it.
    */
  def write(spark: SparkSession, df: DataFrame, path: String, partitionCol: String): Unit =
    write(spark, df, path, Seq(partitionCol))

  /** Full-overwrite commit: the new snapshot references ONLY this call's
    * data. The txn map does NOT ride forward — an overwrite invalidates
    * every incremental writer's progress bookkeeping by construction
    * (their state described the replaced data); `txnRecord` seeds the
    * fresh map for writers whose marker describes the REWRITE itself
    * (the ClusterStore rebuild fence).
    */
  def write(spark: SparkSession, df: DataFrame, path: String, partitionCols: Seq[String],
      txnRecord: Map[String, Long] = Map.empty): Unit = {
    require(partitionCols.nonEmpty, "ManifestStore.write: at least one partition column")
    val fs = fsFor(spark, new Path(path))
    val c = writeCommit(spark, path, df, partitionCols)
    val version = latest(fs, path).map(_.version + 1).getOrElse(1)
    publish(fs, path, Manifest(version, partitionCols, c.uuid, c.pointers, txnRecord, Map(c.root -> c.schema)))
  }

  /** Readable version numbers, newest first — the time-travel axis.
    * Only the HEAD of the list is parsed (newest-first until the first
    * readable manifest): torn claims can only exist above the newest
    * readable version (see [[vacuum]]), so everything older is readable
    * by construction and listing stays O(1) manifest reads, not O(all
    * versions) — [[vacuum]] keeps the listed tail consistent by deleting
    * manifests together with the superseded data their snapshots need.
    */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val fs = fsFor(spark, new Path(path))
    val vs = listVersions(fs, path)
    vs.zipWithIndex
      .collectFirst { case (v, i) if scala.util.Try(readManifest(fs, path, v)).isSuccess =>
        vs.drop(i) }
      .getOrElse(Nil)
  }

  /** Read a snapshot — the latest by default, or `version` for time
    * travel. Any version listed by [[versions]] is scannable: vacuum
    * deletes aged manifests in the same retention-fenced sweep that
    * reclaims their superseded data files, so time-travel depth = vacuum
    * retention by construction. Partitions are grouped by owning commit
    * root, each group scanned with `basePath` = that commit root (restores
    * the partition column), then unioned — the plan size is O(live
    * commits), not O(partitions), and compaction/vacuum keep live commits
    * few. Each group is scanned with the schema its commit recorded in
    * the manifest, so building the frame runs zero Spark jobs (no
    * parquet footer inference; partition types are parsed from the leaf
    * names, which runs no job).
    */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val fs = fsFor(spark, new Path(path))
    readAll(spark, path, version.fold(newest(fs, path))(readManifest(fs, path, _)))
  }

  /** Scan of every live leaf of snapshot `m`. */
  private def readAll(spark: SparkSession, path: String, m: Manifest): DataFrame =
    readLeafs(spark, path, m, m.partitions.keys.toSeq)

  /** Whether a committed manifest exists at `path` — the explicit
    * missing-table probe. One metadata resolve, no data I/O.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    latest(fsFor(spark, new Path(path)), path).isDefined

  /** The table's declared partition columns (from the newest manifest) —
    * what derived index maintainers ([[ZoneMaps]]) group stats by.
    */
  def partitionColsOf(spark: SparkSession, path: String): Seq[String] =
    newest(fsFor(spark, new Path(path)), path).partitionCols

  /** The newest readable snapshot version — the freshness stamp derived
    * indexes pin themselves to.
    */
  def currentVersion(spark: SparkSession, path: String): Int =
    newest(fsFor(spark, new Path(path)), path).version

  /** Whether the table exists AND its latest snapshot has at least one
    * live partition — distinguishes "never written" / "initialized from
    * an empty frame" from a table with scannable data, without the
    * exception-catching that can swallow real read failures.
    */
  def hasData(spark: SparkSession, path: String): Boolean =
    latest(fsFor(spark, new Path(path)), path).exists(_.partitions.nonEmpty)

  /** Upsert-or-bootstrap: [[merge]] when the table exists, [[write]] on
    * the first call — the maintained-store append primitive, centralized
    * so every store family shares ONE missing-table signal instead of
    * hand-rolled catch clauses. The branch is an explicit manifest
    * probe, NOT a FileNotFoundException catch around the merge: an FNF
    * thrown mid-merge by a missing DATA file (external cleanup, a
    * concurrent vacuum with too-short retention) must propagate, never
    * silently reinitialize the table to just the current batch.
    */
  def mergeOrCreate(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCol: String): Unit =
    if (exists(spark, path)) merge(spark, path, batch, keyCols, partitionCol)
    else write(spark, batch, path, partitionCol)

  /** PARTITION-RESTRICTED snapshot read: scans only the live leaf
    * partitions whose hive-style dir name (e.g. `centroid_id=7`, or
    * `a=1/b=2` for multi-level tables) is in `leafs` — the read an
    * index probe wants, touching O(probed partitions) files no matter
    * how large the table is. Requested leafs that don't exist in the
    * snapshot are skipped; if none exist the table's schema comes back
    * with zero rows.
    */
  def readPartitions(spark: SparkSession, path: String, leafs: Seq[String]): DataFrame = {
    val m = newest(fsFor(spark, new Path(path)), path)
    // distinct: a duplicated leaf name must not scan (and return) that
    // partition's rows twice
    val live = leafs.distinct.filter(m.partitions.contains)
    if (live.isEmpty) read(spark, path).limit(0)
    else readLeafs(spark, path, m, live)
  }

  /** Scan of `leafs` only, at snapshot `m` — the partition-restricted
    * read that [[changes]] builds on. Each commit group is scanned with
    * its recorded schema; a live commit without one is refused. Commits
    * whose files predate a schema evolution lack the added columns;
    * `unionByName` with allowMissingColumns fills them with NULL, the
    * standard Delta/Iceberg read-time semantics for evolved tables.
    */
  private def readLeafs(
      spark: SparkSession, path: String, m: Manifest, leafs: Seq[String]): DataFrame = {
    val live = leafs.filter(m.partitions.contains)
    val byCommit = live.map(l => l -> m.partitions(l)).groupBy(_._2).toSeq.sortBy(_._1)
    if (byCommit.isEmpty)
      throw new IllegalStateException(
        s"ManifestStore: table at $path has no partitions (initialized from an empty frame) — nothing to scan")
    byCommit.map { case (commitRel, parts) =>
      val schema = m.schemas.getOrElse(commitRel, throw new IllegalStateException(
        s"ManifestStore: manifest v${m.version} of $path records no schema for live commit $commitRel"))
      val base = new Path(path, commitRel).toString
      spark.read.schema(schema).option("basePath", base)
        .parquet(parts.map(_._1).sorted.map(d => s"$base/$d"): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Copy-on-write MERGE (upsert) with an atomic commit — the at-scale
    * form of the reference's update/insert reprocess against file
    * storage: read ONLY the touched partitions via the manifest,
    * anti-join their rows on the batch keys, union the batch, rewrite
    * those partitions as one new commit and publish it with a manifest
    * pointer flip. Untouched partitions are never read, rewritten or
    * moved. Contract: the batch carries the partition column(s);
    * partition values are neither null nor `""` (both land in the
    * default-partition leaf, see [[writesAsNull]]); and a key's
    * partition value is STABLE across upserts — a row that moves
    * partitions would leave its old copy behind (detecting that needs a
    * global key scan, which defeats O(touched); route such changes as an
    * explicit [[delete]] plus merge). Multi-level partitioning is
    * supported — the touched set is the distinct partition TUPLES,
    * pruned as an OR-of-AND predicate.
    * A batch whose rows are already on the driver (a `LocalRelation`:
    * `toDF` of local rows, push-mode payloads) yields its tuples with no
    * Spark job, any other batch with one distinct collect; the current
    * rows are read at the snapshot the commit builds on.
    */
  def merge(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCol: String): Unit =
    merge(spark, path, batch, keyCols, Seq(partitionCol))

  /** Retry contract for concurrent writers: a merge that loses the
    * optimistic claim (another committer took the version number, or the
    * read-back showed a different winner) deletes its own orphaned commit
    * directory and re-runs the WHOLE attempt — re-reads the new snapshot,
    * re-plans the upsert, rewrites the touched partitions — up to
    * `maxRetries` times. Upserts commute per key, so re-application on a
    * newer snapshot is semantically the merge the caller asked for. A
    * torn-claim conflict ("retry later": an in-flight committer holds the
    * version) is NOT auto-retried — the claim holder may need minutes,
    * and spinning on it would duplicate its work; that exception
    * propagates with its advice intact.
    */
  def merge(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      maxRetries: Int = 3,
      txn: Option[(String, Long)] = None,
      evolveSchema: Boolean = false,
      txnRecord: Map[String, Long] = Map.empty): Unit =
    withClaimRetry(maxRetries) { () =>
      mergeAttempt(spark, path, batch, keyCols, partitionCols, txn, evolveSchema, txnRecord)
    }

  /** Bounded optimistic retry shared by [[merge]], [[delete]] and
    * [[compact]]: a lost claim re-runs the whole attempt against the new
    * snapshot (all three commute semantically — upserts per key, deletes
    * per key, compaction is content-preserving). Torn-claim "retry later"
    * conflicts still propagate, see the merge scaladoc.
    */
  @annotation.tailrec
  private def withClaimRetry[T](maxRetries: Int)(attempt: () => T): T =
    scala.util.Try(attempt()) match {
      case scala.util.Failure(e: java.io.IOException)
          if e.getMessage != null &&
            e.getMessage.contains("re-merge from the new snapshot") &&
            maxRetries > 0 =>
        withClaimRetry(maxRetries - 1)(attempt)
      case r => r.get
    }

  /** Schema evolution (ADD columns only, the safe 95% of Delta/Iceberg
    * evolution): widen both sides to the union of their columns, missing
    * ones NULL of the other side's type. Type CHANGES are rejected —
    * silent cast-on-merge corrupts data far more often than it helps.
    */
  private def alignSchemas(
      current: DataFrame, batch: DataFrame, partitionCols: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    // partition columns are exempt: their read-side type is inferred from
    // directory names (p=0 reads back as int even when written from a
    // long) and the union coerces them exactly as plain merge always has
    for (f <- batch.schema.fields; g <- current.schema.fields
         if f.name == g.name && !partitionCols.contains(f.name))
      require(f.dataType == g.dataType,
        s"merge(evolveSchema): column ${f.name} changes type ${g.dataType} -> ${f.dataType} — type evolution is not supported")
    val cur2 = batch.schema.fields.filterNot(f => current.columns.contains(f.name))
      .foldLeft(current)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val bat2 = current.schema.fields.filterNot(f => batch.columns.contains(f.name))
      .foldLeft(batch)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    (cur2, bat2.select(cur2.columns.map(col).toSeq: _*))
  }

  private def mergeAttempt(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      txn: Option[(String, Long)] = None,
      evolveSchema: Boolean = false,
      txnRecord: Map[String, Long] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = fsFor(spark, new Path(path))
    val m = base(fs, path, Some(partitionCols))
    // txn fence (the public Delta SetTransaction contract): if this
    // snapshot already contains a batch id >= ours from the same logical
    // writer, the merge was applied before a crash/replay — skip it
    // entirely. The check rides the SAME snapshot read the merge plans
    // against, and the recorded id commits atomically with the data, so
    // the fence cannot tear. Fresh-checkpoint replays restart batch ids
    // at 0, which the >= makes a no-op — the writer id names the logical
    // STREAM (stable across restarts), not the run.
    for ((app, bid) <- txn)
      if (m.txn.get(app).exists(_ >= bid)) return
    val touched = touchedTuples(batch, partitionCols)
    // a zero-row batch touches nothing: no-op, no empty commit, no
    // manifest bump (also keeps the tuple predicate below off
    // empty.reduce)
    if (touched.isEmpty) return
    require(!touched.exists(_.exists(writesAsNull)),
      s"merge: null ${partitionCols.mkString(",")} in batch")
    // current rows of the touched partitions at snapshot m — guarded
    // BEFORE the scan is built: a manifest with zero live partitions (a
    // table initialized from an empty first batch) has nothing to scan,
    // and readLeafs cannot build a frame from no files
    val out =
      if (m.partitions.isEmpty) batch
      else {
        // touched-partition predicate: single column pushes as an IN
        // filter; tuples as a balanced OR-of-AND (depth log(tuples), so
        // thousands of touched tuples never overflow Catalyst's recursive
        // transforms) — both shapes prune directories at planning time
        val current = readAll(spark, path, m)
          .filter(partitionValuesPred(partitionCols, touched))
        // the upsert selects the current columns out of the batch, which
        // would silently DROP a new batch column — surface that as an
        // explicit evolution decision instead
        val extra = batch.columns.filterNot(current.columns.contains)
        require(evolveSchema || extra.isEmpty,
          s"merge: batch adds column(s) ${extra.mkString(",")} the table lacks — pass evolveSchema=true to evolve the schema")
        val (cur2, bat2) =
          if (evolveSchema) alignSchemas(current, batch, partitionCols) else (current, batch)
        // current rows that lose to a batch key are anti-joined away,
        // then the batch is unioned in with the current column order
        val keyed = bat2.select(keyCols.map(c => bat2(c).as(s"__k_$c")): _*)
        val keep = cur2.join(keyed,
          keyCols.map(c => cur2(c) === col(s"__k_$c")).reduce(_ && _), "left_anti")
        keep.unionByName(bat2.select(keep.columns.map(col).toSeq: _*))
      }
    val c = writeCommit(spark, path, out, partitionCols)
    // txnRecord entries commit atomically with the data but are NEVER
    // consulted as a fence — progress markers whose consumers define
    // their own check (the ClusterStore replay fence), vs `txn` whose
    // >= skip is the streaming idempotence contract above
    publish(fs, path, m.next(c, Set.empty, m.txn ++ txnRecord ++ txn))
  }

  /** The distinct `cols` tuples of a merge batch — the touched set of
    * [[merge]]. A batch whose rows are already on the driver (its
    * projection optimizes to a `LocalRelation`: a `toDF` of local rows, a
    * push-mode payload) collects with no Spark job and is deduplicated
    * here; any other batch runs a `distinct()` collect.
    */
  private def touchedTuples(batch: DataFrame, cols: Seq[String]): Seq[Seq[Any]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.col
    val tuples = batch.select(cols.map(col): _*)
    val local = tuples.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val rows = (if (local) tuples else tuples.distinct()).collect()
    rows.map(r => cols.indices.map(r.get)).toSeq.distinct
  }

  /** A partition value Spark writes into the `__HIVE_DEFAULT_PARTITION__`
    * leaf, which reads back as null: null itself and the empty string. A
    * merge refuses both, since its touched filter (`p IN ('')`) would match
    * none of that leaf's rows and the rewrite would drop them.
    */
  private def writesAsNull(v: Any): Boolean = v == null || v == ""

  /** Balanced OR-of-AND membership predicate on partition values — the
    * touched-partition filter of [[merge]], shared by the derived
    * skipping indexes ([[ZoneMaps]], [[BloomIndex]]): `tuples` are the
    * qualifying partitions' values in `pcols` order; the OR tree is
    * balanced (depth log n) so thousands of qualifying partitions never
    * build a right-deep Catalyst expression.
    */
  def partitionValuesPred(
      pcols: Seq[String],
      tuples: Seq[Seq[Any]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    require(tuples.nonEmpty, "partitionValuesPred: empty qualifying set")
    def balanced(cs: Seq[Column]): Column = {
      var cur = cs
      while (cur.size > 1) cur = cur.grouped(2).map(_.reduce(_ || _)).toSeq
      cur.head
    }
    if (pcols.size == 1) col(pcols.head).isin(tuples.map(_.head): _*)
    else balanced(tuples.map(tuple =>
      pcols.zip(tuple).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)))
  }

  /** Partition directories selected by `df`'s plan, summed over EVERY
    * scan in it (from each FileSourceScan's partition filters) — lets
    * tests and ops verify pruning happened instead of trusting it. A
    * multi-commit read is a union of one scan per live commit, and
    * filter-based skipping ([[ZoneMaps]]) prunes each scan
    * independently; `inputFiles` cannot see that pruning (it lists the
    * FileIndex before filters apply).
    */
  def selectedPartitionTotal(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.selectedPartitions.partitionCount.toLong
    }.sum
  }

  /** Last streaming batch id the current snapshot records for the
    * logical writer `appId` (see the txn fence in [[merge]]), or None if
    * the writer has never committed here.
    */
  def lastTxn(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val fs = fsFor(spark, new Path(path))
    latest(fs, path).flatMap(_.txn.get(appId))
  }

  /** Copy-on-write DELETE by key (the right-to-be-forgotten primitive a
    * 100 TB corpus store cannot live without): rewrite ONLY the partitions
    * containing doomed keys, anti-joining the keys away; publication is
    * the same atomic manifest flip as [[merge]]. A partition whose last
    * row dies DROPS out of the manifest — its leaf entry is removed, its
    * old files become vacuum-able garbage.
    *
    * `keys` should carry the partition column(s) (same stable
    * key→partition contract as merge) so the touched set is known without
    * touching the table; if it does not, the touched partitions are
    * LOCATED first via a key+partition-column scan — column-pruned to the
    * key and partition columns only, never the data columns, so the
    * locate pass reads a sliver of a wide table.
    *
    * Touched LEAF NAMES are never re-derived by string-formatting values
    * (see the merge scaladoc): the keys' partition columns are staged
    * hive-partitioned into a scratch dir and the leaf dirs Spark writes
    * ARE the names — bit-identical escaping to the data commits, at
    * O(keys) extra I/O. That one write is also the null check: a null
    * (or empty-string) partition value lands in Spark's default-partition
    * leaf and is refused. Nothing is collected to the driver.
    */
  def delete(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      maxRetries: Int = 3,
      txnRecord: Map[String, Long] = Map.empty): Unit =
    withClaimRetry(maxRetries)(() => deleteAttempt(spark, path, keys, keyCols, partitionCols, txnRecord))

  private def deleteAttempt(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      txnRecord: Map[String, Long] = Map.empty): Unit = {
    import org.apache.spark.sql.functions._
    val fs = fsFor(spark, new Path(path))
    val m = base(fs, path, Some(partitionCols))
    if (m.partitions.isEmpty) return
    val keyFrame = keys.select(keyCols.map(col): _*)
    val located =
      if (partitionCols.forall(keys.columns.contains)) keys
      else
        // locate: key+partition columns only — parquet column pruning
        // keeps this pass narrow on a wide table
        readAll(spark, path, m)
          .select((keyCols ++ partitionCols).distinct.map(col): _*)
          .join(keyFrame, keyCols, "left_semi")
    val touchedLeafs = stagedLeafs(fs, path, "delete", located, partitionCols, m,
      s"delete: null ${partitionCols.mkString(",")} in keys")
    if (touchedLeafs.isEmpty) return
    // readLeafs scans the touched leafs only, so no partition filter
    val survivors = readLeafs(spark, path, m, touchedLeafs.toSeq)
      .join(keyFrame, keyCols, "left_anti")
    val c = writeCommit(spark, path, survivors, partitionCols)
    // emptied partitions are exactly touched -- staged: their leaf entries
    // drop from the manifest instead of pointing at stale data
    publish(fs, path, m.next(c, touchedLeafs, m.txn ++ txnRecord))
  }

  /** Atomic INSERT OVERWRITE of selected partitions (Delta's
    * `replaceWhere` / Hive's INSERT OVERWRITE PARTITION — the third
    * copy-on-write primitive after keyed [[merge]] and keyed [[delete]]):
    * in ONE manifest flip, every partition named in `doomed` (a frame of
    * partition-column tuples) and every partition the `batch` writes is
    * repointed so the table's content for that partition set becomes
    * EXACTLY the batch's rows. Doomed partitions absent from the batch
    * drop out of the manifest; partitions outside the set are untouched.
    * This is what keyed ops cannot express: collapsing N partitions into
    * one (epoch compaction of day subtotals) or clearing a partition
    * outright, with no crash window in which both old and new rows are
    * visible. The doomed leafs come from one staging write of `doomed`
    * (as in [[delete]]); a null or empty-string partition value, in
    * `doomed` or in the batch, lands in the default-partition leaf and is
    * refused.
    *
    * Contract: the batch carries COMPLETE contents for every partition
    * it touches (partition-level overwrite, not an upsert), with
    * non-null partition values. Unlike the full-table [[write]], the
    * txn map RIDES FORWARD (the replaced scope is partition-bounded, so
    * incremental writers' fences for the REST of the table stay valid);
    * writers whose progress bookkeeping describes the replaced
    * partitions must fence themselves via `txnRecord` — the
    * started/completed pattern (see IndexStore.compactStats).
    */
  def replaceWhere(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      doomed: DataFrame,
      partitionCols: Seq[String],
      maxRetries: Int = 3,
      txnRecord: Map[String, Long] = Map.empty): Unit =
    withClaimRetry(maxRetries) { () =>
      replaceWhereAttempt(spark, path, batch, doomed, partitionCols, txnRecord)
    }

  private def replaceWhereAttempt(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      doomed: DataFrame,
      partitionCols: Seq[String],
      txnRecord: Map[String, Long]): Unit = {
    val fs = fsFor(spark, new Path(path))
    val m = base(fs, path, Some(partitionCols))
    val doomedLeafs = stagedLeafs(fs, path, "replace", doomed, partitionCols, m,
      s"replaceWhere: null ${partitionCols.mkString(",")} in doomed")
    // ONE batch execution: writeCommit stages the data and its staged
    // leaf names ARE the written-partition set (a pre-commit
    // `.select(partitionCols).collect()` would re-run the whole batch
    // plan — for compactDays that is the full epoch aggregation, twice)
    val c = writeCommit(spark, path, batch, partitionCols)
    // a null partition value lands in Spark's default-partition leaf —
    // refused, with the staged commit reclaimed
    if (c.leafs.exists(isNullLeaf)) {
      reclaim(fs, path, c.uuid)
      throw new IllegalArgumentException(
        s"replaceWhere: null ${partitionCols.mkString(",")} in batch")
    }
    // nothing to drop, nothing written, nothing to record → no-op (no
    // manifest bump); with only a txnRecord to land, fall through — the
    // marker must still commit (the compaction completed fence)
    if (doomedLeafs.isEmpty && c.leafs.isEmpty && txnRecord.isEmpty) { reclaim(fs, path, c.uuid); return }
    publish(fs, path, m.next(c, doomedLeafs, m.txn ++ txnRecord))
  }

  /** The `epoch:` namespace, owned here: fold outputs ([[compactDays]]
    * and the stores' own folds) are tagged inside it, and every tag a
    * store appends (a day, a forget tag) must stay outside it, so an
    * epoch can never be re-delivered as a day. `why` extends either
    * refusal with an op-specific cure.
    */
  private[graft] def requireDayTag(op: String, day: String, why: String = ""): Unit =
    require(!day.startsWith("epoch:"), s"$op: day '$day' uses the reserved 'epoch:' prefix$why")

  /** A fold tag must carry the reserved `epoch:` prefix ([[requireDayTag]]). */
  private[graft] def requireEpochTag(op: String, tag: String, why: String = ""): Unit =
    require(tag.startsWith("epoch:"),
      s"$op: epoch tag must carry the reserved 'epoch:' prefix, got '$tag'$why")

  /** EPOCH COMPACTION of a day-partitioned subtotal table — the generic
    * metadata diet over the store convention every maintained family
    * shares (one summable subtotal row set per ingested day, reads sum
    * across days): the named `days`' rows (plus any prior `epochDay` row
    * set being folded again) collapse into ONE group-summed row set
    * under `epochDay`, via a single atomic [[replaceWhere]]. Because
    * `sumCols` are exact integer sums and every reader sums day rows
    * unordered, reads are BIT-IDENTICAL before, during (the single
    * commit is atomic — there is no during), and after.
    *
    * Negative correction rows (the forget-by-subtraction convention)
    * fold in like any other day — with a PRIVACY bonus: the
    * (day row, correction row) pair that could reconstruct a forgotten
    * subject's aggregate contribution is destroyed by the fold, leaving
    * only the survivors' totals.
    *
    * Retention rule: a compacted day's re-delivery would double-count,
    * so fold tags live in the reserved `epoch:` namespace (refused here
    * when `epochDay` lacks the prefix) and every append path refuses
    * that namespace through [[requireDayTag]]. Callers own any
    * cross-table ordering fence (see IndexStore.compactStats, whose
    * lens breadcrumbs reference day names).
    */
  def compactDays(
      spark: SparkSession,
      path: String,
      dayCol: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      foldDays: Seq[String],
      epochDay: String,
      txnRecord: Map[String, Long] = Map.empty,
      maxCols: Seq[String] = Seq.empty): Unit = {
    // foldDays, not days: spark.sql.functions.days (the partition
    // transform) would shadow the param under the wildcard import
    import org.apache.spark.sql.functions._
    import spark.implicits._
    requireEpochTag("compactDays", epochDay)
    require(foldDays.nonEmpty && !foldDays.contains(epochDay),
      s"compactDays: foldDays must be non-empty and not contain the epoch tag")
    // maxCols: for stores whose day cells merge by MAX instead of SUM
    // (HLL registers) — max is idempotent, so these folds are immune
    // even to a day accidentally folded twice
    require(sumCols.nonEmpty || maxCols.nonEmpty, "compactDays: nothing to fold")
    // stores whose day rows are NOT foldable opt out via a sidecar tag
    // and are refused wholesale: the heavy-hitter store's TA/TPUT bound
    // pads each candidate by the kth of exactly the days silent on it —
    // information a group-fold destroys — so a "successful" compaction
    // there would silently loosen every certified threshold
    if (graft.ext.StoreSidecar.read(spark, path, Seq("no_epoch_fold"))
        .exists(_("no_epoch_fold") == 1L))
      throw new IllegalStateException(
        s"compactDays: $path is tagged no_epoch_fold — its day rows carry " +
          "per-day read-time guarantees (e.g. the heavy-hitter kth bounds) " +
          "that a group fold would silently loosen; this store must keep " +
          "its day granularity (prune old days by retention policy instead)")
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++ maxCols.map(c => max(col(c)).as(c))
    val doomedDays = (foldDays :+ epochDay).distinct
    val cur = read(spark, path)
    // the fold's column spec must COVER the table exactly: a caller that
    // omits a stratum column (e.g. a grouped vocab store folded without
    // its byCols) would sum counts across strata and write epoch rows
    // missing the column, which later unionByName reads null-fill —
    // silent corruption. Extra named columns are equally wrong (typo'd
    // spec folds nothing it thinks it folds). Same check SampleStore
    // .compactDays does for its own shape.
    val have = cur.columns.toSet
    val want = (groupCols ++ sumCols ++ maxCols :+ dayCol).toSet
    require(have == want,
      s"compactDays: $path columns [${have.toSeq.sorted.mkString(",")}] do not " +
        s"match groupCols+sumCols+maxCols+dayCol [${want.toSeq.sorted.mkString(",")}] — " +
        "folding with a mismatched column spec silently merges strata or drops columns")
    val epoch = cur
      .filter(col(dayCol).isin(doomedDays: _*))
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(dayCol, lit(epochDay))
      // a global agg over zero doomed rows yields one all-null row, not
      // zero rows — no doomed content means no epoch row
      .filter((sumCols ++ maxCols).map(col(_).isNotNull).reduce(_ || _))
    replaceWhere(spark, path, epoch, doomedDays.toDF(dayCol), Seq(dayCol),
      txnRecord = txnRecord)
  }

  /** Change-data-feed between two readable snapshots: one row per key
    * whose state differs between `fromVersion` and `toVersion`, tagged
    * `insert` / `update` / `delete`, carrying the new values (old values
    * for deletes).
    *
    * Scale shape — the whole point: a commit repoints only the leaf
    * partitions it touched, so the diff scans ONLY partitions whose
    * commit pointer differs between the two manifests, then joins old vs
    * new on the key WITHIN those partitions. A day of commits over a
    * 100 TB table diffs in O(data touched that day), never O(table).
    * Unchanged rows inside a rewritten partition (copy-on-write rewrites
    * whole partitions) are dropped by the value comparison, so the feed
    * reports logical changes, not physical rewrites.
    */
  def changes(
      spark: SparkSession,
      path: String,
      fromVersion: Int,
      toVersion: Int,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion < toVersion, s"changes: fromVersion $fromVersion must be < toVersion $toVersion")
    val fs = fsFor(spark, new Path(path))
    val mFrom = readManifest(fs, path, fromVersion)
    val mTo = readManifest(fs, path, toVersion)
    require(mFrom.partitionCols == mTo.partitionCols,
      s"changes: partitioning changed between versions (${mFrom.partitionCols} vs ${mTo.partitionCols})")
    val changed = (mFrom.partitions.keySet ++ mTo.partitions.keySet)
      .filter(l => mFrom.partitions.get(l) != mTo.partitions.get(l)).toSeq.sorted
    val oldLeafs = changed.filter(mFrom.partitions.contains)
    val newLeafs = changed.filter(mTo.partitions.contains)
    // template for the output schema when one side (or the whole diff) is
    // empty: that side's snapshot columns, zero rows (the FALSE filter
    // folds the scan away). A snapshot with no partitions at all borrows
    // the other side's schema — alignSchemas reconciles the union anyway.
    def emptyLike(m: Manifest): DataFrame = {
      val src = if (m.partitions.nonEmpty) m
        else if (mTo.partitions.nonEmpty) mTo
        else if (mFrom.partitions.nonEmpty) mFrom
        else throw new IllegalStateException(
          s"changes: both snapshots of $path are empty — nothing to diff")
      readLeafs(spark, path, src, src.partitions.keys.toSeq).where(lit(false))
    }
    val oldDf0 = if (oldLeafs.nonEmpty) readLeafs(spark, path, mFrom, oldLeafs) else emptyLike(mFrom)
    val newDf0 = if (newLeafs.nonEmpty) readLeafs(spark, path, mTo, newLeafs) else emptyLike(mTo)
    val (oldDf, newDf) = alignSchemas(oldDf0, newDf0, mTo.partitionCols)
    val dataCols = newDf.columns.filterNot(keyCols.contains).toSeq
    val o = oldDf.withColumn("__old_present", lit(1)).as("o")
    val n = newDf.withColumn("__new_present", lit(1)).as("n")
    val joined = o.join(n, keyCols.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _), "full_outer")
    val oldStruct = struct(dataCols.map(c => col(s"o.$c")): _*)
    val newStruct = struct(dataCols.map(c => col(s"n.$c")): _*)
    val changeType =
      when(col("o.__old_present").isNull, lit("insert"))
        .when(col("n.__new_present").isNull, lit("delete"))
        .when(!(oldStruct <=> newStruct), lit("update"))
    joined
      .withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .select(
        keyCols.map(c => coalesce(col(s"n.$c"), col(s"o.$c")).as(c)) ++
          dataCols.map(c =>
            when(col("change_type") === "delete", col(s"o.$c")).otherwise(col(s"n.$c")).as(c)) :+
          col("change_type"): _*)
  }

  /** Rewrite every live partition into ONE fresh commit (each leaf lands
    * as a single file via the hash repartition on the partition columns)
    * and flip the manifest — content-identical, metadata-minimal. Returns
    * the number of live commits collapsed, 0 if already compact.
    *
    * Why it matters at scale: [[read]] builds one scan per LIVE COMMIT,
    * so a table taking thousands of small merges accretes plan size and
    * small files without bound; compaction resets both to O(partitions).
    * The superseded files stay until [[vacuum]] (snapshot isolation for
    * in-flight readers). For leafs too large for one file, cap with
    * `spark.sql.files.maxRecordsPerFile` — the write splits per task
    * without changing the plan shape.
    */
  def compact(spark: SparkSession, path: String, maxRetries: Int = 3): Int =
    withClaimRetry(maxRetries)(() => compactAttempt(spark, path))

  private def compactAttempt(spark: SparkSession, path: String): Int = {
    import org.apache.spark.sql.functions._
    val fs = fsFor(spark, new Path(path))
    val m = base(fs, path, None)
    val liveCommits = m.partitions.values.toSet
    if (liveCommits.size <= 1) return 0
    // readAll against THIS manifest, not a re-resolved latest: the
    // staged-leafs == live-leafs check below must compare within one
    // snapshot even if another commit lands mid-compaction
    val df = readAll(spark, path, m).repartition(m.partitionCols.map(col): _*)
    val c = writeCommit(spark, path, df, m.partitionCols)
    require(c.leafs.toSet == m.partitions.keySet,
      s"compact: staged leafs ${c.leafs.size} != live leafs ${m.partitions.size} — aborting before manifest flip")
    publish(fs, path, m.next(c, m.partitions.keySet, m.txn))
    liveCommits.size
  }

  /** Delete data not referenced by the LATEST manifest: whole commit
    * directories with no live partition (crashed/lost-race commits), and
    * superseded partition subdirs inside still-live commits. Returns the
    * number of directories removed.
    *
    * `minAgeMillis` is the safety fence for CONCURRENT WRITERS, not just
    * old readers: an in-flight merge has already written its commit
    * directory but not yet committed its manifest — to vacuum it looks
    * exactly like an orphan. Only directories whose modification time is
    * older than `now - minAgeMillis` are touched, so set the retention
    * longer than any merge can run (and than any reader holds a
    * snapshot). The 24h default matches common table-format practice;
    * pass 0 only when no other writer or reader can be active.
    */
  def vacuum(spark: SparkSession, path: String,
      minAgeMillis: Long = 24L * 3600 * 1000): Int = {
    val fs = fsFor(spark, new Path(path))
    val m = latest(fs, path).getOrElse(return 0)
    val commitsDir = new Path(path, "commits")
    if (!fs.exists(commitsDir)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMillis
    var removed = 0
    // heal torn manifest claims: a committer that crashed mid-write leaves
    // an unparseable version file that blocks that version number (though
    // commitManifest also reclaims aged torn claims inline). ONLY versions
    // ABOVE the newest readable manifest are candidates — nothing can
    // commit past a torn claim, so a torn file can only exist there, and
    // restricting the scan means a transient read error on a LIVE
    // manifest can never delete table metadata (and vacuum never re-reads
    // all of history). Age-gated like data, so an in-flight claim is
    // never stolen.
    for (v <- listVersions(fs, path) if v > m.version) {
      val f = fs.getFileStatus(versionFile(path, v))
      if (f.getModificationTime <= cutoff &&
          scala.util.Try(readManifest(fs, path, v)).isFailure) {
        fs.delete(f.getPath, false); removed += 1
      }
    }
    // expire old SNAPSHOTS with their data: manifests below the latest are
    // deleted once aged past the retention fence, so [[versions]] never
    // lists a snapshot whose superseded files the data sweep below has
    // reclaimed — time-travel depth IS the vacuum retention, by
    // construction rather than by documentation
    for (v <- listVersions(fs, path) if v < m.version) {
      val p = versionFile(path, v)
      if (fs.getFileStatus(p).getModificationTime <= cutoff) {
        fs.delete(p, false); removed += 1
      }
    }
    for (c <- fs.listStatus(commitsDir) if c.isDirectory) {
      val rel = s"commits/${c.getPath.getName}"
      val livePartsHere = m.partitions.collect { case (p, r) if r == rel => p }.toSet
      if (livePartsHere.isEmpty) {
        if (c.getModificationTime <= cutoff) { fs.delete(c.getPath, true); removed += 1 }
      } else for ((leaf, st) <- leafPartitionDirs(fs, c.getPath, m.partitionCols)
                if !livePartsHere.contains(leaf) && st.getModificationTime <= cutoff) {
        fs.delete(st.getPath, true); removed += 1
        // reclaim now-empty intermediate partition dirs (multi-level:
        // deleting y=2023/m=1 can leave an empty y=2023/ behind)
        var parent = st.getPath.getParent
        while (parent != null && parent != c.getPath && fs.listStatus(parent).isEmpty) {
          fs.delete(parent, false)
          parent = parent.getParent
        }
      }
    }
    removed
  }
}
