package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spec.Specs.FwColumn

/** Fixed-width TXT parse/render — the reference's primary file format
  * (parse: cubicerpetl/cubicerpetl.py:228-248; render `get_txt_lines`:
  * :548-565). Implemented entirely as compositions of built-in, codegen'd
  * expressions (`substring`/`lpad`/`rpad`/`concat`) — no UDFs, no custom
  * Expression — so the whole parse/render stays inside WholeStageCodegen
  * and scales linearly with input splits.
  *
  * Order-dependent header/footer semantics (SURVEY.md §7.4): the reference
  * takes the physical first/last line of a single file (:235-240). A
  * distributed engine has no implicit file order, so [[parseLines]] takes a
  * DataFrame that must carry an explicit `__line_no` ordering column (the
  * single-file reader [[readFile]] derives it from the text source's
  * within-file order).
  */
object FixedWidth {

  /** Extract one fixed-width field as a string column: slice by (position,
    * length) then strip the fill padding on the side the alignment added it.
    * Reference slice: `line[col['txt_position']-1 : position-1+lenght]`
    * (cubicerpetl.py:246-248).
    */
  def sliceCol(line: Column, c: FwColumn): Column = {
    val raw = substring(line, c.position, c.length)
    val fill = c.fillChar
    val stripped = c.align match {
      case "rjust"  => ltrim(raw, fill)
      case "center" => rtrim(ltrim(raw, fill), fill)
      case _        => rtrim(raw, fill)
    }
    stripped.as(c.outName)
  }

  /** Cast a parsed (string) field to its declared logical type.
    * Numeric edge: a zero-filled right-justified field whose VALUE is zero
    * strips to "" — restore the zero; otherwise empty ⇒ null (nullif keeps
    * ANSI-mode casts from throwing on blank fields).
    */
  def typed(c: Column, fw: FwColumn): Column = {
    def num(target: String): Column = {
      val base =
        if (fw.align == "rjust" && fw.fillChar == "0")
          when(c === "", lit("0")).otherwise(c)
        else nullif(c, lit(""))
      base.cast(target)
    }
    fw.dataType match {
      case "string" => c
      case "int"    => num("int")
      case "long"   => num("long")
      case "double" => num("double")
      case "date"   => to_date(nullif(c, lit("")), fw.format.getOrElse("yyyy-MM-dd"))
      case "timestamp" => to_timestamp(nullif(c, lit("")), fw.format.getOrElse("yyyy-MM-dd HH:mm:ss"))
      case other => throw new IllegalArgumentException(s"fw type: $other")
    }
  }

  /** Parse fixed-width lines into typed columns.
    *
    * @param lines DataFrame with `value` (the line) and `__line_no` (explicit
    *              order — first line is min, last is max)
    * @param cols  data-row schema
    * @param headerCols if non-empty, the first line is a header row parsed
    *              with this schema and its fields are merged into every data
    *              row (reference :235-237, merge :247)
    * @param footerCols same for the last line (reference :238-240)
    */
  def parseLines(
      lines: DataFrame,
      cols: Seq[FwColumn],
      headerCols: Seq[FwColumn] = Nil,
      footerCols: Seq[FwColumn] = Nil): DataFrame = {
    def parsed(line: Column, fw: Seq[FwColumn], prefix: String): Seq[Column] =
      fw.zipWithIndex.map { case (c, i) => typed(sliceCol(line, c), c).as(s"$prefix$i") }
    val dataCols = cols.map(c => typed(sliceCol(col("value"), c), c).as(c.outName)) :+ col("__line_no")
    if (headerCols.isEmpty && footerCols.isEmpty) lines.select(dataCols: _*)
    else {
      // One aggregate over the lines yields the bounds and the edge lines
      // themselves (the values at the first and last `__line_no`); the
      // header and footer are parsed once on that one-row frame, which is
      // broadcast to every line to drop the edge rows and merge the
      // header/footer fields into each data row (reference :247).
      val bounds = lines.agg(
          min(col("__line_no")).as("__first"), max(col("__line_no")).as("__last"),
          min_by(col("value"), col("__line_no")).as("__head"),
          max_by(col("value"), col("__line_no")).as("__tail"))
        .select(Seq(col("__first"), col("__last")) ++
          parsed(col("__head"), headerCols, "__h") ++ parsed(col("__tail"), footerCols, "__f"): _*)
      val edge = Seq(headerCols.nonEmpty -> "__first", footerCols.nonEmpty -> "__last")
        .collect { case (true, b) => col("__line_no") =!= col(b) }.reduce(_ && _)
      lines.crossJoin(broadcast(bounds)).filter(edge).select(dataCols ++
        headerCols.indices.map(i => col(s"__h$i").as(headerCols(i).outName)) ++
        footerCols.indices.map(i => col(s"__f$i").as(footerCols(i).outName)): _*)
    }
  }

  /** Read a fixed-width file from disk with an explicit within-file line
    * order derived from the text source. Single-file sources only (the
    * reference's model); multi-file inputs need a declared ordering column.
    *
    * `encoding` matches the reference's per-file charset (`encoding`
    * attribute, decode at cubicerpetl.py:342-343) — legacy fixed-width
    * drops are routinely Latin-1/cp1252. Spark's text source splits
    * records on the 0x0A byte (correct and splittable for any
    * ASCII-compatible charset) and keeps each line's bytes as they are, so
    * non-UTF-8 charsets take those raw bytes back with a cast to binary
    * and decode per line on executors. UTF-16-family charsets (multi-byte
    * newlines) are rejected rather than silently mis-split.
    */
  def readFile(
      spark: SparkSession,
      path: String,
      cols: Seq[FwColumn],
      headerCols: Seq[FwColumn] = Nil,
      footerCols: Seq[FwColumn] = Nil,
      encoding: String = "UTF-8"): DataFrame = {
    val charset = java.nio.charset.Charset.forName(encoding)
    // Whitelist by PROPERTY, not by name: the text source splits records on
    // the 0x0A byte, so the charset must encode '\n' as exactly that byte
    // (and round-trip an ASCII probe). A name blacklist misses charsets
    // like EBCDIC (cp037/cp500), which contain no 0x0A line bytes at all
    // and would silently yield one mis-split record instead of rejecting.
    val nl = "\n".getBytes(charset)
    require(nl.length == 1 && nl(0) == 0x0A.toByte &&
      new String("A\n".getBytes(charset), charset) == "A\n",
      s"fixed-width reader needs an ASCII-newline-compatible charset " +
        s"(\\n must encode as the single byte 0x0A), got ${charset.name}")
    // ENFORCED single-file contract (SURVEY.md §7.4): the derived
    // `__line_no` matches physical line order only within ONE file. A
    // path resolving to several files would get an ARBITRARY cross-file
    // order (Spark lists splits by size, not name), silently corrupting
    // header/footer/first/last semantics — reject it loudly; multi-file
    // inputs must go through parseLines with a declared ordering column.
    val resolved = {
      val p = new org.apache.hadoop.fs.Path(path)
      val pfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      Option(pfs.globStatus(p)).map(_.toSeq).getOrElse(Nil).flatMap { st =>
        if (st.isDirectory)
          pfs.listStatus(st.getPath).toSeq.filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        else Seq(st)
      }
    }
    require(resolved.size == 1,
      s"fixed-width source '$path' resolves to ${resolved.size} data files; " +
        "within-file line order is only defined for a single file — read " +
        "files individually, or parse via parseLines with an explicit " +
        "__line_no ordering column (SURVEY.md §7.4)")
    // monotonically_increasing_id is ordered within a partition and by
    // partition id across partitions, which matches within-file line order
    // for a single splittable text file read in order.
    // (Not SparkContext.hadoopFile: it calls FileSystem.getLocal, which
    // throws under the RawLocalFileSystem regime graft.Session runs.)
    val text = spark.read.text(path)
    val lines =
      if (charset == java.nio.charset.StandardCharsets.UTF_8) text
      else {
        val name = charset.name // serialize the name, not the Charset
        val decode = udf((b: Array[Byte]) => new String(b, java.nio.charset.Charset.forName(name)))
        text.select(decode(col("value").cast("binary")).as("value"))
      }
    parseLines(lines.withColumn("__line_no", monotonically_increasing_id()),
      cols, headerCols, footerCols).drop("__line_no")
  }

  /** Render one value to its fixed-width cell: forced-value override, cast
    * to string (numerics through an optional printf format), truncate to
    * length, then pad on the alignment side with the fill char.
    * Reference semantics: get_txt_lines cubicerpetl.py:554-563
    * (forced :556, truncation via slice :558, align+fill :558-562).
    */
  def renderCell(row: Column, c: FwColumn): Column = {
    val base: Column = c.forced match {
      case Some(v) => lit(v)
      case None =>
        (c.dataType, c.format) match {
          case ("double", Some(f)) => format_string(f, row)
          case ("date", f)         => date_format(row, f.getOrElse("yyyy-MM-dd"))
          case ("timestamp", f)    => date_format(row, f.getOrElse("yyyy-MM-dd HH:mm:ss"))
          case (_, Some(f)) if c.dataType != "string" => format_string(f, row)
          case _ => row.cast("string")
        }
    }
    val truncated = substring(coalesce(base, lit("")), 1, c.length)
    c.align match {
      case "rjust"  => lpad(truncated, c.length, c.fillChar)
      case "center" =>
        // center = rjust half the slack then ljust to full width (python
        // str.center puts the extra fill on the right, lpad/rpad mirror it)
        val slack = lit(c.length) - length(truncated)
        rpad(lpad(truncated, (length(truncated) + slack / 2).cast("int"), lit(c.fillChar)), c.length, c.fillChar)
      case _ => rpad(truncated, c.length, c.fillChar)
    }
  }

  /** Render rows to fixed-width lines (single `value` string column).
    * Columns are laid out at their 1-based positions; gaps between fields
    * are space-filled (reference pads the line to position with spaces,
    * cubicerpetl.py:554-555).
    */
  def renderLines(df: DataFrame, cols: Seq[FwColumn]): DataFrame = {
    val ordered = cols.sortBy(_.position)
    // validate layout: no overlaps
    ordered.sliding(2).foreach {
      case Seq(a, b) =>
        require(a.position + a.length <= b.position,
          s"fw overlap: ${a.name}@${a.position}+${a.length} vs ${b.name}@${b.position}")
      case _ =>
    }
    val pieces = ordered.foldLeft((Seq.empty[Column], 1)) { case ((acc, cursor), c) =>
      val gap = if (c.position > cursor) Seq(lit(" " * (c.position - cursor))) else Nil
      (acc ++ gap :+ renderCell(col(c.name), c), c.position + c.length)
    }._1
    df.select(concat(pieces: _*).as("value"))
  }
}
