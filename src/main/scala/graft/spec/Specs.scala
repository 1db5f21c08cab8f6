package graft.spec

/** Metadata model for the engine — the Spark-native analogue of the
  * reference's server-side ETL catalog (`etl.job`, `etl.server`,
  * `etl.resource`, `etl.resource.column`, `etl.field`, `etl.transform`,
  * `etl.mapping`; see reference cubicerpetl/cubicerpetl.py:74-165 and
  * SURVEY.md §1.5). Where the reference fetches these records over XML-RPC
  * and interprets them row-at-a-time, we declare them as plain Scala case
  * classes and compile them to Catalyst plans.
  *
  * Pure data — no Spark dependency in this file.
  */
object Specs {

  /** Connection endpoint kind (reference `etl.server.etl_type`,
    * cubicerpetl.py:167-189). `Rpc` survives as a generic "connector"
    * marker; our engine reads/writes DataFrames through source adapters.
    */
  sealed trait EtlType
  object EtlType {
    case object Fs extends EtlType
    case object Db extends EtlType
    case object Rpc extends EtlType
  }

  /** File column schema for fixed-width / CSV resources (reference
    * `etl.resource.column`, cubicerpetl.py:105-109, :228-248, :548-565).
    *
    * @param name      source column name
    * @param fieldName output (renamed) column; defaults to `name`
    *                  (reference "field_name or name", cubicerpetl.py:131-133)
    * @param position  1-based start offset in the fixed-width line
    * @param length    slice width (reference `txt_lenght` [sic])
    * @param align     ljust | rjust | center (reference `txt_align`)
    * @param fillChar  pad char (reference `txt_fill_char`)
    * @param forced    constant overriding row data on write
    *                  (reference `forced_value`, cubicerpetl.py:556)
    * @param dataType  logical type name used when parsing back
    *                  ("string" | "long" | "int" | "double" | "date" |
    *                  "timestamp"); write side renders with `format`
    * @param format    printf-style render format for numerics (e.g. "%.2f")
    *                  or date pattern for date/timestamp
    */
  final case class FwColumn(
      name: String,
      fieldName: Option[String] = None,
      position: Int = 1,
      length: Int = 1,
      align: String = "ljust",
      fillChar: String = " ",
      forced: Option[String] = None,
      dataType: String = "string",
      format: Option[String] = None) {
    def outName: String = fieldName.getOrElse(name)
  }

  /** CSV dialect (reference `txt_separator`/`txt_quote`/`txt_header`,
    * cubicerpetl.py:262, :579-581).
    */
  final case class CsvDialect(
      separator: String = ",",
      quote: String = "\"",
      header: Boolean = true,
      encoding: String = "UTF-8")

  /** File-server spec (reference `etl.server` with etl_type='fs',
    * cubicerpetl.py:181-187): `fs_protocol` selects local-path
    * (`cbc_file(fs_path)`) or FTP (`ftplib.FTP(fs_host, login,
    * password)`) transport. The engine resolves either to a Hadoop
    * filesystem URI (see [[graft.sources.FileTransport]]).
    */
  final case class FileServerSpec(
      protocol: String = "file", // fs_protocol: "file" | "ftp"
      rootPath: String = "",     // fs_path — dir the filename template joins to
      host: String = "",         // fs_host (ftp only)
      port: Int = 21,
      user: String = "",         // login
      password: String = "")

  /** File resource (reference `etl.resource` with etl_type='fs',
    * cubicerpetl.py:203-287). `pathTemplate` supports the reference's
    * date-macro filename substitution (cubicerpetl.py:825); `server`
    * carries the transport (absent = pathTemplate is a directly readable
    * path, the engine's mounted-path default).
    */
  final case class FileResource(
      pathTemplate: String,
      fType: String, // "txt" | "csv" | "parquet"
      columns: Seq[FwColumn] = Nil,
      dialect: CsvDialect = CsvDialect(),
      headerColumns: Seq[FwColumn] = Nil, // header sub-resource (f_header_id)
      footerColumns: Seq[FwColumn] = Nil, // footer sub-resource (f_footer_id)
      server: Option[FileServerSpec] = None) // transport (S7)

  /** SQL resource (reference etl_type='db', cubicerpetl.py:288-313):
    * optional side-effecting begin/end statements around the main query,
    * all strings subject to date-macro substitution.
    */
  final case class SqlResource(
      url: String,
      sqlBegin: Option[String] = None,
      sqlQuery: String = "",
      sqlEnd: Option[String] = None,
      table: Option[String] = None,
      properties: Map[String, String] = Map.empty,
      beginDelayMillis: Long = 0L) // reference sql_begin_delay (:295-298)

  /** Connector resource (reference etl_type='rpc', cubicerpetl.py:314-328):
    * a named model/table plus an Odoo-style domain filter that is pushed
    * to the source, and an explicit field list (projection pushdown).
    *
    * `ids`/`idField` model the reference's template mode
    * (`template_run_from` ∈ {single, multiple}, cubicerpetl.py:321-324):
    * the job supplies explicit `model_ids` and the extract reads exactly
    * those records instead of searching a domain.
    */
  final case class ConnectorResource(
      model: String,
      domain: Seq[Any] = Nil,
      fields: Seq[String] = Nil,
      ids: Option[Seq[Any]] = None,
      idField: String = "id")

  /** Value-mapping dictionary (reference `etl.mapping` + lines,
    * cubicerpetl.py:624-649): src→dst entries, optional default line
    * (`is_default`), and `return_null` passthrough for null input.
    */
  final case class MappingSpec(
      entries: Map[String, String],
      default: Option[String] = None,
      returnNull: Boolean = false)

  /** Per-field transform spec (reference `etl.field`,
    * cubicerpetl.py:121-139, applied in get_values :676-702).
    *
    * @param expr SQL expression over the input row (the safe analogue of
    *             the reference's per-field Python `eval`)
    */
  final case class FieldSpec(
      name: String,
      fieldName: Option[String] = None,
      expr: Option[String] = None,
      mapping: Option[MappingSpec] = None,
      fieldType: String = "char", // char|text|selection|date|datetime|many2one|int|float
      forced: Option[String] = None) {
    def outName: String = fieldName.getOrElse(name)
  }

  /** Upsert mode (reference `etl.transform.reprocess`,
    * cubicerpetl.py:505-537; semantics table in SURVEY.md §2.7).
    */
  sealed trait ReprocessMode
  object ReprocessMode {
    /** append all */
    case object Insert extends ReprocessMode
    /** update matched, insert unmatched */
    case object Update extends ReprocessMode
    /** insert unmatched only, skip matched */
    case object NoUpdate extends ReprocessMode
    /** update matched only, drop unmatched */
    case object OnlyUpdate extends ReprocessMode
    /** delete matched ids, then insert all */
    case object Delete extends ReprocessMode

    def fromString(s: String): ReprocessMode = s match {
      case "insert" | ""  => Insert
      case "update"       => Update
      case "noupdate"     => NoUpdate
      case "onlyupdate"   => OnlyUpdate
      case "delete"       => Delete
      case other => throw new IllegalArgumentException(s"reprocess mode: $other")
    }
  }

  /** Transform spec (reference `etl.transform`, cubicerpetl.py:144-156).
    * Hooks are Scala functions registered on the runner (SURVEY.md §2.9) —
    * not stored here to keep the spec serializable-as-data.
    */
  final case class TransformSpec(
      fields: Seq[FieldSpec],
      reprocess: ReprocessMode = ReprocessMode.Insert,
      pkField: Option[String] = None)

  /** A job binds an extract resource to a load resource through a
    * transform (reference `etl.job`, cubicerpetl.py:74-96), with a job
    * date that feeds the {aaaa,mm,dd,aa} macros.
    */
  final case class JobSpec(
      name: String,
      date: java.time.LocalDate,
      extract: Either[FileResource, ConnectorResource],
      transform: TransformSpec,
      rowDefaults: Map[String, Any] = Map.empty)
}
