package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.SqlDumpSource.TableDef

/** PostgreSQL `pg_dump` plain-format reader — the second dump dialect
  * beside [[SqlDumpSource]]'s mysqldump. The universal converter claim
  * of the reference (README.md:7 "Universal Data to ORC") stops at
  * MySQL; real estates run Postgres too, and its dump format is
  * structurally different: schema as `CREATE TABLE` with Postgres types,
  * data as `COPY <table> (<cols>) FROM stdin;` blocks of TAB-separated
  * lines terminated by a `\.` line, with backslash escapes and `\N`
  * NULLs (https://www.postgresql.org/docs/current/sql-copy.html, TEXT
  * format).
  *
  * Distributed parse: the file splits on the COPY terminator sequence
  * `"\n\\.\n"` (Hadoop `textinputformat.record.delimiter`), so each
  * record is self-contained — leading DDL text, then at most ONE
  * `COPY ... FROM stdin;` header, then that block's data lines. A data
  * line can never equal `\.` (COPY escapes every backslash as `\\`), so
  * the split point is exact; rows parse where the record landed and the
  * 100 TB dump never converges on one node. Everything before the FIRST
  * header line in a record is DDL (two COPY blocks can't share a record
  * — the terminator between them is the split), everything after is
  * data; data lines that merely LOOK like SQL can't be misread because
  * position, not content, classifies them.
  *
  * The streaming fallback (`distributed = false`, also the `.gz` path's
  * friend) is a single-reader line loop with the same state machine:
  * constant driver memory until the final `parallelize`, fixture-scale
  * by design like [[SqlDumpSource.parseStreaming]].
  */
object PgDumpSource {

  /** Map a Postgres DDL type to Spark (COPY TEXT-format rendering is
    * what the cell parser sees). Unknown types fall back to string —
    * lossless for anything COPY renders as text. */
  def pgTypeToSpark(sqlType: String): DataType = {
    val t = sqlType.trim.toLowerCase
    val base = t.takeWhile(c => c != '(').trim
    base match {
      case "smallint" | "int2" => ShortType
      case "integer" | "int" | "int4" | "serial" => IntegerType
      case "bigint" | "int8" | "bigserial" => LongType
      case "real" | "float4" => FloatType
      case "double precision" | "float8" => DoubleType
      case "numeric" | "decimal" =>
        val params = t.dropWhile(_ != '(')
        if (params.startsWith("(")) {
          val nums = params.drop(1).takeWhile(_ != ')').split(',').map(_.trim)
          val p = nums(0).toInt
          val s = if (nums.length > 1) nums(1).toInt else 0
          DecimalType(math.min(p, DecimalType.MAX_PRECISION), s)
        } else DecimalType(38, 18) // unconstrained numeric
      case "boolean" | "bool" => BooleanType
      case "date" => DateType
      case "timestamp" | "timestamp without time zone" |
           "timestamp with time zone" | "timestamptz" => TimestampType
      case "bytea" => BinaryType
      case _ => StringType // text, varchar, char, uuid, json, inet, ...
    }
  }

  /** `schema.name` -> `name`; strips `"quoted"` identifiers. */
  private def bareName(ident: String): String = {
    val last = ident.trim.split('.').last.trim
    if (last.length >= 2 && last.head == '"' && last.last == '"')
      last.substring(1, last.length - 1).replace("\"\"", "\"")
    else last.toLowerCase
  }

  // identifier = dotted mix of bare parts and "quoted" parts (quoted
  // parts may hold spaces and doubled quotes)
  private val Ident = """(?:"(?:""|[^"])*"|[^(\s"])+"""

  private val CreateTableRe =
    ("""(?is)^\s*CREATE\s+(?:UNLOGGED\s+|TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(""" +
      Ident + """)\s*\((.*)\)[^)]*$""").r

  /** Parse a Postgres CREATE TABLE statement into a typed TableDef.
    * Column entries keep name + type; table-level constraint entries
    * (PRIMARY KEY / UNIQUE / CHECK / CONSTRAINT / FOREIGN KEY / LIKE /
    * EXCLUDE) are skipped, like the mysqldump parser. */
  def parseCreateTable(stmt: String): Option[TableDef] = stmt match {
    case CreateTableRe(ident, body) =>
      val fields = SqlDumpSource.splitTopLevel(body, ',').flatMap { colDef =>
        val d = colDef.trim
        val up = d.toUpperCase
        val skip = Seq("PRIMARY KEY", "UNIQUE", "CHECK", "CONSTRAINT",
          "FOREIGN KEY", "LIKE ", "EXCLUDE")
        if (d.isEmpty || skip.exists(up.startsWith)) None
        else {
          val (name, rest) =
            if (d.startsWith("\"")) {
              // quoted identifier: find the closing quote ("" = escaped)
              var i = 1
              val sb = new StringBuilder
              var closed = false
              while (i < d.length && !closed) {
                if (d(i) == '"') {
                  if (i + 1 < d.length && d(i + 1) == '"') { sb.append('"'); i += 2 }
                  else { closed = true; i += 1 }
                } else { sb.append(d(i)); i += 1 }
              }
              (sb.toString, d.substring(i))
            } else {
              val cut = d.indexWhere(_.isWhitespace)
              if (cut < 0) (d, "") else (d.substring(0, cut).toLowerCase, d.substring(cut))
            }
          // type = everything up to a modifier keyword (DEFAULT / NOT
          // NULL / GENERATED / REFERENCES / COLLATE / CONSTRAINT)
          val modifiers = Seq(" DEFAULT ", " NOT NULL", " NULL", " GENERATED ",
            " REFERENCES ", " COLLATE ", " CONSTRAINT ", " PRIMARY KEY", " UNIQUE")
          val restUp = rest.toUpperCase
          val cutAt = modifiers.map(m => {
            val i = restUp.indexOf(m)
            if (i < 0) rest.length else i
          }).min
          val typeStr = rest.substring(0, cutAt).trim
          if (typeStr.isEmpty) None
          else Some(StructField(name, pgTypeToSpark(typeStr)))
        }
      }
      if (fields.isEmpty) None
      else Some(TableDef(bareName(ident), StructType(fields)))
    case _ => None
  }

  private val CopyHeaderRe =
    ("""(?i)^COPY\s+(""" + Ident + """)\s*(?:\(([^)]*)\))?\s+FROM\s+stdin;\s*$""").r

  /** Match a `COPY <table> [(cols)] FROM stdin;` header line. */
  private[sources] def parseCopyHeader(line: String): Option[(String, Option[Seq[String]])] =
    line.trim match {
      case CopyHeaderRe(ident, cols) =>
        val colSeq = Option(cols).map(
          _.split(',').map(c => bareName(c)).toSeq.filter(_.nonEmpty))
        Some((bareName(ident), colSeq))
      case _ => None
    }

  /** COPY TEXT-format unescape for one cell; the bare marker `\N` is
    * NULL. Handles the C-style escapes pg_dump emits (`\\ \b \f \n \r
    * \t \v`) plus octal/hex forms readers must accept. */
  def unescapeCell(raw: String): Option[String] = {
    if (raw == "\\N") return None
    if (raw.indexOf('\\') < 0) return Some(raw)
    val sb = new StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c != '\\' || i + 1 >= raw.length) { sb.append(c); i += 1 }
      else {
        val e = raw.charAt(i + 1)
        i += 2
        e match {
          case '\\' => sb.append('\\')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'v' => sb.append('\u000B')
          case 'x' =>
            val hex = raw.substring(i).take(2).takeWhile(ch =>
              Character.digit(ch, 16) >= 0)
            if (hex.isEmpty) sb.append('x')
            else { sb.append(Integer.parseInt(hex, 16).toChar); i += hex.length }
          case d if d >= '0' && d <= '7' =>
            val oct = (d + raw.substring(i).take(2).takeWhile(ch =>
              ch >= '0' && ch <= '7')).mkString
            sb.append(Integer.parseInt(oct, 8).toChar)
            i += oct.length - 1
          case other => sb.append(other) // unknown escape: literal char
        }
      }
    }
    Some(sb.toString)
  }

  /** One COPY data line -> raw cells (TAB-separated; trailing empties
    * kept — an empty string cell is NOT null in TEXT format). */
  def parseCopyLine(line: String): Seq[Option[String]] =
    line.split("\t", -1).toSeq.map(unescapeCell)

  private def castCell(raw: String, dt: DataType): Any = dt match {
    case ShortType => raw.trim.toShort
    case IntegerType => raw.trim.toInt
    case LongType => raw.trim.toLong
    case FloatType => raw.trim.toFloat
    case DoubleType => raw.trim.toDouble
    case d: DecimalType =>
      // HALF_UP, matching the fixture's serialization convention: an
      // unconstrained `numeric` (mapped to (38,18)) can legally carry
      // more fractional digits than the derived scale, and a bare
      // setScale would throw ArithmeticException and kill the job
      new java.math.BigDecimal(raw.trim)
        .setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case DateType => java.sql.Date.valueOf(raw.trim)
    case TimestampType =>
      // pg renders `YYYY-MM-DD HH:MM:SS[.ffffff][+TZ]`; strip a trailing
      // numeric zone offset (dumps are normally written in UTC)
      val t = raw.trim.replaceAll("[+-]\\d\\d(:?\\d\\d)?$", "")
      java.sql.Timestamp.valueOf(t)
    case BooleanType => raw.trim == "t" || raw.trim.equalsIgnoreCase("true")
    case BinaryType =>
      // bytea hex format: \x4142... (the backslash already unescaped)
      val t = raw.trim
      if (t.startsWith("\\x") || t.startsWith("x")) {
        val digits = t.substring(if (t.startsWith("\\x")) 2 else 1)
        digits.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
      } else t.getBytes(StandardCharsets.UTF_8)
    case _ => raw
  }

  /** Typed row with optional COPY column-list mapping (same loud-failure
    * contract as the mysqldump path: width mismatches and unknown
    * columns throw, omitted columns null-fill). */
  def toTypedRow(cells: Seq[Option[String]], schema: StructType,
                 columns: Option[Seq[String]]): Row = columns match {
    case None =>
      require(cells.length == schema.fields.length,
        s"COPY row has ${cells.length} cells for ${schema.fields.length} columns")
      Row.fromSeq(schema.fields.zipWithIndex.map { case (f, i) =>
        cells(i).map(castCell(_, f.dataType)).orNull
      }.toIndexedSeq)
    case Some(cols) =>
      require(cells.length == cols.length,
        s"COPY row has ${cells.length} cells for ${cols.length} named columns")
      val schemaIdx = schema.fields.map(_.name.toLowerCase).zipWithIndex.toMap
      cols.foreach(c => require(schemaIdx.contains(c.toLowerCase),
        s"COPY column $c not in table schema ${schema.fieldNames.mkString("(", ",", ")")}"))
      val cellIdxByField = cols.zipWithIndex
        .map { case (c, i) => schemaIdx(c.toLowerCase) -> i }.toMap
      Row.fromSeq(schema.fields.zipWithIndex.map { case (f, fi) =>
        cellIdxByField.get(fi).flatMap(cells(_))
          .map(castCell(_, f.dataType)).orNull
      }.toIndexedSeq)
  }

  /** Record delimiter: the COPY terminator line. The leading `\n`
    * anchors to line start, so a cell VALUE ending in an escaped
    * backslash before a literal dot can't fake it (that renders as
    * `\\.` mid-line, never `\n\.` + newline). */
  private val RecordDelimiter = "\n\\.\n"

  private def recordsRdd(spark: SparkSession, path: String) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", RecordDelimiter)
    spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map(_._2.toString)
  }

  /** Split one record into (ddlText, Option[(table, cols, dataLines)]).
    * Position classifies: first COPY header line starts the data. */
  private[sources] def splitRecord(record: String): (String, Option[(String, Option[Seq[String]], Seq[String])]) = {
    val lines = record.split("\n", -1)
    val headerIdx = lines.indexWhere(l => parseCopyHeader(l).isDefined)
    if (headerIdx < 0) (record, None)
    else {
      val (table, cols) = parseCopyHeader(lines(headerIdx)).get
      val ddl = lines.take(headerIdx).mkString("\n")
      // keep empty lines — an empty line IS a row (one empty text cell).
      // Only a trailing `\.` survives here when the file ends without a
      // final newline (the delimiter needs one); drop that terminator.
      val data0 = lines.drop(headerIdx + 1).toSeq
      val data = if (data0.lastOption.contains("\\.")) data0.dropRight(1) else data0
      (ddl, Some((table, cols, data)))
    }
  }

  /** Parse the dump into one DataFrame per (selected) table — the same
    * contract as [[SqlDumpSource.parse]] ('all' sentinel included). */
  def parse(spark: SparkSession, path: String, tables: Seq[String] = Seq("all"),
            distributed: Boolean = true): Map[String, DataFrame] = {
    def selected(defs: Seq[TableDef]): Seq[TableDef] =
      if (tables.isEmpty || tables.map(_.toLowerCase).contains("all")) defs
      else defs.filter(d => tables.contains(d.name))
    if (distributed) parseDistributed(spark, path, selected)
    else parseStreaming(spark, path, selected)
  }

  /** The records RDD is persisted only WITHIN this call (discovery and
    * the per-table row RDDs share one file read while cached) and
    * unpersisted before returning — the same scoping contract as
    * [[SqlDumpSource.parse]]: returned DataFrames evaluate
    * statelessly (re-reading the file), nothing pins the dump in
    * cluster memory for the session. */
  private def parseDistributed(spark: SparkSession, path: String,
                               select: Seq[TableDef] => Seq[TableDef]): Map[String, DataFrame] = {
    val records = recordsRdd(spark, path)
    records.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val defs = select(
        records.flatMap { rec =>
          val (ddl, _) = splitRecord(rec)
          if (ddl.toUpperCase.contains("CREATE") && ddl.toUpperCase.contains("TABLE"))
            SqlDumpSource.statements(new java.io.StringReader(ddl))
              .flatMap(parseCreateTable).toSeq
          else Nil
        }.collect().toSeq)
      defs.map { td =>
        val schema = td.schema
        val tname = td.name
        val rows = records.flatMap { rec =>
          splitRecord(rec) match {
            case (_, Some((table, cols, data))) if table == tname =>
              data.map(l => toTypedRow(parseCopyLine(l), schema, cols))
            case _ => Nil
          }
        }
        tname -> spark.createDataFrame(rows, schema)
      }.toMap
    } finally records.unpersist(blocking = false)
  }

  private def parseStreaming(spark: SparkSession, path: String,
                             select: Seq[TableDef] => Seq[TableDef]): Map[String, DataFrame] = {
    val defs = ArrayBuffer.empty[TableDef]
    val byTable = scala.collection.mutable.Map.empty[String, ArrayBuffer[Row]]
    val pendingDdl = new StringBuilder
    var inCopy: Option[(String, Option[Seq[String]])] = None
    def flushDdl(): Unit = {
      if (pendingDdl.nonEmpty) {
        SqlDumpSource.statements(new java.io.StringReader(pendingDdl.toString))
          .flatMap(parseCreateTable).foreach(defs += _)
        pendingDdl.clear()
      }
    }
    val reader = openReader(spark, path)
    try {
      var line = reader.readLine()
      while (line != null) {
        inCopy match {
          case Some((table, cols)) =>
            if (line == "\\.") inCopy = None
            else defs.find(_.name == table) match {
              case Some(td) =>
                byTable.getOrElseUpdate(table, ArrayBuffer.empty[Row]) +=
                  toTypedRow(parseCopyLine(line), td.schema, cols)
              case None =>
                // loud-failure contract: silently dropping the block
                // would lose data AND diverge from distributed mode
                // (which discovers all DDL before reading rows)
                throw new IllegalArgumentException(
                  s"COPY data for table '$table' with no parsed CREATE " +
                    "TABLE before it — pg_dump emits DDL first; this dump " +
                    "is malformed or uses an unsupported DDL form")
            }
          case None =>
            parseCopyHeader(line) match {
              case Some((table, cols)) =>
                flushDdl()
                inCopy = Some((table, cols))
              case None =>
                pendingDdl.append(line).append('\n')
            }
        }
        line = reader.readLine()
      }
      flushDdl()
    } finally reader.close()
    select(defs.toSeq).map { td =>
      td.name -> spark.createDataFrame(
        spark.sparkContext.parallelize(
          byTable.getOrElse(td.name, ArrayBuffer.empty[Row]).toSeq),
        td.schema)
    }.toMap
  }

  private def openReader(spark: SparkSession, path: String): BufferedReader = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(p)
    val in: java.io.InputStream =
      if (codec != null) codec.createInputStream(raw) else raw
    new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
  }
}
