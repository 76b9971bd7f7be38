package graft.sources

import java.io.{InputStream, StringReader}
import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.SqlDumpSource.{DecodedDump, Engine, TableDef}

/** PostgreSQL `pg_dump` plain-format dialect — the second dump dialect
  * beside [[SqlDumpSource]]'s mysqldump, read by the same
  * [[SqlDumpSource.Engine]]. The universal converter claim of the
  * reference (README.md:7 "Universal Data to ORC") stops at MySQL; real
  * estates run Postgres too, and its dump format is structurally
  * different: schema as `CREATE TABLE` with Postgres types, data as
  * `COPY <table> (<cols>) FROM stdin;` blocks of TAB-separated lines
  * terminated by a `\.` line, with backslash escapes and `\N` NULLs
  * (https://www.postgresql.org/docs/current/sql-copy.html, TEXT format).
  *
  * Records end at the COPY terminator sequence `"\n\\.\n"`, so each
  * record is self-contained — leading DDL text, then at most ONE
  * `COPY ... FROM stdin;` header, then that block's data lines — and is
  * the unit the engine decodes. A data line can never equal `\.` (COPY
  * escapes every backslash as `\\`), so the split point is exact and rows
  * parse where the record landed. A COPY block is one record, though:
  * one table's data must fit one task's `String` (< 2 GB), and a split
  * that starts inside a block scans to the block's end first.
  * Everything before the FIRST header line in a record is DDL (two COPY
  * blocks can't share a record — the terminator between them is the
  * split), everything after is data; data lines that merely LOOK like SQL
  * can't be misread because position, not content, classifies them. The
  * engine's streaming fallback reads the same records from one
  * stream, so both modes decode through the one decoder below.
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
    * Column entries keep name, type and `NOT NULL`; table-level constraint entries
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
          val nullable = !restUp.substring(cutAt).contains(" NOT NULL")
          if (typeStr.isEmpty) None
          else Some(StructField(name, pgTypeToSpark(typeStr), nullable))
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

  /** Parse the dump into one DataFrame per (selected) table — the same
    * contract as [[SqlDumpSource.parse]] ('all' sentinel included). */
  def parse(spark: SparkSession, path: String, tables: Seq[String] = Seq("all"),
            distributed: Boolean = true): Map[String, DataFrame] =
    Engine.parse(Postgres, spark, path, tables, distributed)

  /** The dump read and decoded once for a conversion — the same contract
    * as [[SqlDumpSource.decodeOnce]]. */
  def decodeOnce(spark: SparkSession, path: String, tables: Seq[String]): DecodedDump =
    Engine.decodeOnce(Postgres, spark, path, tables)

  /** pg_dump as the engine reads it: a record is one unit, its COPY
    * block's lines are the rows of the block's table. */
  private object Postgres extends SqlDumpSource.Dialect {
    /** The COPY terminator line. The leading `\n` anchors to line start,
      * so a cell VALUE ending in an escaped backslash before a literal dot
      * can't fake it (that renders as `\\.` mid-line, never `\n\.` +
      * newline). */
    val delimiter = "\n\\.\n"
    def units(record: String): Iterator[String] = Iterator.single(record)
    def streamUnits(in: InputStream): Iterator[String] = Engine.records(in, delimiter)
    /** The record up to the end of its COPY header line: the data lines
      * stay on the executor. */
    def ddl(record: String): Option[String] = Some(splitRecord(record) match {
      case (_, Some((_, _, data))) => record.substring(0, math.min(data, record.length))
      case _ => record
    })
    def declare(ddl: String, declared: String => Boolean): Seq[TableDef] = {
      val (text, copy) = splitRecord(ddl)
      val defs = SqlDumpSource.statements(new StringReader(text)).flatMap(parseCreateTable).toSeq
      // loud-failure contract: skipping the block would lose its rows
      copy.foreach { case (table, _, _) =>
        require(declared(table) || defs.exists(_.name == table),
          s"COPY data for table '$table' with no parsed CREATE TABLE before it — " +
            "pg_dump emits DDL first; this dump is malformed or uses an unsupported DDL form")
      }
      defs
    }
    def decode(record: String, tables: collection.Map[String, (Int, StructType)])
        : Option[(Int, Try[Seq[Row]])] = splitRecord(record) match {
      case (_, Some((table, cols, data))) if tables.contains(table) =>
        val (idx, schema) = tables(table)
        Some(idx -> Try(dataLines(record, data).map(l => toTypedRow(parseCopyLine(l), schema, cols))))
      case _ => None
    }
  }

  /** Split one record at its first COPY header line: the DDL text before
    * it and, when there is one, the COPY's table, column list and the
    * offset of its first data line. Position classifies: the first header
    * line starts the data, and the data lines are not scanned. */
  private[sources] def splitRecord(record: String)
      : (String, Option[(String, Option[Seq[String]], Int)]) = {
    var start = 0
    while (start <= record.length) {
      val nl = record.indexOf('\n', start)
      val end = if (nl < 0) record.length else nl
      parseCopyHeader(record.substring(start, end)) match {
        case Some((table, cols)) => return (record.substring(0, start), Some((table, cols, end + 1)))
        case None => start = end + 1
      }
    }
    (record, None)
  }

  /** The data lines of a record from offset `from` on. An empty line IS a
    * row (one empty text cell). Only a trailing `\.` survives here when the
    * file ends without a final newline (the delimiter needs one); that
    * terminator is dropped. */
  private def dataLines(record: String, from: Int): Seq[String] =
    if (from > record.length) Nil
    else {
      val lines = record.substring(from).split("\n", -1).toSeq
      if (lines.lastOption.contains("\\.")) lines.dropRight(1) else lines
    }
}
