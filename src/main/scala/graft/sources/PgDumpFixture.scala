package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** pg_dump plain-format fixture writer: DataFrame -> `.sql` dump text
  * with the framing a real `pg_dump` emits (SET prologue, typed CREATE
  * TABLE, OWNER/constraint ALTERs, `COPY ... FROM stdin;` TEXT-format
  * data blocks). Fixture-scale only, like [[SqlDumpFixture]]: rows pass
  * through the driver via `toLocalIterator`; production dumps come from
  * pg_dump itself. */
object PgDumpFixture {

  def defaultPgType(dt: DataType): String = dt match {
    case ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case DateType => "date"
    case TimestampType => "timestamp without time zone"
    case BooleanType => "boolean"
    case BinaryType => "bytea"
    case _ => "text"
  }

  /** Write `df` as a pg_dump. `typeOverrides` pins a column's declared
    * Postgres type (values serialize per the declared type — decimals at
    * declared scale, HALF_UP, matching the mysqldump fixture's
    * convention). */
  def writeDump(df: DataFrame, tableName: String, path: String,
                typeOverrides: Map[String, String] = Map.empty): Unit = {
    val schema = df.schema
    val declared = schema.fields.map(f =>
      f.name -> typeOverrides.getOrElse(f.name, defaultPgType(f.dataType))).toMap
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val raw = p.getFileSystem(conf).create(p, true)
    val out = new BufferedWriter(new OutputStreamWriter(
      SqlDumpFixture.compressByExtension(path, raw, conf), StandardCharsets.UTF_8))
    try {
      out.write("--\n-- PostgreSQL database dump (graft test fixture)\n--\n\n")
      out.write("SET statement_timeout = 0;\n")
      out.write("SET client_encoding = 'UTF8';\n")
      out.write("SET standard_conforming_strings = on;\n")
      out.write("SELECT pg_catalog.set_config('search_path', '', false);\n\n")
      out.write(s"CREATE TABLE public.$tableName (\n")
      val colDefs = schema.fields.map { f =>
        val notNull = if (f.name == schema.fields.head.name) " NOT NULL" else ""
        s"    ${f.name} ${declared(f.name)}$notNull"
      }
      out.write(colDefs.mkString(",\n"))
      out.write("\n);\n\n")
      out.write(s"ALTER TABLE public.$tableName OWNER TO postgres;\n\n")
      out.write(s"COPY public.$tableName (${schema.fieldNames.mkString(", ")}) FROM stdin;\n")
      val it = df.toLocalIterator()
      while (it.hasNext) {
        out.write(copyLine(it.next(), schema, declared))
        out.write("\n")
      }
      out.write("\\.\n\n")
      out.write(s"ALTER TABLE ONLY public.$tableName\n" +
        s"    ADD CONSTRAINT ${tableName}_pkey PRIMARY KEY (${schema.fields.head.name});\n\n")
      out.write("--\n-- PostgreSQL database dump complete\n--\n")
    } finally out.close()
  }

  private def copyLine(row: Row, schema: StructType, declared: Map[String, String]): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      if (row.isNullAt(i)) "\\N"
      else {
        val decl = declared(f.name).toLowerCase
        (f.dataType, row.get(i)) match {
          case (DoubleType, v: Double) if decl.startsWith("numeric") =>
            val scale = decl.drop(decl.indexOf(',') + 1).takeWhile(_.isDigit).toInt
            java.math.BigDecimal.valueOf(v)
              .setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
          case (DoubleType, v: Double) => java.math.BigDecimal.valueOf(v).toPlainString
          case (BooleanType, v: Boolean) => if (v) "t" else "f"
          case (TimestampType, v: java.sql.Timestamp) => v.toString.stripSuffix(".0")
          case (DateType, v: java.sql.Date) => v.toString
          case (BinaryType, v: Array[Byte]) =>
            "\\\\x" + v.map("%02x".format(_)).mkString
          case (_, v) => escapeCopy(v.toString)
        }
      }
    }.mkString("\t")

  /** COPY TEXT-format escaping: backslash doubles, separators and
    * control whitespace render as C escapes. */
  def escapeCopy(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }
}
