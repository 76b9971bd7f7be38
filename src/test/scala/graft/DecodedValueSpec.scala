package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PgDumpSource, SqlDumpSource}

/** A conversion's decoded rows hold the values `spark.createDataFrame`
  * makes of the dialect's typed rows (`toTypedRow`): decimal rounding and
  * overflow, dates before the Gregorian cutover, DST-edge timestamps in
  * the JVM zone, hex cells by target type, `''` against NULL and column
  * lists that reorder or omit columns. A table fails in one exactly when
  * it fails in the other. */
class DecodedValueSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import DecodedValueSpec.Edge

  private val MySqlEdges = Seq(
    Edge("num", "CREATE TABLE `num` (`id` INT NOT NULL, `d` DECIMAL(12,2), `x` DOUBLE)", None,
      Seq("(1,1.005,1.5)", "(2,-1.005,NULL)", "(3,0x1F,0x10)", "(4,9999999999.994,1e300)",
        "(5,'0.125',' -0.0 ')")),
    Edge("overflow", "CREATE TABLE `overflow` (`id` INT, `d` DECIMAL(12,2))", None,
      Seq("(1,1.00)", "(2,12345678901.5)")),
    Edge("times", "CREATE TABLE `times` (`id` INT, `day` DATE, `at` DATETIME)", None,
      Seq("(1,'1200-01-01','1200-01-01 12:00:00')", "(2,'1582-10-10','1582-10-10 00:00:00')",
        "(3,'2021-03-14','2021-03-14 02:30:00')", "(4,'2021-11-07','2021-11-07 01:30:00.123456')",
        "(5,NULL,'1969-12-31 23:59:59.999999')")),
    Edge("hex", "CREATE TABLE `hex` (`id` INT, `b` BLOB, `n` BIGINT, `s` VARCHAR(16))", None,
      Seq("(1,0x414243,0x7FFF,0x68656C6C6F)", "(2,X'00FF',X'0a',x'E282AC')",
        "(3,'',NULL,'')", "(4,NULL,0,NULL)", "(5,0xABC,X'ff',0x00)")),
    Edge("cols", "CREATE TABLE `cols` (`a` INT, `b` VARCHAR(8), `c` DATE)", Some(Seq("c", "a")),
      Seq("('2020-02-29',1)", "(NULL,2)")),
    Edge("notnull", "CREATE TABLE `notnull` (`id` INT NOT NULL, `v` VARCHAR(4))", None,
      Seq("(1,'a')", "(NULL,'b')")))

  private val PgEdges = Seq(
    Edge("num", "CREATE TABLE public.num (\n    id integer NOT NULL,\n    d numeric(12,2),\n" +
      "    x double precision,\n    u numeric\n);", None,
      Seq("1\t1.005\t1.5\t1.0000000000000000005", "2\t-1.005\t\\N\t-3",
        "3\t9999999999.994\t1e300\t\\N")),
    Edge("overflow", "CREATE TABLE public.overflow (\n    id integer,\n    d numeric(12,2)\n);", None,
      Seq("1\t1.00", "2\t12345678901.5")),
    Edge("times", "CREATE TABLE public.times (\n    id integer,\n    day date,\n" +
      "    at timestamp without time zone\n);", None,
      Seq("1\t1200-01-01\t1200-01-01 12:00:00", "2\t1582-10-10\t1582-10-10 00:00:00",
        "3\t2021-03-14\t2021-03-14 02:30:00", "4\t2021-11-07\t2021-11-07 01:30:00.123456+00",
        "5\t\\N\t1969-12-31 23:59:59.999999")),
    Edge("bin", "CREATE TABLE public.bin (\n    id integer,\n    b bytea,\n    s text\n);", None,
      Seq("1\t\\\\x414243\t\\x68i", "2\t\\\\x\t", "3\t\\N\t\\N", "4\tplain\t\\\\x00")),
    Edge("cols", "CREATE TABLE public.cols (\n    a integer,\n    b text,\n    c date\n);",
      Some(Seq("c", "a")), Seq("2020-02-29\t1", "\\N\t2")),
    Edge("notnull", "CREATE TABLE public.notnull (\n    id integer NOT NULL,\n    v text\n);", None,
      Seq("1\ta", "\\N\tb")))

  private def insert(e: Edge): String = {
    val cols = e.columns.fold("")(_.map(c => s"`$c`").mkString(" (", ",", ")"))
    s"INSERT INTO `${e.name}`$cols VALUES ${e.rows.mkString(",")}"
  }

  private def mysqlDump(edges: Seq[Edge]): String =
    edges.map(e => s"${e.ddl};\n${insert(e)};\n").mkString("/*!40101 SET NAMES utf8mb4 */;\n", "", "")

  private def pgDump(edges: Seq[Edge]): String = edges.map { e =>
    val cols = e.columns.fold("")(_.mkString(" (", ", ", ")"))
    s"${e.ddl}\n\nCOPY public.${e.name}$cols FROM stdin;\n${e.rows.mkString("\n")}\n\\.\n\n"
  }.mkString("SET client_encoding = 'UTF8';\n\n", "", "")

  /** The table's typed rows as each dialect's `toTypedRow` builds them. */
  private def mysqlRows(e: Edge): (StructType, Seq[Row]) = {
    val schema = SqlDumpSource.parseCreateTable(e.ddl).get.schema
    val ins = SqlDumpSource.parseInsert(insert(e)).get
    schema -> ins.rows.map(SqlDumpSource.toTypedRow(_, schema, ins.columns))
  }

  private def pgRows(e: Edge): (StructType, Seq[Row]) = {
    val schema = PgDumpSource.parseCreateTable(e.ddl).get.schema
    schema -> e.rows.map(l => PgDumpSource.toTypedRow(PgDumpSource.parseCopyLine(l), schema, e.columns))
  }

  /** Cell values comparable with `==`: bytes as hex. */
  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  /** Run `body` with a JVM zone that has DST transitions, so the
    * 2021-03-14 02:30 and 2021-11-07 01:30 cells fall in its gap and
    * overlap: both sides convert timestamps in the JVM zone. */
  private def inNewYork[T](body: => T): T = {
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
    try body finally java.util.TimeZone.setDefault(saved)
  }

  private def check(dialect: String, text: String, edges: Seq[Edge],
                    typed: Edge => (StructType, Seq[Row]),
                    decodeOnce: String => SqlDumpSource.DecodedDump): Unit = inNewYork {
    val path = Files.createTempDirectory(s"decoded-$dialect").resolve("d.sql")
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
    val dump = decodeOnce(path.toString)
    val failed = try edges.flatMap { e =>
      val want = Try {
        val (schema, rows) = typed(e)
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        df.schema -> canon(df.collect())
      }
      val got = Try {
        dump.rows(e.name)
        val df = dump.frame(e.name)
        df.schema -> canon(df.collect())
      }
      (want, got) match {
        case (Success(w), Success(g)) => assert(g == w, s"$dialect ${e.name}"); None
        case (Failure(_), Failure(_)) => Some(e.name)
        case _ => fail(s"$dialect ${e.name}: createDataFrame gave $want, the decoded dump $got")
      }
    } finally dump.release()
    // a NOT NULL column's NULL fails its table; an overflowing decimal
    // does too under ANSI mode and is null without it
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    assert(failed.toSet == (if (ansi) Set("notnull", "overflow") else Set("notnull")), dialect)
  }

  test("decoded mysqldump rows equal createDataFrame of toTypedRow, failures included") {
    check("dump", mysqlDump(MySqlEdges), MySqlEdges, mysqlRows,
      SqlDumpSource.decodeOnce(spark, _, Seq("all")))
  }

  test("decoded pg_dump rows equal createDataFrame of toTypedRow, failures included") {
    check("pgdump", pgDump(PgEdges), PgEdges, pgRows,
      PgDumpSource.decodeOnce(spark, _, Seq("all")))
  }
}

object DecodedValueSpec {
  /** One table of an edge-cell dump: its DDL, the column list of its
    * data (None for all columns in order) and its rows, each as the
    * dialect writes one (an INSERT tuple, a COPY line). */
  final case class Edge(name: String, ddl: String, columns: Option[Seq[String]], rows: Seq[String])
}
