package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PgDumpFixture, PgDumpSource}

/** pg_dump dialect: typed DDL parse, COPY TEXT-format unescaping,
  * NULL-vs-empty, column-list mapping, multi-table selection, the
  * data-line-that-looks-like-SQL trap, record-delimiter safety around
  * trailing backslashes, empty tables, gz and zst, and distributed ==
  * streaming equality on every case. */
class PgDumpSourceSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private def writeTemp(content: String, suffix: String = ".sql"): String = {
    val f = Files.createTempFile("pgdump", suffix)
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private def bothModes(path: String, tables: Seq[String] = Seq("all")) = {
    val dist = PgDumpSource.parse(spark, path, tables, distributed = true)
    val stream = PgDumpSource.parse(spark, path, tables, distributed = false)
    assert(dist.keySet === stream.keySet)
    for (k <- dist.keySet) {
      val a = dist(k).collect().toSeq.sortBy(_.toString)
      val b = stream(k).collect().toSeq.sortBy(_.toString)
      assert(a === b, s"distributed != streaming for table $k")
    }
    dist
  }

  test("full-width fixture round trip: types, escapes, nulls") {
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56")
    val dt = java.sql.Date.valueOf("2024-03-01")
    val df = Seq(
      (1L, "plain", Some(3.5), Some(true), Some(ts), Some(dt)),
      (2L, "tab\there and line\nbreak and back\\slash", Some(10.25), Some(false), None, None),
      (3L, null.asInstanceOf[String], None, None, Some(ts), Some(dt))
    ).toDF("id", "txt", "amt", "flag", "ts", "d")
    val path = writeTemp("") // placeholder; fixture writes over it
    PgDumpFixture.writeDump(df, "mix", path,
      typeOverrides = Map("amt" -> "numeric(10,2)"))
    val got = bothModes(path)("mix").orderBy("id").collect()
    assert(got.length === 3)
    assert(got(0) === Row(1L, "plain",
      new java.math.BigDecimal("3.50"), true, ts, dt))
    assert(got(1).getString(1) === "tab\there and line\nbreak and back\\slash")
    assert(got(1).getDecimal(2) === new java.math.BigDecimal("10.25"))
    assert(got(1).isNullAt(4) && got(1).isNullAt(5))
    assert(got(2).isNullAt(1) && got(2).isNullAt(2) && got(2).isNullAt(3))
  }

  test("hand-written dump: column-list reorder, empty-vs-null, bytea, look-alike data line") {
    val dump =
      """--
        |-- PostgreSQL database dump
        |--
        |SET client_encoding = 'UTF8';
        |
        |CREATE TABLE public.t (
        |    a integer NOT NULL,
        |    b text DEFAULT 'x'::text,
        |    c bytea
        |);
        |
        |ALTER TABLE public.t OWNER TO postgres;
        |
        |COPY public.t (b, a, c) FROM stdin;
        |hello	1	\\x4869
        |	2	\N
        |COPY public.t (b, a, c) FROM stdin;	3	\N
        |\.
        |
        |ALTER TABLE ONLY public.t
        |    ADD CONSTRAINT t_pkey PRIMARY KEY (a);
        |""".stripMargin
    val got = bothModes(writeTemp(dump))("t").orderBy("a").collect()
    assert(got.length === 3)
    assert(got(0) === Row(1, "hello", Array[Byte](0x48, 0x69)) ||
      (got(0).getInt(0) === 1 && got(0).getString(1) === "hello" &&
        got(0).getAs[Array[Byte]](2).toSeq === Seq[Byte](0x48, 0x69)))
    // empty cell is EMPTY STRING, \N is null
    assert(got(1).getInt(0) === 2 && got(1).getString(1) === "" && got(1).isNullAt(2))
    // a data line that happens to look like a COPY header is data
    assert(got(2).getInt(0) === 3 &&
      got(2).getString(1) === "COPY public.t (b, a, c) FROM stdin;")
  }

  test("multi-table dump, selection filter, empty table") {
    val dump =
      """CREATE TABLE public.x (k bigint NOT NULL, v text);
        |COPY public.x (k, v) FROM stdin;
        |1	one
        |2	two
        |\.
        |CREATE TABLE public.y (k bigint, w double precision);
        |COPY public.y (k, w) FROM stdin;
        |\.
        |""".stripMargin
    val path = writeTemp(dump)
    val all = bothModes(path)
    assert(all.keySet === Set("x", "y"))
    assert(all("x").count() === 2L)
    assert(all("y").count() === 0L)
    assert(all("y").schema.fields.map(_.dataType).toSeq ===
      Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.DoubleType))
    val onlyX = PgDumpSource.parse(spark, path, Seq("x"))
    assert(onlyX.keySet === Set("x"))
  }

  test("trailing-backslash values cannot fake the COPY terminator") {
    // cell ending in a backslash renders as `...\\` — the bytes `\\` +
    // newline must not split the record (delimiter is \n\.\n)
    val dump =
      """CREATE TABLE public.z (k integer, v text);
        |COPY public.z (k, v) FROM stdin;
        |1	ends with backslash\\
        |2	\\.
        |3	ok
        |\.
        |""".stripMargin
    val got = bothModes(writeTemp(dump))("z").orderBy("k").collect()
    assert(got.map(_.getString(1)).toSeq ===
      Seq("ends with backslash\\", "\\.", "ok"))
  }

  test("gzipped dump parses identically in both modes") {
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    for (ext <- Seq(".sql.gz", ".sql.zst")) {
      val f = Files.createTempFile("pgdump", ext)
      PgDumpFixture.writeDump(df, "gz", f.toString)
      val got = bothModes(f.toString)("gz").orderBy("id").collect()
      assert(got.map(_.getString(1)).toSeq === Seq("alpha", "beta"), ext)
    }
  }

  test("DDL breadth: quoted identifiers, modifiers, unknown types, constraints skipped") {
    val stmt =
      """CREATE TABLE public."Mixed Case" (
        |  "Quoted""Col" integer DEFAULT 5 NOT NULL,
        |  plain_col character varying(20) COLLATE pg_catalog."default",
        |  gen_col bigint GENERATED ALWAYS AS IDENTITY,
        |  weird uuid,
        |  ts timestamp with time zone,
        |  CONSTRAINT pk PRIMARY KEY ("Quoted""Col"),
        |  CHECK (plain_col <> '')
        |)""".stripMargin
    val td = PgDumpSource.parseCreateTable(stmt).get
    assert(td.name === "Mixed Case")
    assert(td.schema.fieldNames.toSeq ===
      Seq("Quoted\"Col", "plain_col", "gen_col", "weird", "ts"))
    import org.apache.spark.sql.types._
    assert(td.schema.fields.map(_.dataType).toSeq ===
      Seq(IntegerType, StringType, LongType, StringType, TimestampType))
  }

  test("Cli pgdump subcommand converts to ORC end to end") {
    val df = Seq((1L, "alpha", 3.5), (2L, "beta", 4.5)).toDF("id", "name", "v")
    val dumpPath = Files.createTempFile("clipg", ".sql").toString
    PgDumpFixture.writeDump(df, "things", dumpPath)
    val outDir = Files.createTempDirectory("clipg_out").toString
    val report = Cli.run(spark, Seq("pgdump", dumpPath, outDir)).get
    assert(report.successes === 1 && report.total === 1)
    val back = graft.sinks.OrcSink.read(spark, s"$outDir/things")
      .orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq === Seq("alpha", "beta"))
  }

  test("unescape: octal/hex escapes and unknown escapes") {
    assert(PgDumpSource.unescapeCell("\\101\\x42c") === Some("ABc"))
    assert(PgDumpSource.unescapeCell("\\N") === None)
    assert(PgDumpSource.unescapeCell("a\\Nb") === Some("aNb")) // not the bare marker
    assert(PgDumpSource.unescapeCell("\\t\\n\\r\\\\") === Some("\t\n\r\\"))
  }

  test("over-scale numeric values round HALF_UP instead of killing the parse") {
    val dump =
      """CREATE TABLE public.n (k integer, v numeric(10,2));
        |COPY public.n (k, v) FROM stdin;
        |1	1.005
        |2	2.0049
        |\.
        |""".stripMargin
    val got = bothModes(writeTemp(dump))("n").orderBy("k").collect()
    assert(got(0).getDecimal(1) === new java.math.BigDecimal("1.01"))
    assert(got(1).getDecimal(1) === new java.math.BigDecimal("2.00"))
  }

  test("streaming mode fails loudly on COPY data with no preceding CREATE TABLE") {
    val dump =
      """COPY public.orphan (k) FROM stdin;
        |1
        |\.
        |""".stripMargin
    val path = writeTemp(dump)
    for (distributed <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException] {
        PgDumpSource.parse(spark, path, distributed = distributed)
      }
      assert(e.getMessage.contains("COPY data for table 'orphan'"), s"distributed=$distributed")
    }
  }
}
