package graft

import java.io.StringReader
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.{SqlDumpFixture, SqlDumpSource}

/** Tokenizer correctness on every defect class of the reference parser
  * (SURVEY.md §4.3.4): commas/parens/semicolons inside strings, escaped
  * quotes (both '' and \'), NULLs, negative numbers, dates, multi-row
  * VALUES, comments, and CREATE TABLE schema extraction. */
class SqlDumpSourceSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def stmts(sql: String): List[String] =
    SqlDumpSource.statements(new StringReader(sql)).toList

  test("statement splitting respects semicolons inside strings") {
    val sql = "INSERT INTO t VALUES ('a;b');INSERT INTO t VALUES ('c')"
    val out = stmts(sql)
    assert(out.size == 2)
    assert(out.head.contains("a;b"))
  }

  test("statement splitting skips comments") {
    val sql =
      """-- line comment; with a semicolon
        |# hash comment; too
        |/* block; comment */
        |SELECT 1""".stripMargin
    val out = stmts(sql)
    assert(out.size == 1)
    assert(out.head.trim == "SELECT 1")
  }

  test("CREATE TABLE yields typed schema with declared mapping") {
    val ddl =
      """CREATE TABLE `customer` (
        |  `c_custkey` INT NOT NULL,
        |  `c_name` VARCHAR(64),
        |  `c_acctbal` DECIMAL(12,2),
        |  `c_birth` DATE,
        |  `c_seen` DATETIME,
        |  PRIMARY KEY (`c_custkey`)
        |)""".stripMargin
    val td = SqlDumpSource.parseCreateTable(ddl).get
    assert(td.name == "customer")
    assert(td.schema.fields.map(_.name).toSeq ==
      Seq("c_custkey", "c_name", "c_acctbal", "c_birth", "c_seen"))
    assert(td.schema("c_custkey").dataType == LongType) // INT -> LONG
    assert(!td.schema("c_custkey").nullable)
    assert(td.schema("c_name").dataType == StringType)
    assert(td.schema("c_acctbal").dataType == DecimalType(12, 2))
    assert(td.schema("c_birth").dataType == DateType)
    assert(td.schema("c_seen").dataType == TimestampType)
  }

  test("CREATE TABLE with trailing parenthesized clauses keeps a clean schema") {
    val ddl =
      """CREATE TABLE t (
        |  `id` INT,
        |  `v` VARCHAR(10)
        |) PARTITION BY RANGE (id) (
        |  PARTITION p0 VALUES LESS THAN (10),
        |  PARTITION p1 VALUES LESS THAN (20)
        |) COMMENT='weird (paren) comment'""".stripMargin
    val td = SqlDumpSource.parseCreateTable(ddl).get
    assert(td.name == "t")
    assert(td.schema.fields.map(_.name).toSeq == Seq("id", "v"))
    assert(td.schema("id").dataType == LongType)
  }

  test("adversarial INSERT values parse exactly") {
    val ins = SqlDumpSource.parseInsert(
      """INSERT INTO `t` VALUES (1,'O''Brien, Ltd. (Pty)',NULL,-42.5),(2,'back\\slash and \'quote\'','x;y',0.01)"""
    ).get
    assert(ins.table == "t")
    assert(ins.columns.isEmpty)
    assert(ins.rows.size == 2)
    assert(ins.rows(0) == Seq(Some("1"), Some("O'Brien, Ltd. (Pty)"), None, Some("-42.5")))
    assert(ins.rows(1) == Seq(Some("2"), Some("back\\slash and 'quote'"), Some("x;y"), Some("0.01")))
  }

  test("empty string stays distinct from NULL") {
    val rows = SqlDumpSource.parseInsert("INSERT INTO t VALUES ('',NULL)").get.rows
    assert(rows.head == Seq(Some(""), None))
  }

  test("backtick-quoted constraint-keyword column names are real columns") {
    // mysqldump backtick-quotes every column; a column named `key` (or
    // `index`, `check`, ...) must NOT be dropped as a constraint clause —
    // dropping it shifts every later column (silent corruption).
    val ddl =
      """CREATE TABLE `kv` (
        |  `id` INT NOT NULL,
        |  `key` VARCHAR(32),
        |  `index` INT,
        |  `check` DECIMAL(8,2),
        |  `value` VARCHAR(64),
        |  PRIMARY KEY (`id`),
        |  KEY `idx_key` (`key`),
        |  CONSTRAINT ck CHECK (`index` >= 0)
        |)""".stripMargin
    val td = SqlDumpSource.parseCreateTable(ddl).get
    assert(td.schema.fields.map(_.name).toSeq == Seq("id", "key", "index", "check", "value"))
    assert(td.schema("key").dataType == StringType)
    assert(td.schema("index").dataType == LongType)
    assert(td.schema("check").dataType == DecimalType(8, 2))
  }

  test("INSERT explicit column list maps cells by name, not position") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("bal", DecimalType(10, 2))))
    // reordered + partial column list: name/id swapped, bal omitted
    val ins = SqlDumpSource.parseInsert(
      "INSERT INTO t (`name`, `id`) VALUES ('alice', 7)").get
    assert(ins.columns.contains(Seq("name", "id")))
    val row = SqlDumpSource.toTypedRow(ins.rows.head, schema, ins.columns)
    assert(row.getLong(0) == 7L)
    assert(row.getString(1) == "alice")
    assert(row.isNullAt(2)) // omitted column -> null
    // unknown column name fails loudly instead of silently dropping data
    val bad = SqlDumpSource.parseInsert("INSERT INTO t (nope) VALUES (1)").get
    intercept[IllegalArgumentException] {
      SqlDumpSource.toTypedRow(bad.rows.head, schema, bad.columns)
    }
  }

  test("quoted INSERT column identifiers containing ',' and ')' parse intact") {
    val schema = StructType(Seq(
      StructField("a,b", StringType), StructField("c)d", LongType)))
    val ins = SqlDumpSource.parseInsert(
      "INSERT INTO t (`a,b`, `c)d`) VALUES ('x', 5)").get
    assert(ins.columns.contains(Seq("a,b", "c)d")))
    val row = SqlDumpSource.toTypedRow(ins.rows.head, schema, ins.columns)
    assert(row.getString(0) == "x" && row.getLong(1) == 5L)
  }

  test("INSERT tuple wider or narrower than its column list fails loudly") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val wide = SqlDumpSource.parseInsert(
      "INSERT INTO t (id) VALUES (1, 'extra')").get
    intercept[IllegalArgumentException] {
      SqlDumpSource.toTypedRow(wide.rows.head, schema, wide.columns)
    }
    val narrow = SqlDumpSource.parseInsert(
      "INSERT INTO t (id, name) VALUES (1)").get
    intercept[IllegalArgumentException] {
      SqlDumpSource.toTypedRow(narrow.rows.head, schema, narrow.columns)
    }
  }

  test("distributed parse retains no cached RDDs after returning") {
    val dir = Files.createTempDirectory("dumpspec-cache").toFile
    val path = s"$dir/c.sql"
    Files.writeString(java.nio.file.Paths.get(path),
      "CREATE TABLE `t` (`id` INT);\nINSERT INTO `t` VALUES (1),(2);\n")
    val dfs = SqlDumpSource.parse(spark, path, Seq("all"), distributed = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "statements RDD must be unpersisted before parse returns")
    assert(dfs("t").count() == 2) // evaluation re-reads the file, uncached
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("INSERT column-list round-trip through the full parse") {
    val dir = Files.createTempDirectory("dumpspec-cols").toFile
    val path = s"$dir/cols.sql"
    val sql =
      """CREATE TABLE `t` (`id` INT, `name` VARCHAR(10), `bal` DECIMAL(10,2));
        |INSERT INTO `t` (`name`, `id`) VALUES ('a', 1);
        |INSERT INTO `t` VALUES (2, 'b', 3.50);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(path), sql)
    for (distributed <- Seq(true, false)) {
      val t = SqlDumpSource.parse(spark, path, Seq("all"), distributed)("t")
      val got = t.collect().map(r =>
        (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.toString))).toSet
      assert(got == Set((1L, "a", None), (2L, "b", Some("3.50"))), s"distributed=$distributed")
    }
  }

  test("unquoted function-call cell keeps its closing paren") {
    val rows = SqlDumpSource.parseInsert(
      "INSERT INTO t VALUES (point(1,2), 'x')").get.rows
    assert(rows.head == Seq(Some("point(1,2)"), Some("x")))
  }

  test("hex literals: 0x... and X'...' tokenize as hex; quoted text does not") {
    val rows = SqlDumpSource.parseInsert(
      "INSERT INTO t VALUES (0x4142, X'00ff10', x'A', '0x41', 0xdead)").get.rows
    val m = SqlDumpSource.HexMarker
    assert(rows.head == Seq(Some(m + "4142"), Some(m + "00ff10"),
      Some(m + "0a"), Some("0x41"), Some(m + "dead")))
  }

  test("hex literals decode per target type (MySQL semantics)") {
    val schema = StructType(Seq(
      StructField("b", BinaryType), StructField("n", LongType),
      StructField("s", StringType)))
    val m = SqlDumpSource.HexMarker
    val row = SqlDumpSource.toTypedRow(
      Seq(Some(m + "00ff10"), Some(m + "10"), Some(m + "4142")), schema)
    assert(row.getAs[Array[Byte]](0).toSeq == Seq(0x00.toByte, 0xff.toByte, 0x10.toByte))
    assert(row.getLong(1) == 16L)
    assert(row.getString(2) == "AB")
  }

  test("BLOB column round-trips hex INSERT cells through the full parse") {
    // mysqldump --hex-blob emits 0x... for every BLOB/BINARY column
    val dir = Files.createTempDirectory("dumpspec-hex").toFile
    val path = s"$dir/hex.sql"
    val sql =
      """CREATE TABLE `t` (`id` INT, `payload` BLOB, `note` VARCHAR(20));
        |INSERT INTO `t` VALUES (1, 0x89504e470d0a1a0a, 'png magic');
        |INSERT INTO `t` VALUES (2, X'CAFEBABE', NULL), (3, NULL, '0x6e6f74686578');
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(path), sql)
    for (distributed <- Seq(true, false)) {
      val t = SqlDumpSource.parse(spark, path, Seq("all"), distributed)("t")
      val got = t.collect().map(r => (r.getLong(0),
        Option(r.getAs[Array[Byte]](1)).map(_.toSeq), Option(r.getString(2)))).toSet
      assert(got == Set(
        (1L, Some(Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)),
          Some("png magic")),
        (2L, Some(Seq(0xCA, 0xFE, 0xBA, 0xBE).map(_.toByte)), None),
        // quoted text is NOT a hex literal — it survives verbatim
        (3L, None, Some("0x6e6f74686578"))), s"distributed=$distributed")
    }
  }

  test("malformed hex literal fails loudly, not silently") {
    intercept[IllegalArgumentException] {
      SqlDumpSource.parseInsert("INSERT INTO t VALUES (X'zz')")
    }
  }

  test("typed rows: dates, timestamps, decimals, booleans") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("m", DecimalType(12, 2)),
      StructField("b", BooleanType)))
    val row = SqlDumpSource.toTypedRow(
      Seq(Some("7"), Some("1995-03-15"), Some("1995-03-15 10:30:45"), Some("711.56"), Some("1")),
      schema)
    assert(row.getLong(0) == 7L)
    assert(row.getDate(1) == java.sql.Date.valueOf("1995-03-15"))
    assert(row.getTimestamp(2) == java.sql.Timestamp.valueOf("1995-03-15 10:30:45"))
    assert(row.getDecimal(3) == new java.math.BigDecimal("711.56"))
    assert(row.getBoolean(4))
  }

  test("full dump round-trip preserves rows, schema, and table filter") {
    val dir = Files.createTempDirectory("dumpspec").toFile
    val path = s"$dir/two_tables.sql"
    val sql =
      """-- header
        |CREATE TABLE `a` (`id` INT, `name` VARCHAR(10));
        |INSERT INTO `a` VALUES (1,'x'),(2,'y;z'),(3,NULL);
        |CREATE TABLE `b` (`id` INT);
        |INSERT INTO `b` VALUES (9);
        |CREATE TABLE `empty_t` (`id` INT);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(path), sql)

    for (distributed <- Seq(true, false)) {
      val all = SqlDumpSource.parse(spark, path, Seq("all"), distributed)
      assert(all.keySet == Set("a", "b", "empty_t"), s"distributed=$distributed")
      assert(all("a").count() == 3)
      assert(all("a").schema("id").dataType == LongType)
      assert(all("a").collect().map(r => Option(r.get(1))).toSet ==
        Set(Some("x"), Some("y;z"), None))
      assert(all("b").count() == 1)
      assert(all("empty_t").count() == 0)

      val onlyB = SqlDumpSource.parse(spark, path, Seq("b"), distributed)
      assert(onlyB.keySet == Set("b"))
    }
  }

  test("tables outside the selection are never tuple-parsed") {
    val dir = Files.createTempDirectory("dumpspec-select").toFile
    val path = s"$dir/two.sql"
    val sql =
      """CREATE TABLE `a` (`id` INT, `payload` BLOB);
        |INSERT INTO `a` VALUES (1,X'zz');
        |CREATE TABLE `b` (`id` INT, `name` VARCHAR(10));
        |INSERT INTO `b` VALUES (9,'x'),(10,NULL);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(path), sql)
    val want = Set((9L, Option("x")), (10L, None))
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows(SqlDumpSource.parse(spark, path, Seq("b"))("b")) == want)
    val dump = SqlDumpSource.decodeOnce(spark, path, Seq("b"))
    try {
      assert(dump.tables == Seq("b") && dump.rows("b") == Some(2L))
      assert(rows(dump.frame("b")) == want)
    } finally dump.release()
    val out = s"$dir/out"
    val rep = Cli.run(spark, Seq("dump", path, out, "snappy", "b")).get
    assert(rep.successes == 1 && rep.total == 1, rep)
    assert(rows(graft.sinks.OrcSink.read(spark, s"$out/b")) == want)
    // selected, the malformed tuple still fails loudly
    intercept[SparkException](SqlDumpSource.parse(spark, path, Seq("a"))("a").collect())
  }

  test("REPLACE INTO and modifier-prefixed inserts carry rows like INSERT") {
    assert(SqlDumpSource.parseInsert("REPLACE INTO `t` VALUES (1,'a'),(2,'b')")
      .map(_.rows.size) === Some(2))
    assert(SqlDumpSource.parseInsert("INSERT DELAYED IGNORE INTO t VALUES (3)")
      .map(_.rows.size) === Some(1))
    assert(SqlDumpSource.parseInsert("REPLACE LOW_PRIORITY INTO t VALUES (4)")
      .map(_.rows.size) === Some(1))
  }

  test("ON DUPLICATE KEY UPDATE clause is stripped, not parsed as a row") {
    val got = SqlDumpSource.parseInsert(
      "INSERT INTO `t` VALUES (1,'a'),(2,'b') " +
        "ON DUPLICATE KEY UPDATE `id`=VALUES(`id`), v=CONCAT(v,'x')")
    assert(got.map(_.rows) ===
      Some(Seq(Seq(Some("1"), Some("a")), Seq(Some("2"), Some("b")))))
    // the keyword TEXT inside a string cell must NOT truncate the values
    val tricky = SqlDumpSource.parseInsert(
      "INSERT INTO t VALUES (1,'ON DUPLICATE KEY UPDATE x'),(2,'y')")
    assert(tricky.map(_.rows.size) === Some(2))
    assert(tricky.get.rows.head(1) === Some("ON DUPLICATE KEY UPDATE x"))
  }

  test("conditional comments expand their payload; plain comments strip") {
    // prologue form: the payload surfaces as an ordinary (ignored) statement
    val s1 = stmts("/*!40101 SET NAMES utf8mb4 */;\nCREATE TABLE t (id INT);")
    assert(s1.exists(_.trim.startsWith("SET NAMES")))
    // inline form: the payload stays inside the statement it modifies
    val s2 = stmts("CREATE TABLE /*!32312 IF NOT EXISTS*/ `t` (`id` INT);")
    assert(s2.size === 1)
    val td = SqlDumpSource.parseCreateTable(s2.head)
    assert(td.map(_.name) === Some("t"))
    // a '*/' inside a quoted literal does not terminate the comment early
    val s3 = stmts("/*!40000 SET x = 'a*/b' */; CREATE TABLE u (id INT);")
    assert(s3.exists(s => s.contains("a*/b")))
    assert(s3.exists(_.toUpperCase.contains("CREATE TABLE U")) ||
      SqlDumpSource.parseCreateTable(s3.last).map(_.name) === Some("u"))
    // plain block comments still strip whole
    val s4 = stmts("/* just a note; (with ; and )) */ CREATE TABLE v (id INT);")
    assert(s4.size === 1 && SqlDumpSource.parseCreateTable(s4.head).map(_.name) === Some("v"))
  }

  test("full mysqldump framing round-trips: SET NAMES, LOCK TABLES, " +
      "DISABLE KEYS, REPLACE and ODKU batches") {
    val dir = Files.createTempDirectory("dumpspec-dialect").toFile
    val path = s"$dir/framed.sql"
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"name_$i")).toDF("id", "name")
    SqlDumpFixture.writeDump(df, "t", path, rowsPerInsert = 3,
      mysqldumpFraming = true)
    for (distributed <- Seq(true, false)) {
      val got = SqlDumpSource.parse(spark, path, Seq("all"), distributed)("t")
      assert(got.count() === 10, s"distributed=$distributed")
      assert(got.collect().map(_.getString(1)).toSet ===
        (1 to 10).map(i => s"name_$i").toSet)
    }
  }

  test("gzipped dump parses identically to plain text on both paths") {
    val dir = Files.createTempDirectory("dumpspec-gz").toFile
    val sql =
      """CREATE TABLE `a` (`id` INT, `name` VARCHAR(10));
        |INSERT INTO `a` VALUES (1,'x'),(2,'y;z'),(3,NULL);
        |""".stripMargin
    val gzPath = s"$dir/dump.sql.gz"
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gzPath))
    gz.write(sql.getBytes("UTF-8")); gz.close()
    for (distributed <- Seq(true, false)) {
      val a = SqlDumpSource.parse(spark, gzPath, Seq("all"), distributed)("a")
      assert(a.count() == 3, s"distributed=$distributed")
      assert(a.collect().map(r => Option(r.get(1))).toSet ==
        Set(Some("x"), Some("y;z"), None), s"distributed=$distributed")
    }
  }

  test("distributed parse auto-falls back when ';\\n' appears inside a literal") {
    // The ";\n" record delimiter splits this dump mid-literal; the guard
    // must detect the unterminated-quote record and fall back to the
    // streaming scanner instead of silently losing/corrupting the row.
    val dir = Files.createTempDirectory("dumpspec-guard").toFile
    val path = s"$dir/tricky.sql"
    val sql = "CREATE TABLE `t` (`id` INT, `txt` VARCHAR(64));\n" +
      "INSERT INTO `t` VALUES (1,'first;\nsecond line'),(2,'plain');\n" +
      "INSERT INTO `t` VALUES (3,'tail');\n"
    Files.writeString(java.nio.file.Paths.get(path), sql)
    val t = SqlDumpSource.parse(spark, path, Seq("all"), distributed = true)("t")
    val got = t.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "first;\nsecond line"), (2L, "plain"), (3L, "tail")))
  }

  test("distributed parse also falls back when ';\\n' sits inside a comment") {
    val dir = Files.createTempDirectory("dumpspec-cguard").toFile
    val path = s"$dir/comment.sql"
    val sql = "CREATE TABLE `t` (`id` INT);\n" +
      "/* step 1;\n done */ INSERT INTO `t` VALUES (1);\n" +
      "INSERT INTO `t` VALUES (2);\n"
    Files.writeString(java.nio.file.Paths.get(path), sql)
    val t = SqlDumpSource.parse(spark, path, Seq("all"), distributed = true)("t")
    assert(t.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("whitespace around quoted cells is separator padding, not content") {
    val rows = SqlDumpSource.parseInsert(
      "INSERT INTO t VALUES ( 'a' , 2 ), ('b'  ,  'c' )").get.rows
    assert(rows(0) == Seq(Some("a"), Some("2")))
    assert(rows(1) == Seq(Some("b"), Some("c")))
  }

  test("fixture writer -> parser round-trip is lossless (nation table)") {
    val dir = Files.createTempDirectory("dumpspec2").toFile
    val path = s"$dir/nation.sql"
    val nation = Tables.t(spark, "/root/testdata/sf0.001", "nation")
    SqlDumpFixture.writeDump(nation, "nation", path)
    val parsed = SqlDumpSource.parse(spark, path)("nation")
    // INT -> LONG widening per declared mapping; compare values as longs
    val want = nation.collect().map(r =>
      (r.getAs[Number]("n_nationkey").longValue(), r.getAs[String]("n_name"),
        r.getAs[Number]("n_regionkey").longValue())).toSet
    val got = parsed.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }
}
