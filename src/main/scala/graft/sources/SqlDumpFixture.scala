package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** mysqldump-style fixture writer: DataFrame -> `.sql` dump text.
  *
  * Exists because the reference's dump *input* format (CREATE TABLE +
  * multi-row INSERT, `/root/reference/data_to_orc_converter.sh:299-421`)
  * has no producer in this environment; round-trip tests and the
  * `conv_dump_roundtrip` oracle query generate dumps from the parquet
  * fixtures and parse them back with [[SqlDumpSource]].
  *
  * Fixture-scale only: rows pass through the driver (`toLocalIterator`,
  * so memory stays bounded, but throughput is single-node). Production
  * dumps come from mysqldump, not from us.
  */
object SqlDumpFixture {

  /** Write `df` as a dump. `typeOverrides` pins a column's declared MySQL
    * type (e.g. "c_acctbal" -> "DECIMAL(12,2)"); values are serialized per
    * the declared type (decimals at declared scale, HALF_UP).
    * `mysqldumpFraming` reproduces the full dialect framing a real
    * mysqldump ships: "bang-40101 SET NAMES"-style conditional-comment
    * prologue/epilogue, a plain `SET NAMES` statement, `LOCK TABLES` /
    * `DISABLE KEYS` wrappers, a "bang-32312 IF NOT EXISTS" inline
    * conditional in the CREATE TABLE, and row batches cycling through
    * the three row-bearing statement forms (`INSERT INTO`,
    * `REPLACE INTO`, `INSERT ... ON DUPLICATE KEY UPDATE`). */
  def writeDump(df: DataFrame, tableName: String, path: String,
                typeOverrides: Map[String, String] = Map.empty,
                rowsPerInsert: Int = 500,
                mysqldumpFraming: Boolean = false): Unit = {
    val schema = df.schema
    val declared = schema.fields.map(f =>
      f.name -> typeOverrides.getOrElse(f.name, defaultMysqlType(f.dataType))).toMap

    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // a `.gz` path writes gzip-compressed — the form mysqldump output
    // actually ships in (`mysqldump | gzip > dump.sql.gz`)
    val raw = fs.create(p, true)
    val out = new BufferedWriter(new OutputStreamWriter(
      compressByExtension(path, raw,
        df.sparkSession.sparkContext.hadoopConfiguration), StandardCharsets.UTF_8))
    try {
      out.write("-- graft test fixture dump\n")
      out.write("/* statement scanner must skip this block comment; it contains ';' and ')' */\n")
      if (mysqldumpFraming) {
        out.write("/*!40101 SET @saved_cs_client = @@character_set_client */;\n")
        out.write("/*!40101 SET NAMES utf8mb4 */;\n")
        out.write("SET NAMES utf8mb4;\n")
        out.write(s"CREATE TABLE /*!32312 IF NOT EXISTS*/ `$tableName` (\n")
      } else {
        out.write(s"CREATE TABLE `$tableName` (\n")
      }
      val colDefs = schema.fields.map(f => s"  `${f.name}` ${declared(f.name)}")
      out.write(colDefs.mkString(",\n"))
      schema.fields.headOption.foreach(f => out.write(s",\n  PRIMARY KEY (`${f.name}`)"))
      if (mysqldumpFraming) {
        out.write("\n) /*!40100 DEFAULT CHARACTER SET utf8mb4 */;\n")
        out.write(s"LOCK TABLES `$tableName` WRITE;\n")
        out.write(s"/*!40000 ALTER TABLE `$tableName` DISABLE KEYS */;\n")
      } else out.write("\n);\n")

      val firstCol = schema.fields.head.name
      val it = df.toLocalIterator()
      val batch = new scala.collection.mutable.ArrayBuffer[String](rowsPerInsert)
      var batchIdx = 0
      def flush(): Unit = if (batch.nonEmpty) {
        val form = if (mysqldumpFraming) batchIdx % 3 else 0
        val head = if (form == 1) s"REPLACE INTO `$tableName` VALUES "
          else s"INSERT INTO `$tableName` VALUES "
        out.write(head)
        out.write(batch.mkString(","))
        if (form == 2)
          out.write(s" ON DUPLICATE KEY UPDATE `$firstCol`=VALUES(`$firstCol`)")
        out.write(";\n")
        batch.clear()
        batchIdx += 1
      }
      while (it.hasNext) {
        batch += tupleLiteral(it.next(), schema, declared)
        if (batch.size >= rowsPerInsert) flush()
      }
      flush()
      if (mysqldumpFraming) {
        out.write(s"/*!40000 ALTER TABLE `$tableName` ENABLE KEYS */;\n")
        out.write("UNLOCK TABLES;\n")
        out.write("/*!40101 SET character_set_client = @saved_cs_client */;\n")
      }
    } finally out.close()
  }

  /** Wrap `raw` in the compressor the path extension names — the forms
    * dumps actually ship in (`mysqldump | gzip/bzip2/zstd > dump.sql.EXT`).
    * `.bz2` goes through Hadoop's pure-Java splittable BZip2Codec (the
    * distributed statement parse then splits ONE compressed dump across
    * executors at block boundaries — gzip can't); `.zst` through the
    * Hadoop codec when its native binding is loadable. */
  private[sources] def compressByExtension(path: String, raw: java.io.OutputStream,
                                  conf: org.apache.hadoop.conf.Configuration): java.io.OutputStream = {
    val lower = path.toLowerCase
    if (lower.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw)
    else if (lower.endsWith(".bz2")) {
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(conf)
      codec.createOutputStream(raw)
    } else if (lower.endsWith(".zst")) {
      // zstd-jni directly: Hadoop's ZStandardCodec needs native libhadoop
      // (absent here); the read side resolves via graft's ZstdJniCodec
      new com.github.luben.zstd.ZstdOutputStream(raw)
    } else raw
  }

  def defaultMysqlType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType => "DOUBLE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case DateType => "DATE"
    case TimestampType => "DATETIME"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case _ => "VARCHAR(255)"
  }

  private def tupleLiteral(row: Row, schema: StructType, declared: Map[String, String]): String = {
    val cells = schema.fields.zipWithIndex.map { case (f, i) =>
      if (row.isNullAt(i)) "NULL"
      else {
        val decl = declared(f.name).toUpperCase
        (f.dataType, row.get(i)) match {
          case (DoubleType, v: Double) if decl.startsWith("DECIMAL") =>
            val scale = decl.drop(decl.indexOf(',') + 1).takeWhile(_.isDigit).toInt
            java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
          case (DoubleType, v: Double) => java.math.BigDecimal.valueOf(v).toPlainString
          case (LongType | IntegerType | ShortType | ByteType, v) => v.toString
          case (TimestampType, v: java.sql.Timestamp) => s"'${v.toString.stripSuffix(".0")}'"
          case (DateType, v: java.sql.Date) => s"'${v.toString}'"
          case (BooleanType, v: Boolean) => if (v) "1" else "0"
          case (_, v) => quote(v.toString)
        }
      }
    }
    cells.mkString("(", ",", ")")
  }

  /** Write `df` in the exact shape `sqlite3 db .dump` emits (the third
    * dump dialect beside mysqldump/pg_dump): `PRAGMA` prologue,
    * `BEGIN TRANSACTION;`/`COMMIT;` framing, CREATE TABLE with
    * double-quoted identifiers and SQLite type names, and one
    * `INSERT INTO "t" VALUES(...)` per row. SQLite string literals escape
    * ONLY by quote doubling — backslash is a plain character — so this
    * writer must not reuse the MySQL [[quote]]. `typeOverrides` pins
    * declared types as in [[writeDump]] (SQLite DDL accepts any type
    * name, and .dump preserves the original declaration verbatim). */
  def writeSqliteDump(df: DataFrame, tableName: String, path: String,
                      typeOverrides: Map[String, String] = Map.empty): Unit = {
    val schema = df.schema
    val declared = schema.fields.map(f =>
      f.name -> typeOverrides.getOrElse(f.name, defaultSqliteType(f.dataType))).toMap
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new BufferedWriter(new OutputStreamWriter(
      compressByExtension(path, fs.create(p, true),
        df.sparkSession.sparkContext.hadoopConfiguration), StandardCharsets.UTF_8))
    try {
      out.write("PRAGMA foreign_keys=OFF;\n")
      out.write("BEGIN TRANSACTION;\n")
      out.write(s"""CREATE TABLE "$tableName" (\n""")
      out.write(schema.fields.map(f => s"""  "${f.name}" ${declared(f.name)}""")
        .mkString(",\n"))
      out.write("\n);\n")
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val cells = schema.fields.zipWithIndex.map { case (f, i) =>
          if (row.isNullAt(i)) "NULL"
          else {
            val decl = declared(f.name).toUpperCase
            (f.dataType, row.get(i)) match {
              case (DoubleType, v: Double) if decl.startsWith("NUMERIC") && decl.contains(",") =>
                val scale = decl.drop(decl.indexOf(',') + 1).takeWhile(_.isDigit).toInt
                java.math.BigDecimal.valueOf(v)
                  .setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
              case (DoubleType, v: Double) => java.math.BigDecimal.valueOf(v).toPlainString
              case (LongType | IntegerType | ShortType | ByteType, v) => v.toString
              case (BooleanType, v: Boolean) => if (v) "1" else "0"
              case (TimestampType, v: java.sql.Timestamp) => sqliteQuote(v.toString.stripSuffix(".0"))
              case (DateType, v: java.sql.Date) => sqliteQuote(v.toString)
              case (BinaryType, v: Array[Byte]) =>
                "X'" + v.map("%02x".format(_)).mkString + "'"
              case (_, v) => sqliteQuote(v.toString)
            }
          }
        }
        out.write(s"""INSERT INTO "$tableName" VALUES(${cells.mkString(",")});\n""")
      }
      out.write("COMMIT;\n")
    } finally out.close()
  }

  def defaultSqliteType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
    case BinaryType => "BLOB"
    case _ => "TEXT" // strings, dates, timestamps — SQLite stores them as text
  }

  /** SQLite string literal: quote-doubling ONLY (no backslash escapes;
    * control characters ride verbatim inside the quotes). */
  def sqliteQuote(s: String): String =
    "'" + s.replace("'", "''") + "'"

  /** MySQL string literal with backslash + doubled-quote escaping. */
  def quote(s: String): String = {
    val sb = new StringBuilder("'")
    s.foreach {
      case '\'' => sb.append("''")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\u0000' => sb.append("\\0")
      case c => sb.append(c)
    }
    sb.append("'").toString
  }
}
