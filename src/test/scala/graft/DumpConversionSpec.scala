package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBus, GraftTestHooks}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.ConversionJob.JobConfig
import graft.sinks.OrcSink
import graft.sources.{PgDumpFixture, PgDumpSource, SqlDumpSource}

/** A dump conversion (`Cli.run(dump …)` for a mysqldump, `Cli.run(pgdump
  * …)` for a pg_dump) reads and decodes the dump once for all its tables:
  * one discovery job, one decode job whose per-table row counts are the
  * progress totals (no count pass), one write per table. The decoded rows
  * are pinned for the conversion only, recover from lineage when their
  * blocks are lost, and a table whose rows fail to decode or write fails
  * alone. */
class DumpConversionSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def sc = spark.sparkContext

  // ---- a multi-split dump and what it holds ----------------------------

  private val Rows = Map("items" -> 40000, "events" -> 6000, "notes" -> 3000)

  /** Rows of each table as the ORC output must hold them, as strings. */
  private def expected(table: String): Set[Seq[String]] = (1 to Rows(table)).map { i =>
    table match {
      case "items" => Seq(i.toString, s"item $i; it's \"quoted\", (x)",
        new java.math.BigDecimal(i).multiply(new java.math.BigDecimal("1.25")).setScale(2).toPlainString)
      case "events" => Seq(i.toString, java.time.LocalDate.of(1995, 1, 1).plusDays(i % 900).toString)
      case "notes" => Seq(i.toString, if (i % 7 == 0) null else s"note\n$i")
    }
  }.toSet

  private def literal(table: String, row: Seq[String]): String = {
    def q(s: String) = if (s == null) "NULL"
      else "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"
    table match {
      case "items" => s"(${row(0)},${q(row(1))},${row(2)})"
      case _ => s"(${row(0)},${q(row(1))})"
    }
  }

  private val Creates = Map(
    "items" -> "CREATE TABLE `items` (`id` INT NOT NULL, `name` VARCHAR(64), `price` DECIMAL(12,2))",
    "events" -> "CREATE TABLE `events` (`id` INT NOT NULL, `day` DATE)",
    "notes" -> "CREATE TABLE `notes` (`id` INT NOT NULL, `note` TEXT)")

  /** mysqldump-shaped file: per table a CREATE, then INSERTs of 200 rows. */
  private def writeDump(path: String, extra: String = ""): Long = {
    val sb = new StringBuilder("-- dump\n/*!40101 SET NAMES utf8mb4 */;\n")
    Seq("items", "events", "notes").foreach { t =>
      sb ++= Creates(t) ++= ";\n"
      expected(t).toSeq.sortBy(_.head.toInt).grouped(200).foreach { g =>
        sb ++= s"INSERT INTO `$t` VALUES " ++= g.map(literal(t, _)).mkString(",") ++= ";\n"
      }
    }
    sb ++= extra
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.size(Paths.get(path))
  }

  private val PgCreates = Map(
    "items" -> "CREATE TABLE public.items (\n    id integer NOT NULL,\n    name character varying(64),\n    price numeric(12,2)\n);",
    "events" -> "CREATE TABLE public.events (\n    id integer NOT NULL,\n    day date\n);",
    "notes" -> "CREATE TABLE public.notes (\n    id integer NOT NULL,\n    note text\n);")

  /** pg_dump-shaped file of the same rows: per table a CREATE, then one
    * COPY block. */
  private def writePgDump(path: String, extra: String): Long = {
    val sb = new StringBuilder("--\n-- PostgreSQL database dump\n--\nSET client_encoding = 'UTF8';\n\n")
    Seq("items", "events", "notes").foreach { t =>
      sb ++= PgCreates(t) ++= s"\n\nCOPY public.$t FROM stdin;\n"
      expected(t).toSeq.sortBy(_.head.toInt).foreach { row =>
        sb ++= row.map(c => if (c == null) "\\N" else PgDumpFixture.escapeCopy(c)).mkString("\t") += '\n'
      }
      sb ++= "\\.\n\n"
    }
    sb ++= extra
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.size(Paths.get(path))
  }

  /** Each dialect's subcommand and dump writer. */
  private val Dialects: Seq[(String, (String, String) => Long)] =
    Seq("dump" -> (writeDump _), "pgdump" -> (writePgDump _))

  private def written(dir: String): Set[Seq[String]] =
    OrcSink.read(spark, dir).collect().map(_.toSeq.map {
      case null => null
      case d: java.math.BigDecimal => d.toPlainString
      case v => v.toString
    }).toSet

  // ---- observation ------------------------------------------------------

  /** Jobs seen while `body` runs, each by the innermost program frame of
    * its call site, and the bytes read from local files meanwhile. Task
    * input bytes would not do for the latter: Spark adds the size of every
    * cached block a task reads to them, so they count reads of the pinned
    * rows as well as of the dump. */
  private final class JobLog extends SparkListener {
    val sites = new ConcurrentLinkedQueue[String]()
    var fileBytes = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit =
      sites.add(e.stageInfos.sortBy(_.stageId).lastOption.toSeq
        .flatMap(_.details.linesIterator.map(_.trim)).find(_.startsWith("graft."))
        .getOrElse("?"))
    def jobs: Seq[String] = sites.asScala.toSeq
  }

  private def localBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .map(_.getLong("bytesRead").longValue).getOrElse(0L)

  private def observe[T](body: => T): (T, JobLog) = {
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val before = localBytesRead()
      val r = body
      log.fileBytes = localBytesRead() - before
      GraftBus.drain(sc)
      (r, log)
    } finally sc.removeSparkListener(log)
  }

  /** Read the dump in input splits of `bytes` (the local filesystem's
    * 32 MB block would make it one split). */
  private def withSplits[T](bytes: Long)(body: => T): T = {
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    sc.hadoopConfiguration.setLong(key, bytes)
    try body finally sc.hadoopConfiguration.unset(key)
  }

  /** Bytes the record readers of splits of `split` bytes read before
    * their first record: a split that starts inside a record scans to the
    * record's end and drops it, as the split before reads it whole. A
    * pg_dump's COPY block is one record, so a block crossing a split start
    * is read in part once more from there. */
  private def skipScan(path: String, delimiter: String, split: Long): Long = {
    val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.ISO_8859_1)
    (split until text.length by split).map { start =>
      val end = text.indexOf(delimiter, start.toInt)
      (if (end < 0) text.length else end + delimiter.length) - start
    }.sum
  }

  /** Set an environment variable of this JVM for the length of `body`:
    * a conversion reads GRAFT_RESUME from the environment. */
  private def withEnv[T](key: String, value: String)(body: => T): T = {
    val env = System.getenv()
    val field = env.getClass.getDeclaredField("m")
    field.setAccessible(true)
    val m = field.get(env).asInstanceOf[java.util.Map[String, String]]
    m.put(key, value)
    try body finally m.remove(key)
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** RDDs persisted in the shared session now, whichever suite left them. */
  private def pinned(): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  // ---- specs --------------------------------------------------------------

  test("a multi-split dump converts from one read: no count job, no pin left") {
    for ((cmd, write) <- Dialects) {
      val before = pinned()
      val dir = tmp("dumpconv-once")
      val size = write(s"$dir/d.sql", "")
      val out = s"$dir/out"
      val (rep, log) = withEnv("GRAFT_LOG_FILE", s"$dir/convert.log")(withSplits(size / 3 + 1)(
        observe(Cli.run(spark, Seq(cmd, s"$dir/d.sql", out, "snappy", "all")))))
      val r = rep.get
      assert(r.successes == 3 && r.total == 3, r)
      Rows.foreach { case (t, n) =>
        val res = r.results.find(_.table == t).get
        assert(res.rows == n && res.attempts == 1, res)
        assert(written(s"$out/$t") == expected(t), s"$cmd $t")
      }
      val reread = if (cmd == "pgdump") skipScan(s"$dir/d.sql", "\n\\.\n", size / 3 + 1) else 0L
      assert(log.fileBytes <= 1.2 * size + reread,
        s"$cmd read ${log.fileBytes} bytes of a $size-byte dump, $reread of them re-read")
      // the decode job's counts are the progress denominators
      val lines = Files.readString(Paths.get(s"$dir/convert.log"))
      assert(lines.contains("Progress items: 40,000/40,000 rows"), lines)
      assert(lines.contains("Export completed: 3/3 tables successful"), lines)
      assert(!log.jobs.exists(_.startsWith("graft.ConversionJob")), log.jobs)
      // discovery, decode, one write per table
      assert(log.jobs.size == 2 + Rows.size, log.jobs)
      assert(pinned() == before, cmd)
    }
  }

  test("a table that fails to decode or to write fails alone; no pin is left") {
    // bad_cast: a non-numeric INT cell; bad_hex: a malformed hex literal;
    // bad_write: NULL in a NOT NULL column. Each fails in the decode job,
    // on the first attempt: decoding the same rows again fails the same way
    val extra = Map(
      "dump" ->
        """CREATE TABLE `bad_cast` (`id` INT, `v` VARCHAR(8));
          |INSERT INTO `bad_cast` VALUES (1,'a'),(2,'b');
          |INSERT INTO `bad_cast` VALUES ('abc','c');
          |CREATE TABLE `bad_hex` (`id` INT, `b` BLOB);
          |INSERT INTO `bad_hex` VALUES (1,X'zz');
          |CREATE TABLE `bad_write` (`id` INT NOT NULL);
          |INSERT INTO `bad_write` VALUES (1),(NULL);
          |""".stripMargin,
      "pgdump" ->
        """CREATE TABLE public.bad_cast (id integer, v text);
          |COPY public.bad_cast (id, v) FROM stdin;
          |1	a
          |abc	c
          |\.
          |CREATE TABLE public.bad_write (id integer NOT NULL);
          |COPY public.bad_write (id) FROM stdin;
          |1
          |\N
          |\.
          |""".stripMargin)
    for ((cmd, write) <- Dialects) {
      val before = pinned()
      val dir = tmp("dumpconv-fail")
      write(s"$dir/d.sql", extra(cmd))
      val out = s"$dir/out"
      val r = withSplits(256L << 10)(
        Cli.run(spark, Seq(cmd, s"$dir/d.sql", out, "snappy", "all"))).get
      val byTable = r.results.map(x => x.table -> x).toMap
      val failed = byTable.keySet -- Rows.keySet
      assert(r.total == 3 + failed.size && r.successes == 3, r)
      Rows.keys.foreach { t =>
        assert(byTable(t).success, byTable(t))
        assert(written(s"$out/$t") == expected(t), s"$cmd $t")
      }
      assert(!byTable("bad_cast").success)
      assert(byTable("bad_cast").error.exists(
        _.contains("java.lang.NumberFormatException: For input string: \"abc\"")), byTable("bad_cast"))
      assert(!byTable("bad_write").success, byTable("bad_write"))
      if (cmd == "dump") {
        assert(!byTable("bad_hex").success)
        assert(byTable("bad_hex").error.exists(
          _.contains("malformed hex literal X'zz': non-hex digit in 'zz'")), byTable("bad_hex"))
      }
      failed.foreach(t => assert(byTable(t).attempts == 1, byTable(t)))
      assert(r.total == (if (cmd == "dump") 6 else 5), r)
      assert(pinned() == before, cmd)
    }
  }

  test("the decoded rows are pinned at under 2x the dump's bytes, and released") {
    for ((cmd, write) <- Dialects) {
      val before = pinned()
      val dir = tmp("dumpconv-pinned")
      val size = write(s"$dir/d.sql", "")
      val dump = withSplits(size / 3 + 1)(
        if (cmd == "dump") SqlDumpSource.decodeOnce(spark, s"$dir/d.sql", Seq("all"))
        else PgDumpSource.decodeOnce(spark, s"$dir/d.sql", Seq("all")))
      try {
        Rows.foreach { case (t, n) => assert(dump.rows(t).contains(n.toLong), s"$cmd $t") }
        GraftBus.drain(sc)
        val infos = sc.getRDDStorageInfo.filter(i => !before.contains(i.id))
        assert(infos.nonEmpty && infos.forall(_.numCachedPartitions > 0), infos.mkString(", "))
        val bytes = infos.map(i => i.memSize + i.diskSize).sum
        info(f"$cmd: $bytes%d pinned bytes, ${bytes.toDouble / size}%.2fx the $size%d-byte dump")
        assert(bytes <= 2.0 * size, s"$cmd pinned $bytes bytes for a $size-byte dump")
      } finally dump.release()
      assert(pinned() == before, cmd)
    }
  }

  test("resume with every table verified runs no decode job") {
    val before = pinned()
    val dir = tmp("dumpconv-resume")
    writeDump(s"$dir/d.sql")
    val out = s"$dir/out"
    val args = Seq("dump", s"$dir/d.sql", out, "snappy", "all")
    assert(Cli.run(spark, args).get.successes == 3)
    val (rep, log) = withEnv("GRAFT_RESUME", "1")(observe(Cli.run(spark, args)))
    val r = rep.get
    assert(r.successes == 3 && r.results.forall(_.attempts == 0), r)
    assert(r.results.map(x => x.table -> x.rows).toMap == Rows.map { case (t, n) => t -> n.toLong })
    // the discovery job alone: the schemas come from it, no row is decoded
    assert(log.jobs.size == 1 && log.jobs.head.startsWith("graft.sources.SqlDumpSource"), log.jobs)
    assert(pinned() == before)
  }

  test("pinned rows recover on lineage when their blocks are lost between writes") {
    val before = pinned()
    val dir = tmp("dumpconv-lineage")
    val size = writeDump(s"$dir/d.sql")
    val out = s"$dir/out"
    val dump = withSplits(size / 4 + 1)(SqlDumpSource.decodeOnce(spark, s"$dir/d.sql", Seq("all")))
    var dropped = 0
    def dropPinned(): Unit = (pinned() -- before).foreach { id =>
      dropped += sc.getRDDStorageInfo.find(_.id == id).map(_.numCachedPartitions).getOrElse(0)
      GraftTestHooks.dropBlocks(sc, id)
    }
    val tables = dump.tables.map { t =>
      // before the second table's write, every block the conversion cached is lost
      val frame = if (t == dump.tables(1)) () => { dropPinned(); dump.frame(t) } else () => dump.frame(t)
      ConversionJob.Table(t, frame, () => dump.rows(t))
    }
    val cfg = JobConfig(outputDir = out, parallelWorkers = 1, retries = 0, logFile = None)
    val r = ConversionJob.run(tables, cfg, () => dump.release())
    assert(r.successes == 3, r)
    assert(dropped > 0, "the decoded rows were pinned when the blocks were dropped")
    Rows.keys.foreach(t => assert(written(s"$out/$t") == expected(t), t))
    assert(pinned() == before)
  }

  test("a source row count that differs from the written footers fails the table") {
    val out = tmp("dumpconv-count")
    val df = spark.range(5).toDF("id")
    val cfg = JobConfig(outputDir = out, parallelWorkers = 1, retries = 0, logFile = None)
    var released = false
    val r = ConversionJob.run(Seq(
      ConversionJob.Table("wrong", () => df, () => Some(6L)),
      ConversionJob.Table("right", () => df, () => Some(5L))), cfg, () => released = true)
    val byTable = r.results.map(x => x.table -> x).toMap
    assert(!byTable("wrong").success)
    assert(byTable("wrong").error.exists(_.contains("wrong: wrote 5 rows but the source holds 6")),
      byTable("wrong"))
    // no success marker: a resumed run must not trust the output
    assert(OrcSink.readMarker(spark, s"$out/wrong").isEmpty)
    assert(byTable("right").success && byTable("right").rows == 5)
    assert(released)
  }
}
