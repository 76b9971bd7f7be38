package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sinks.{OrcFooters, OrcSink}
import graft.sources.CsvSource
import graft.ConversionJob.JobConfig

class OrcCsvJobSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val sf = "/root/testdata/sf0.001"

  test("ORC round-trip under every declared codec") {
    val df = Tables.t(spark, sf, "supplier")
    val want = df.collect().toSet
    for (codec <- Seq("none", "snappy", "zlib", "lzo", "zstd")) {
      val dir = Files.createTempDirectory(s"orc_$codec").toString
      val report = OrcSink.write(df, dir, "supplier", codec)
      assert(report.rows == want.size, codec)
      val got = OrcSink.read(spark, s"$dir/supplier").collect().toSet
      assert(got == want, codec)
    }
  }

  test("multi-part directory contract: many part files read as one table") {
    val df = Tables.t(spark, sf, "lineitem") // 6000 rows
    val dir = Files.createTempDirectory("orc_parts").toString
    val report = OrcSink.write(df, dir, "lineitem", "snappy", maxRecordsPerFile = 500)
    assert(report.files >= 2, s"expected multi-part output, got ${report.files}")
    assert(OrcSink.read(spark, s"$dir/lineitem").count() == df.count())
  }

  test("compact collapses many small part files losslessly") {
    val df = Tables.t(spark, sf, "lineitem")
    val want = df.collect().toSet
    val dir = Files.createTempDirectory("orc_compact").toString
    val report = OrcSink.write(df, dir, "lineitem", maxRecordsPerFile = 200)
    assert(report.files > 10, s"fixture should start fragmented, got ${report.files}")
    val compacted = OrcSink.compact(spark, s"$dir/lineitem", "lineitem",
      targetFileBytes = 1L << 30)
    assert(compacted.files == 1, s"expected 1 file, got ${compacted.files}")
    assert(compacted.rows == want.size)
    assert(OrcSink.read(spark, s"$dir/lineitem").collect().toSet == want)

    // partitioned layout: compaction must preserve the <col>=<val>/ nesting
    // (and with it, partition pruning)
    val events = Tables.t(spark, sf, "events")
    val pdir = Files.createTempDirectory("orc_compact_part").toString
    OrcSink.write(events, pdir, "events", partitionBy = Seq("event_type"),
      maxRecordsPerFile = 500)
    val n = events.count()
    OrcSink.compact(spark, s"$pdir/events", "events", targetFileBytes = 1L << 30)
    val filtered = OrcSink.read(spark, s"$pdir/events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    assert(filtered.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "compaction must keep the partitioned layout")
    assert(OrcSink.read(spark, s"$pdir/events").count() == n)
  }

  test("unsupported codec rejected") {
    val df = Tables.t(spark, sf, "region")
    intercept[IllegalArgumentException] {
      OrcSink.write(df, "/tmp/never", "region", "brotli")
    }
  }

  test("CSV option matrix: header/delimiter/no-header positional names") {
    val dir = Files.createTempDirectory("csvspec").toString
    val cust = Tables.t(spark, sf, "customer")

    cust.write.option("header", true).csv(s"$dir/with_header")
    val h = CsvSource.read(spark, s"$dir/with_header")
    assert(h.columns.toSeq == cust.columns.toSeq)
    assert(h.count() == cust.count())
    // inferSchema is real (reference collected the toggle but never used it)
    assert(h.schema("c_custkey").dataType != org.apache.spark.sql.types.StringType)

    cust.write.option("header", true).option("sep", ";").csv(s"$dir/semicolon")
    val semi = CsvSource.read(spark, s"$dir/semicolon", CsvSource.CsvOptions(delimiter = ";"))
    assert(semi.count() == cust.count())
    assert(semi.columns.length == cust.columns.length)

    cust.write.option("header", false).csv(s"$dir/no_header")
    val nh = CsvSource.read(spark, s"$dir/no_header", CsvSource.CsvOptions(hasHeader = false))
    assert(nh.columns.forall(_.startsWith("_c"))) // positional, like pandas header=None
    assert(nh.count() == cust.count())
  }

  test("CSV listInputs: file vs directory glob") {
    val dir = Files.createTempDirectory("csvlist").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"), "x\n1\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.csv"), "x\n2\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/notes.txt"), "ignored")
    val listed = CsvSource.listInputs(spark, dir)
    assert(listed.map(CsvSource.baseName) == Seq("a", "b"))
    assert(CsvSource.listInputs(spark, s"$dir/a.csv").map(CsvSource.baseName) == Seq("a"))
  }

  test("gzipped CSVs list, name, and read like their plain twins") {
    val dir = Files.createTempDirectory("csvgz").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"), "x\n1\n")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/c.csv.gz"))
    gz.write("x\n3\n".getBytes("UTF-8")); gz.close()
    Files.writeString(java.nio.file.Paths.get(s"$dir/notes.txt"), "ignored")
    // the compressed member is listed and shares the plain naming unit
    assert(CsvSource.listInputs(spark, dir).map(CsvSource.baseName) ==
      Seq("a", "c"))
    // Spark decompresses .csv.gz natively through the same reader
    val df = CsvSource.read(spark, s"$dir/c.csv.gz")
    assert(df.columns.toSeq == Seq("x"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("ConversionJob isolates failures and tallies (reference P4)") {
    val out = Files.createTempDirectory("job").toString
    val report = ConversionJob.run(
      Seq(
        "good" -> (() => Tables.t(spark, sf, "region")),
        "bad" -> (() => spark.read.parquet("/nonexistent/path.parquet")),
        "also_good" -> (() => Tables.t(spark, sf, "nation"))),
      JobConfig(outputDir = out, parallelWorkers = 2, retries = 1, retryBackoffMs = 10))
    assert(report.total == 3)
    assert(report.successes == 2)
    assert(report.summary == "Export completed: 2/3 tables successful")
    val bad = report.results.find(_.table == "bad").get
    assert(!bad.success && bad.attempts == 2 && bad.error.nonEmpty)
    assert(OrcSink.read(spark, s"$out/good").count() == 5)
  }

  test("Cli csv subcommand: per-input table dirs (K3 contract)") {
    val in = Files.createTempDirectory("cliin").toString
    val out = Files.createTempDirectory("cliout").toString
    Tables.t(spark, sf, "region").write.option("header", true).csv(s"$in/region.csv.d")
    // single CSV file path
    val one = Files.list(java.nio.file.Paths.get(s"$in/region.csv.d"))
      .filter(_.toString.endsWith(".csv")).findFirst().get()
    Files.copy(one, java.nio.file.Paths.get(s"$in/region.csv"))
    val report = Cli.run(spark, Seq("csv", s"$in/region.csv", out)).get
    assert(report.successes == 1)
    assert(OrcSink.read(spark, s"$out/region").count() == 5)
  }

  test("Cli usage error returns None") {
    assert(Cli.run(spark, Seq("bogus")).isEmpty)
  }

  test("Cli interactive flow drives the CSV path with defaults") {
    val in = Files.createTempDirectory("cliint").toString
    val out = Files.createTempDirectory("cliintout").toString
    Tables.t(spark, sf, "nation").write.option("header", true).csv(s"$in/nation.d")
    val one = Files.list(java.nio.file.Paths.get(s"$in/nation.d"))
      .filter(_.toString.endsWith(".csv")).findFirst().get()
    Files.copy(one, java.nio.file.Paths.get(s"$in/nation.csv"))
    // choice=3 (default), path, defaults for delim/header/inferSchema,
    // then outDir and defaults for codec/workers (reference prompt order)
    val script = s"\n$in/nation.csv\n\n\n\n$out\n\n\n"
    val report = Cli.interactive(spark,
      new java.io.BufferedReader(new java.io.StringReader(script)),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream())).get
    assert(report.successes == 1)
    assert(OrcSink.read(spark, s"$out/nation").count() == 25)
  }

  test("Cli interactive flow drives the MySQL branch end to end (Derby stand-in)") {
    // the reference's interactive MySQL flow (sh:84-146) scripted: choice=1,
    // host/port/user/password/database, tables='all', then output config.
    // No MySQL server exists in this environment; the injected connFor
    // resolves the prompt-level MySQL settings to an embedded Derby
    // database carrying a real TPC-H table, so discovery (tableList) ->
    // range-partitioned read -> ORC write all run for real.
    val dbDir = Files.createTempDirectory("cliderby").toString
    val out = Files.createTempDirectory("cliderbyout").toString
    val conn = graft.sources.JdbcSource.derby(s"$dbDir/db")
    graft.sources.JdbcFixture.loadTable(Tables.t(spark, sf, "region"), conn, "region")
    val script = "1\nlocalhost\n\nroot\nsecret\ntpch\nall\n" + s"$out\n\n\n"
    val report = Cli.interactive(spark,
      new java.io.BufferedReader(new java.io.StringReader(script)),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
      connFor = _ => conn).get
    assert(report.successes == 1 && report.total == 1)
    val got = OrcSink.read(spark, s"$out/region")
    assert(got.count() == 5)
    assert(got.columns.map(_.toLowerCase).toSet ==
      Tables.t(spark, sf, "region").columns.map(_.toLowerCase).toSet)
  }

  test("config file overrides interactive prompt defaults (CONFIG_FILE honored)") {
    val in = Files.createTempDirectory("clicfg").toString
    val out = Files.createTempDirectory("clicfgout").toString
    Tables.t(spark, sf, "region").write.option("header", true).csv(s"$in/region.d")
    val one = Files.list(java.nio.file.Paths.get(s"$in/region.d"))
      .filter(_.toString.endsWith(".csv")).findFirst().get()
    Files.copy(one, java.nio.file.Paths.get(s"$in/region.csv"))
    val cfgFile = s"$in/data_to_orc_config.conf"
    Files.writeString(java.nio.file.Paths.get(cfgFile),
      s"""# reference-reserved config file (sh:18), honored here
         |OUTPUT_DIR=$out
         |compression = zlib
         |PARALLEL_WORKERS=2
         |""".stripMargin)
    assert(Cli.loadConfig(cfgFile)("COMPRESSION") == "zlib")
    assert(Cli.loadConfig("/nonexistent.conf").isEmpty)
    // all prompts answered with empty input -> config values become defaults
    val script = s"\n$in/region.csv\n\n\n\n\n\n\n"
    val report = Cli.interactive(spark,
      new java.io.BufferedReader(new java.io.StringReader(script)),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
      configFile = cfgFile).get
    assert(report.successes == 1)
    assert(OrcSink.read(spark, s"$out/region").count() == 5)
  }

  test("log file tee + incremental progress lines (reference log contract)") {
    val out = Files.createTempDirectory("logjob").toString
    val logFile = s"$out/data_to_orc.log"
    // 3 write tasks over 5 rows with chunk=2 -> at least one intermediate
    // "Progress region: <n>/5 rows" line from executor output metrics
    // (the n == total line is suppressed in the listener; convertOne logs it)
    val report = ConversionJob.run(
      Seq("region" -> (() => Tables.t(spark, sf, "region").repartition(3))),
      JobConfig(outputDir = out, logFile = Some(logFile), progressChunk = 2))
    assert(report.successes == 1)
    def content() = if (Files.exists(java.nio.file.Paths.get(logFile)))
      Files.readString(java.nio.file.Paths.get(logFile)) else ""
    // listener events are async; final lines are synchronous
    val deadline = System.currentTimeMillis() + 10000
    while (!content().matches("(?s).*Progress region: [1-4]/5 rows.*") &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    val text = content()
    assert(text.contains("Export completed: 1/1 tables successful"), text)
    assert(text.contains("Progress region: 5/5 rows"), text)
    assert(text.contains(s"Successfully exported region to $out/region"), text)
    assert(text.matches("(?s).*Progress region: [1-4]/5 rows.*"),
      s"expected an intermediate chunk progress line:\n$text")
    // every line is timestamped like the reference logger (sh:22-24)
    assert(text.linesIterator.forall(_.matches("""\[\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\] .*""")), text)
  }

  test("HLL sketch aggregate stays within 5% of exact across repartitionings") {
    import org.apache.spark.sql.functions._
    // repartition the INPUT so the TypedImperativeAggregate merge path runs
    // over genuinely different partial-buffer layouts (1 = no merge, 7 =
    // seven partials merged at the final reduce)
    var last: Option[Long] = None
    for (parts <- Seq(1, 7)) {
      val li = Tables.t(spark, sf, "lineitem").repartition(parts)
      val r = li.agg(
        graft.functions.HllSketchAgg.hllDistinct(col("l_partkey")).as("sketch_parts"),
        countDistinct(col("l_partkey")).as("exact_parts")).collect()(0)
      val (sk, ex) = (r.getAs[Long]("sketch_parts"), r.getAs[Long]("exact_parts"))
      assert(math.abs(sk - ex).toDouble / ex < 0.05, s"parts=$parts: $sk vs $ex")
      // the sketch estimate must be partitioning-invariant (merge = union)
      last.foreach(prev => assert(prev == sk, s"estimate changed across partitionings"))
      last = Some(sk)
    }
  }

  test("approx_percentile sketch stays within 1% of exact per group") {
    // tighter than the gate's 2% verdict tolerance: computed directly so
    // the spec keeps the stricter bound while the gate keeps headroom
    val rows = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.95), 10000)").as("aq"),
        expr("percentile(l_extendedprice, array(0.25, 0.5, 0.95))").as("eq"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      r.getSeq[Double](1).zip(r.getSeq[Double](2)).foreach { case (a, e) =>
        assert(math.abs(a - e) / math.max(math.abs(e), 1e-9) < 0.01,
          s"${r.get(0)}: approx $a vs exact $e")
      }
    }
    // and the gate's own verdicts must all hold
    val gate = SparkEntry.queries("q29_quantile_sketch")(spark, sf).collect()
    gate.foreach { r =>
      Seq("q25_ok", "q50_ok", "p95_ok").foreach(c =>
        assert(r.getAs[Boolean](c), s"${r.get(0)}: $c"))
    }
  }

  test("approx_count_distinct stays within 5% of exact") {
    val row = Tables.t(spark, sf, "lineitem").agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
      countDistinct(col("l_partkey")).as("ep"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
      countDistinct(col("l_orderkey")).as("eo")).collect()(0)
    val (ap, ep) = (row.getAs[Long]("ap"), row.getAs[Long]("ep"))
    val (ao, eo) = (row.getAs[Long]("ao"), row.getAs[Long]("eo"))
    assert(math.abs(ap - ep).toDouble / ep < 0.05, s"$ap vs $ep")
    assert(math.abs(ao - eo).toDouble / eo < 0.05, s"$ao vs $eo")
    val gate = SparkEntry.queries("q22_approx_distinct")(spark, sf).collect()(0)
    assert(gate.getAs[Boolean]("approx_parts_ok") && gate.getAs[Boolean]("approx_orders_ok"))
  }

  test("Cli export writes csv and jsonl that read back losslessly") {
    import java.nio.file.Files
    import spark.implicits._
    val base = Files.createTempDirectory("export").toString
    val df = Seq((1L, "plain text", 2.5), (2L, "commas, included", 3.5))
      .toDF("id", "note", "v")
    graft.sinks.OrcSink.write(df, base, "things")
    for (fmt <- Seq("csv", "jsonl", "parquet")) {
      val rep = Cli.run(spark, Seq("export", s"$base/things", s"$base/$fmt", fmt)).get
      assert(rep.successes === 1)
      val back = fmt match {
        case "csv" => spark.read.option("header", true)
          .option("inferSchema", true).csv(s"$base/$fmt/things")
        case "parquet" => spark.read.parquet(s"$base/$fmt/things")
        case _ => spark.read.json(s"$base/$fmt/things")
      }
      val rows = back.select("id", "note", "v").orderBy("id").collect()
      assert(rows.map(_.getString(1)).toSeq === Seq("plain text", "commas, included"))
    }
    // parquet keeps exact types (no inference round-trip): long/double survive
    val pq = spark.read.parquet(s"$base/parquet/things")
    assert(pq.schema("id").dataType.typeName == "long")
    assert(pq.schema("v").dataType.typeName == "double")
  }

  test("verify row count: footer sum equals the distributed count, flat and partitioned") {
    val df = Tables.t(spark, sf, "lineitem")
    val expected = df.count()
    // flat multi-file layout
    val flat = Files.createTempDirectory("orc_vfy_flat").toString
    val repFlat = OrcSink.write(df, flat, "lineitem", maxRecordsPerFile = 700)
    assert(repFlat.files >= 2)
    assert(repFlat.rows == expected)
    // partitioned layout (recursive listing feeds the footer sum)
    val part = Files.createTempDirectory("orc_vfy_part").toString
    val repPart = OrcSink.write(df.withColumn("rf", col("l_returnflag")),
      part, "lineitem", partitionBy = Seq("rf"))
    assert(repPart.rows == expected)
    // both footer placements (driver pool, footer-only job) return the
    // same number whatever the file count
    for (onDriver <- Seq(true, false); dir <- Seq(s"$flat/lineitem", s"$part/lineitem"))
      assert(OrcFooters.entriesAt(spark, dir, OrcFooters.partFiles(spark, dir),
        Nil, onDriver).map(_.rows).sum == expected, s"onDriver=$onDriver $dir")
  }
}
