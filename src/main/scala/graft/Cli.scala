package graft

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.sources.{AvroSource, CsvSource, FixedWidthSource, JdbcSource, PgDumpSource, SqlDumpSource, XmlSource}
import graft.ConversionJob.{JobConfig, JobReport}

/** Non-interactive CLI mirroring the reference's three argv contracts
  * (SURVEY.md §2.7; reference README.md:143-156):
  *
  * {{{
  * graft.Cli mysql <host> <port> <user> <password> <database> <output_dir> <compression> <tables>
  * graft.Cli dump  <sql_file> <output_dir> [compression=snappy] [tables=all]
  * graft.Cli csv   <csv_path> <output_dir> [delimiter=,] [has_header=true] [compression=snappy]
  * }}}
  *
  * `tables` is comma-separated or the `all` sentinel. Env knobs
  * PARALLEL_WORKERS and CHUNK_SIZE (declared in the reference README but
  * never read there — SURVEY.md §2.8) are honored via JobConfig defaults.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("universal-data-to-orc")
    spark.sparkContext.setLogLevel("WARN")
    // No args = interactive session, like the reference's `./data_to_orc_
    // converter.sh` prompt flow (sh:84-173).
    val report =
      if (args.isEmpty)
        interactive(spark,
          new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
          System.out)
      else run(spark, args.toIndexedSeq)
    spark.stop()
    // usage errors / aborted sessions (None) are failures too — a caller
    // must never see exit 0 when nothing converted, including the vacuous
    // total == 0 case (dump with no tables, directory with no CSVs)
    if (report.forall(r => r.total == 0 || r.successes != r.total)) sys.exit(1)
  }

  /** Optional `KEY=value` config file (reference `CONFIG_FILE`, sh:18 —
    * reserved beside the script but never read there; honored here).
    * Recognized keys override the interactive prompt defaults, e.g.
    * OUTPUT_DIR, COMPRESSION, PARALLEL_WORKERS, CSV_DELIMITER. Lines
    * starting with '#' and blanks are ignored; keys are case-insensitive. */
  def loadConfig(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains('='))
        .map { l =>
          val i = l.indexOf('=')
          l.take(i).trim.toUpperCase -> l.drop(i + 1).trim
        }.toMap
      finally src.close()
    }
  }

  /** Interactive prompt flow mirroring the reference's UX (sh:84-173):
    * input type -> per-type config (with the reference's defaults) ->
    * output dir + compression + workers. Testable via injected reader.
    * `configFile` defaults (reference `data_to_orc_config.conf`, sh:17-18)
    * replace the built-in prompt defaults when present. */
  def interactive(spark: SparkSession, in: java.io.BufferedReader,
                  out: java.io.PrintStream,
                  configFile: String = "data_to_orc_config.conf",
                  connFor: JdbcSource.MySqlConfig => JdbcSource.JdbcConn = _.conn)
      : Option[JobReport] = {
    val conf = loadConfig(configFile)
    def ask(msg: String, default: String, confKey: String = ""): String = {
      val d = if (confKey.nonEmpty) conf.getOrElse(confKey.toUpperCase, default) else default
      out.print(s"$msg [$d]: ")
      val line = Option(in.readLine()).map(_.trim).getOrElse("")
      if (line.isEmpty) d else line
    }
    def required(msg: String): Option[String] = {
      val v = ask(msg, "")
      if (v.isEmpty) { out.println(s"error: $msg is required"); None } else Some(v)
    }
    // common output config (reference get_output_config, sh:164-173:
    // output dir + compression + parallel workers)
    def outputConfig(): (String, String, Int) = {
      val outDir = ask("Output directory", "./orc_output", "OUTPUT_DIR")
      val codec = ask("Compression (snappy/zlib/lzo/zstd/none)", "snappy", "COMPRESSION")
      val workers = Try(ask("Parallel workers", "4", "PARALLEL_WORKERS").toInt).getOrElse(4)
      (outDir, codec, workers)
    }
    out.println("Select input type:\n  1) MySQL database\n  2) SQL dump file\n  3) CSV file/directory")
    val choice = ask("Choice", "3")
    choice match {
      case "1" =>
        val host = ask("MySQL host", "localhost", "MYSQL_HOST")
        val port = ask("MySQL port", "3306", "MYSQL_PORT")
        val user = ask("MySQL user", "root", "MYSQL_USER")
        val pass = ask("MySQL password", "")
        val db = ask("Database", "", "MYSQL_DATABASE")
        val tables = ask("Tables (comma-separated or 'all')", "all", "TABLES")
        val (outDir, codec, workers) = outputConfig()
        run(spark, Seq("mysql", host, port, user, pass, db, outDir, codec, tables),
          workers = Some(workers), connFor = connFor)
      case "2" =>
        required("SQL dump file") match {
          case None => None
          case Some(file) =>
            val tables = ask("Tables (comma-separated or 'all')", "all", "TABLES")
            val (outDir, codec, workers) = outputConfig()
            run(spark, Seq("dump", file, outDir, codec, tables), workers = Some(workers))
        }
      case _ =>
        required("CSV file or directory") match {
          case None => None
          case Some(path) =>
            // per-type config order mirrors get_csv_config (sh:148-159):
            // delimiter -> header -> infer-schema, then output config
            val delim = ask("CSV delimiter", ",", "CSV_DELIMITER")
            val header = ask("Has header row? (true/false)", "true", "CSV_HEADER")
            val infer = ask("Infer schema from data? (true/false)", "true", "INFER_SCHEMA")
            val (outDir, codec, workers) = outputConfig()
            run(spark, Seq("csv", path, outDir, delim, header, codec),
              workers = Some(workers), inferSchema = Try(infer.toBoolean).toOption)
        }
    }
  }

  /** Dispatch; returns None for usage errors (after printing usage).
    * `workers`/`inferSchema` carry interactive-only prompt answers that
    * have no slot in the reference argv contracts (they arrive via env
    * vars in batch mode). `connFor` maps the prompt-level MySQL settings
    * to the actual JDBC connection — the production default builds the
    * jdbc:mysql URL; tests inject an embedded-Derby connection so the
    * whole mysql branch runs end to end without a MySQL server (no such
    * server exists in this build environment). */
  def run(spark: SparkSession, args: Seq[String],
          workers: Option[Int] = None,
          inferSchema: Option[Boolean] = None,
          connFor: JdbcSource.MySqlConfig => JdbcSource.JdbcConn = _.conn)
      : Option[JobReport] = {
    def jobConfig(outDir: String, compression: String): JobConfig = {
      val base = JobConfig(outputDir = outDir, compression = compression)
      workers.fold(base)(w => base.copy(parallelWorkers = w))
    }
    args.toList match {
    case "mysql" :: host :: port :: user :: password :: database :: outDir :: compression :: tables :: Nil =>
      val cfg = JdbcSource.MySqlConfig(host = host, port = port.toInt, user = user,
        password = password, database = database,
        chunkSize = sys.env.get("CHUNK_SIZE").map(_.toInt).getOrElse(50000))
      val conn = connFor(cfg)
      val names = tableSelection(tables, () => JdbcSource.tableList(conn).getOrElse(Nil))
      Some(ConversionJob.run(
        names.map(t => t -> (() => JdbcSource.read(spark, conn, t))),
        jobConfig(outDir, compression)))

    // mysqldump (`dump`) or pg_dump plain format (`pgdump`, beyond-reference:
    // the reference is MySQL-only; "universal" converters meet Postgres
    // estates too): one read and one decode for all tables; their counts
    // are the progress totals, and the conversion releases the pinned rows
    case (cmd @ ("dump" | "pgdump")) :: sqlFile :: outDir :: rest if rest.length <= 2 =>
      val compression = rest.headOption.getOrElse("snappy")
      val tables = rest.lift(1).getOrElse("all").split(',').map(_.trim).toSeq
      val dump =
        if (cmd == "dump") SqlDumpSource.decodeOnce(spark, sqlFile, tables)
        else PgDumpSource.decodeOnce(spark, sqlFile, tables)
      Some(ConversionJob.run(
        dump.tables.map(t => ConversionJob.Table(t, () => dump.frame(t), () => dump.rows(t))),
        jobConfig(outDir, compression), () => dump.release()))

    case "csv" :: csvPath :: outDir :: rest if rest.length <= 3 =>
      val delimiter = rest.headOption.getOrElse(",")
      val hasHeader = rest.lift(1).forall(_.toBoolean)
      val compression = rest.lift(2).getOrElse("snappy")
      // per-input output naming (K3): each CSV file -> outdir/<basename>/
      val inputs = CsvSource.listInputs(spark, csvPath)
      // delimiter=auto: sniff (delimiter, header) PER FILE from a bounded
      // line sample — mixed-dialect directories convert in one pass; the
      // has_header argument is ignored in auto mode (the sniffer decides)
      def optsFor(f: String): CsvSource.CsvOptions =
        if (delimiter.equalsIgnoreCase("auto")) {
          val (sep, hdr) = CsvSource.sniffDialect(spark, f)
          CsvSource.CsvOptions(delimiter = sep, hasHeader = hdr,
            inferSchema = inferSchema.getOrElse(true))
        } else CsvSource.CsvOptions(delimiter = delimiter,
          hasHeader = hasHeader, inferSchema = inferSchema.getOrElse(true))
      Some(ConversionJob.run(
        inputs.map(f => CsvSource.baseName(f) -> (() => CsvSource.read(spark, f, optsFor(f)))),
        jobConfig(outDir, compression)))

    // XML path (beyond-reference input; Spark 4 built-in XML datasource):
    // same per-input naming contract as csv — each file -> outdir/<basename>/
    case "xml" :: xmlPath :: outDir :: rest if rest.length <= 2 =>
      val rowTag = rest.headOption.getOrElse("row")
      val compression = rest.lift(1).getOrElse("snappy")
      val opts = XmlSource.XmlOptions(rowTag = rowTag,
        inferSchema = inferSchema.getOrElse(true))
      val inputs = XmlSource.listInputs(spark, xmlPath)
      Some(ConversionJob.run(
        inputs.map(f => CsvSource.baseName(f) -> (() => XmlSource.read(spark, f, opts))),
        jobConfig(outDir, compression)))

    // JSONL path (beyond-reference input; the LLM-corpus interchange
    // format): a file or directory whose *.jsonl/*.json(.gz) members each
    // become their own table (same per-input contract as csv/xml; stray
    // non-JSON files in the directory are ignored, not silently parsed
    // into corrupt-record rows).
    case "jsonl" :: jsonPath :: outDir :: rest if rest.length <= 1 =>
      val compression = rest.headOption.getOrElse("snappy")
      val inputs = listByExt(spark, jsonPath,
        Seq(".jsonl", ".json", ".jsonl.gz", ".json.gz"))
      Some(ConversionJob.run(
        inputs.map(f => CsvSource.baseName(f) -> (() => spark.read.json(f))),
        jobConfig(outDir, compression)))

    // Parquet path (beyond-reference input; completes the README's
    // "universal data" claim — the repo already reads parquet everywhere
    // internally): a single file/table directory converts as one table; a
    // directory of *.parquet members converts per file.
    case "parquet" :: inPath :: outDir :: rest if rest.length <= 1 =>
      val compression = rest.headOption.getOrElse("snappy")
      val inputs = listByExt(spark, inPath, Seq(".parquet"))
      Some(ConversionJob.run(
        inputs.map(f => CsvSource.baseName(f) -> (() => spark.read.parquet(f))),
        jobConfig(outDir, compression)))

    // Fixed-width (positional/COBOL-era) text path (beyond-reference
    // input): column layout given inline as name:width:type,... —
    // substring+cast codegen parse, splittable by line
    case "fixedwidth" :: inPath :: outDir :: spec :: rest if rest.length <= 1 =>
      val compression = rest.headOption.getOrElse("snappy")
      val specs = FixedWidthSource.parseSpecs(spec)
      val inputs = listByExt(spark, inPath, Seq(".txt", ".dat", ".fw"))
      Some(ConversionJob.run(
        inputs.map(f => CsvSource.baseName(f) ->
          (() => FixedWidthSource.read(spark, f, specs))),
        jobConfig(outDir, compression)))

    // Avro container-file path (beyond-reference input): read distributed
    // via avro-mapred's sync-marker-splittable input format — the
    // spark-avro datasource module is not on this deployment's classpath,
    // but the Avro core + mapred jars Spark itself depends on are.
    case "avro" :: inPath :: outDir :: rest if rest.length <= 1 =>
      val compression = rest.headOption.getOrElse("snappy")
      val inputs = listByExt(spark, inPath, Seq(".avro"))
      Some(ConversionJob.run(
        inputs.map(f => CsvSource.baseName(f) -> (() => AvroSource.read(spark, f))),
        jobConfig(outDir, compression)))

    // Snapshot-table maintenance surface (beyond-reference): the
    // versioned publishing layer (sinks.SnapshotTable — atomic commits,
    // time travel, copy-on-write merge, compaction, vacuum, change feed)
    // reached through the same argv contract as the conversion legs. A
    // real deployment's table operator lives in the CLI, not the library.
    case "table" :: op :: tableArgs =>
      import graft.sinks.SnapshotTable
      def rep(name: String, rows: Long, files: Int) =
        Some(JobReport(Seq(ConversionJob.TableResult(name, success = true,
          rows = rows, files = files, attempts = 1, error = None))))
      def name(dir: String) = new org.apache.hadoop.fs.Path(dir).getName
      (op, tableArgs) match {
        // commit <table_dir> <input_orc> <append|overwrite> [stats_cols]
        case ("commit", tableDir :: input :: mode :: rest) if rest.length <= 1 =>
          val statsCols = rest.headOption.map(_.split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq).getOrElse(Nil)
          val df = graft.sinks.OrcSink.read(spark, input)
          val v = SnapshotTable.commit(spark, df, tableDir, mode, statsCols)
          val (_, files, rows) = SnapshotTable.commitStats(spark, tableDir, v)
          rep(s"${name(tableDir)}@v$v", rows, files)
        // read <table_dir> <output_dir> [version] [compression=snappy]
        case ("read", tableDir :: outDir :: rest) if rest.length <= 2 =>
          val version = rest.headOption.filter(_ != "latest").map(_.toLong)
          val compression = rest.lift(1).getOrElse("snappy")
          Some(ConversionJob.run(
            Seq(name(tableDir) ->
              (() => SnapshotTable.read(spark, tableDir, version))),
            jobConfig(outDir, compression)))
        // merge <table_dir> <updates_orc> <key_col> [stats_cols]
        case ("merge", tableDir :: updates :: keyCol :: rest) if rest.length <= 1 =>
          val statsCols = rest.headOption.map(_.split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq).getOrElse(Seq(keyCol))
          val r = SnapshotTable.merge(spark,
            tableDir, graft.sinks.OrcSink.read(spark, updates), keyCol,
            statsCols)
          val (_, files, rows) = SnapshotTable.commitStats(spark, tableDir,
            r.version)
          rep(s"${name(tableDir)}@v${r.version} rewrote=${r.filesRewritten} " +
            s"carried=${r.filesCarried}", rows, files)
        // compact <table_dir> [target_mb=128] [cluster_by]
        case ("compact", tableDir :: rest) if rest.length <= 2 =>
          val targetBytes = rest.headOption.map(_.toLong << 20)
            .getOrElse(128L << 20)
          val v = SnapshotTable.compact(spark, tableDir, targetBytes,
            clusterBy = rest.lift(1))
          val (_, files, rows) = SnapshotTable.commitStats(spark, tableDir, v)
          rep(s"${name(tableDir)}@v$v", rows, files)
        // delete <table_dir> <key_col> <lo> <hi> — numeric bounds range-
        // delete numerically; anything else is a string range in UTF-8
        // order (url/tenant/date-string keys)
        case ("delete", tableDir :: keyCol :: lo :: hi :: Nil) =>
          val range = (lo.toDoubleOption, hi.toDoubleOption) match {
            case (Some(dLo), Some(dHi)) => graft.sinks.KeyRange.Num(dLo, dHi)
            case _ => graft.sinks.KeyRange.Utf8(lo, hi)
          }
          val r = SnapshotTable.delete(spark, tableDir, keyCol, range)
          rep(s"${name(tableDir)}@v${r.version} deleted=${r.rowsDeleted} " +
            s"rewrote=${r.filesRewritten} carried=${r.filesCarried}",
            r.rowsDeleted, r.filesRewritten)
        // delete-keys <table_dir> <key_col> <k1,k2,...> — MERGE-ON-READ
        // equality delete: one key sidecar + a rowdelete commit, ZERO
        // data-file rewrites at any table size (the point-delete
        // complement to the range `delete` above; `compact` later
        // materializes it). Keys are cast to the column's type.
        case ("delete-keys", tableDir :: keyCol :: keysCsv :: Nil) =>
          import spark.implicits._
          val keys = keysCsv.split(',').map(_.trim).filter(_.nonEmpty)
            .toSeq.toDF(keyCol)
          val r = SnapshotTable.deleteByKeys(spark, tableDir, keyCol, keys)
          // debt-triggered maintenance (VERDICT r15 #4): honor the
          // table's own graft.maintenance.maxDeleteFiles threshold
          val maintained = SnapshotTable.maybeCompactByDebt(spark, tableDir)
            .map(v => s" auto-compacted@v$v").getOrElse("")
          rep(s"${name(tableDir)}@v${r.version} mor-delete " +
            s"keys=${r.keys} sidecar=${r.sidecarBytes}B$maintained",
            r.keys, if (r.keys > 0) 1 else 0)
        // set-prop <table_dir> <k=v[,k=v...]> — record table properties
        // as one empty append commit; declarations (update key,
        // partition spec) VALIDATE before landing. The CSV splits at
        // TOP-LEVEL commas only, and a token WITHOUT '=' re-joins the
        // previous pair's value (ADVICE r16): partition specs carry
        // commas both inside transforms (`bucket(8,id)`) and between
        // them (`identity(a),bucket(8,b)`) — the whole spec is ONE
        // k=v pair.
        case ("set-prop", tableDir :: kvCsv :: Nil) =>
          val kvs = graft.sinks.TablePartitioning.splitTopLevel(kvCsv)
            .foldLeft(Vector.empty[String]) { (acc, tok) =>
              if (acc.nonEmpty && !tok.contains('='))
                acc.init :+ s"${acc.last},$tok"
              else acc :+ tok
            }
            .map { kv =>
              val i = kv.indexOf('=')
              require(i > 0, s"expected k=v, got '$kv'")
              kv.take(i) -> kv.drop(i + 1)
            }.toMap
          val v = SnapshotTable.setTableProperties(spark, tableDir, kvs)
          rep(s"${name(tableDir)}@v$v set-prop ${kvs.keys.toSeq.sorted
            .mkString(",")}", 0L, 0)
        // maintain <table_dir> — debt-triggered compaction: compacts
        // IFF pending MOR delete sidecars exceed the table's own
        // graft.maintenance.maxDeleteFiles property; no-op otherwise
        case ("maintain", tableDir :: Nil) =>
          SnapshotTable.maybeCompactByDebt(spark, tableDir) match {
            case Some(v) =>
              val (_, files, rows) =
                SnapshotTable.commitStats(spark, tableDir, v)
              rep(s"${name(tableDir)}@v$v maintain compacted", rows, files)
            case None =>
              val debt = SnapshotTable.pendingDeletes(spark, tableDir).size
              rep(s"${name(tableDir)} maintain no-op debt=$debt", 0L, 0)
          }
        // cluster <table_dir> <z_cols_csv> [num_files] [volume_threshold]
        case ("cluster", tableDir :: zColsCsv :: rest) if rest.length <= 2 =>
          val zCols = zColsCsv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val r = SnapshotTable.cluster(spark, tableDir, zCols,
            numFiles = rest.headOption.map(_.toInt).getOrElse(0),
            volumeThreshold = rest.lift(1).map(_.toDouble).getOrElse(0.5))
          val (_, files, rows) = SnapshotTable.commitStats(spark, tableDir,
            r.version)
          rep(s"${name(tableDir)}@v${r.version} rewrote=${r.filesRewritten} " +
            s"carried=${r.filesCarried}", rows, files)
        // optimize <table_dir> <z_cols_csv> [target_mb=128] — OPTIMIZE
        // ZORDER: incremental z-order clustering (only poorly-shaped
        // files rewrite — see SnapshotTable.cluster) with the
        // established sort order RECORDED on the commit
        // (graft.sortOrder), so `describe` and future maintenance know
        // the table's layout contract. Pending merge-on-read deletes
        // touching rewritten files materialize as part of the rewrite.
        case ("optimize", tableDir :: zColsCsv :: rest) if rest.length <= 2 =>
          val zCols = zColsCsv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val targetBytes = rest.headOption.map(_.toLong << 20)
            .getOrElse(128L << 20)
          val r = SnapshotTable.cluster(spark, tableDir, zCols,
            targetBytes = targetBytes,
            numFiles = rest.lift(1).map(_.toInt).getOrElse(0))
          val order = SnapshotTable.tableProperties(spark, tableDir)
            .getOrElse("graft.sortOrder", "(none)")
          rep(s"${name(tableDir)}@v${r.version} optimize " +
            s"order=$order rewrote=${r.filesRewritten} " +
            s"carried=${r.filesCarried}",
            r.filesRewritten.toLong, r.filesRewritten)
        // describe <table_dir> — schema + recorded layout + MOR debt +
        // manifest tallies, all zero data I/O
        case ("describe", tableDir :: Nil) =>
          val schema = SnapshotTable.snapshotSchema(spark, tableDir, None)
          val (files, dels) = SnapshotTable.snapshotState(spark, tableDir,
            None)
          val props = SnapshotTable.tableProperties(spark, tableDir)
          val vs = SnapshotTable.versions(spark, tableDir)
          println(s"table: $tableDir")
          println(s"version: ${vs.lastOption.getOrElse(-1L)} " +
            s"(${vs.size} surviving)")
          println("schema:")
          schema match {
            case Some(st) => st.fields.foreach(f =>
              println(s"  ${f.name}: ${f.dataType.simpleString}"))
            case None => println("  (pre-schema-recording table)")
          }
          println(s"sort order: " +
            props.getOrElse("graft.sortOrder", "(none recorded)"))
          props.filterNot(_._1 == "graft.sortOrder").toSeq.sortBy(_._1)
            .foreach { case (k, v) => println(s"property: $k=$v") }
          println(f"files: ${files.size}%d  rows<=: " +
            f"${files.map(_.rows).sum}%d  bytes: ${files.map(_.bytes).sum}%d")
          if (dels.isEmpty) println("merge-on-read debt: none")
          else {
            println(s"merge-on-read debt: ${dels.size} pending delete " +
              s"sidecar(s), ${dels.map(_.rows).sum} keys, " +
              s"${dels.map(_.bytes).sum} bytes " +
              s"on [${dels.map(_.keyCol).distinct.mkString(", ")}] — " +
              "row counts are upper bounds until `table compact`")
          }
          rep(s"${name(tableDir)} describe", files.map(_.rows).sum,
            files.size)
        // restore <table_dir> <version|ts_ms> — rollback-as-new-commit:
        // a bare integer <= the current version is a version number;
        // anything larger is an epoch-millis timestamp (versionAsOf).
        // Zero data I/O either way; the undone versions remain
        // time-travelable until `expire`.
        case ("restore", tableDir :: at :: Nil) =>
          val cur = SnapshotTable.currentVersion(spark, tableDir)
            .getOrElse(-1L)
          val v =
            if (at.toLong <= cur) SnapshotTable.restore(spark, tableDir,
              at.toLong)
            else SnapshotTable.restoreAsOf(spark, tableDir, at.toLong)
          val (_, files, rows) = SnapshotTable.commitStats(spark, tableDir, v)
          rep(s"${name(tableDir)}@v$v restored", rows, files)
        // expire <table_dir> <keep_last | --older-than-hours N>
        case ("expire", tableDir :: "--older-than-hours" :: hours :: Nil) =>
          val cutoff = System.currentTimeMillis() -
            hours.toLong * 3600L * 1000L
          val expired = SnapshotTable.expireOlderThan(spark, tableDir, cutoff)
          rep(s"${name(tableDir)} expired=${expired.size}",
            expired.size.toLong, expired.size)
        case ("expire", tableDir :: keepLast :: Nil) =>
          val expired = SnapshotTable.expireVersions(spark, tableDir,
            keepLast.toInt)
          rep(s"${name(tableDir)} expired=${expired.size}",
            expired.size.toLong, expired.size)
        // vacuum <table_dir> [retention_hours=168] [--dry-run]
        // --dry-run prints the reclaim set with sizes and deletes
        // NOTHING — the operator-safety preview for the one
        // irreversible table op
        case ("vacuum", tableDir :: rest)
            if rest.filterNot(_ == "--dry-run").length <= 1 =>
          val dryRun = rest.contains("--dry-run")
          val retentionMs = rest.filterNot(_ == "--dry-run").headOption
            .map(_.toLong * 3600 * 1000)
            .getOrElse(7L * 24 * 3600 * 1000)
          if (dryRun) {
            val plan = SnapshotTable.vacuumPlan(spark, tableDir, retentionMs)
            plan.foreach { case (p, bytes) => println(f"$bytes%12d  $p") }
            println(s"DRY RUN: ${plan.size} files / " +
              s"${plan.map(_._2).sum} bytes would be reclaimed; " +
              "nothing deleted")
            rep(s"${name(tableDir)} vacuum --dry-run",
              plan.map(_._2).sum, plan.size)
          } else {
            val deleted = SnapshotTable.vacuum(spark, tableDir, retentionMs)
            rep(s"${name(tableDir)} vacuum", deleted.size.toLong, deleted.size)
          }
        // changes <table_dir> <from_version> <output_dir> [to_version]
        case ("changes", tableDir :: from :: outDir :: rest) if rest.length <= 1 =>
          val df = SnapshotTable.changesSince(spark, tableDir, from.toLong,
            rest.headOption.map(_.toLong))
          Some(ConversionJob.run(
            Seq(s"${name(tableDir)}_changes" -> (() => df)),
            jobConfig(outDir, "snappy")))
        // sync <src_table_dir> <dst_table_dir> [from_version=-1]
        case ("sync", srcDir :: dstDir :: rest) if rest.length <= 1 =>
          val cursor = SnapshotTable.syncAppends(spark, srcDir, dstDir,
            rest.headOption.map(_.toLong).getOrElse(-1L))
          val vs = SnapshotTable.versions(spark, dstDir)
          rep(s"${name(dstDir)} synced@src_v$cursor", vs.size.toLong, vs.size)
        // versions <table_dir> — log listing, no data read
        case ("versions", tableDir :: Nil) =>
          val vs = SnapshotTable.versions(spark, tableDir)
          vs.foreach { v =>
            val (action, files, rows) = SnapshotTable.commitStats(spark, tableDir, v)
            println(s"v$v $action files=$files rows=$rows")
          }
          rep(s"${name(tableDir)} versions", vs.size.toLong, vs.size)
        // history <table_dir> [--files] — DESCRIBE HISTORY: newest first,
        // commit wall-clock (monotonized), manifest tallies, txn stamps;
        // --files additionally lists each commit's ADDED manifest
        // entries (path/rows/bytes — EXPLAIN for the table log, zero
        // data I/O)
        case ("history", tableDir :: rest) if rest.forall(_ == "--files") &&
            rest.length <= 1 =>
          val withFiles = rest.nonEmpty
          val h = SnapshotTable.history(spark, tableDir)
          h.foreach { e =>
            val txn = e.txnApp.map(a => s" txn=$a:${e.txnSeq.get}").getOrElse("")
            println(s"v${e.version} ${e.action} ts=${e.timestampMs} " +
              s"files=${e.nFiles} rows=${e.rows}$txn")
            if (withFiles)
              SnapshotTable.commitFiles(spark, tableDir, e.version).foreach(
                f => println(f"  ${f.bytes}%12d ${f.rows}%10d  ${f.path}"))
          }
          rep(s"${name(tableDir)} history", h.size.toLong, h.size)
        // readasof <table_dir> <output_dir> <timestamp_ms> [compression]
        case ("readasof", tableDir :: outDir :: ts :: rest) if rest.length <= 1 =>
          val compression = rest.headOption.getOrElse("snappy")
          Some(ConversionJob.run(
            Seq(name(tableDir) ->
              (() => SnapshotTable.readAsOf(spark, tableDir, ts.toLong))),
            jobConfig(outDir, compression)))
        // cdf <table_dir> <from_version> <output_dir> [to_version] — the
        // row-level change data feed (_change_type/_commit_version/
        // _commit_timestamp) over any commit range, incl. DML rewrites
        case ("cdf", tableDir :: from :: outDir :: rest)
            if rest.length <= 1 =>
          Some(ConversionJob.run(
            Seq(s"${name(tableDir)}_cdf" ->
              (() => SnapshotTable.changeFeed(spark, tableDir,
                from.toLong, rest.headOption.map(_.toLong)))),
            jobConfig(outDir, "snappy")))
        // sql <statement> [output_dir] — one SQL statement with the graft
        // path catalog registered, so `graft.`/table/dir`` names any
        // snapshot table: SELECTs (incl. VERSION/TIMESTAMP AS OF) land in
        // output_dir as ORC or print without one; DML (INSERT INTO,
        // DELETE FROM, UPDATE, MERGE INTO, TRUNCATE TABLE) executes
        // through the same transactional commit protocol as the API.
        case ("sql", stmt :: rest) if rest.length <= 1 =>
          spark.conf.set("spark.sql.catalog.graft",
            "graft.sources.SnapshotTableCatalog")
          rest.headOption match {
            case Some(outDir) =>
              Some(ConversionJob.run(
                Seq("sql" -> (() => spark.sql(stmt))),
                jobConfig(outDir, "snappy")))
            case None =>
              val df = spark.sql(stmt) // DML executes eagerly here
              val rows = df.count()
              if (rows > 0) df.show(20, truncate = false)
              rep(s"sql rows=$rows", rows, 0)
          }
        case _ =>
          System.err.println(
            """usage: table <op> ...
              |  table commit  <table_dir> <input_orc> <append|overwrite> [stats_cols]
              |  table read    <table_dir> <output_dir> [version|latest] [compression=snappy]
              |  table merge   <table_dir> <updates_orc> <key_col> [stats_cols]
              |  table delete  <table_dir> <key_col> <lo> <hi>   (non-numeric bounds: lexicographic)
              |  table delete-keys <table_dir> <key_col> <k1,k2,...>   (merge-on-read: zero data rewrites)
              |  table compact <table_dir> [target_mb=128] [cluster_by]
              |  table cluster <table_dir> <z_cols_csv> [num_files] [volume_threshold=0.5]
              |  table optimize <table_dir> <z_cols_csv> [target_mb=128] [num_files]   (z-order, sort order recorded)
              |  table describe <table_dir>   (schema + layout + merge-on-read debt)
              |  table maintain <table_dir>   (compact iff MOR debt exceeds graft.maintenance.maxDeleteFiles)
              |  table set-prop <table_dir> <k=v[,k=v...]>   (record table properties; declarations validate)
              |  table restore <table_dir> <version|ts_ms>
              |  table expire  <table_dir> <keep_last | --older-than-hours N>
              |  table vacuum  <table_dir> [retention_hours=168] [--dry-run]
              |  table changes <table_dir> <from_version> <output_dir> [to_version]
              |  table cdf     <table_dir> <from_version> <output_dir> [to_version]   (row-level change feed incl. rewrites)
              |  table sync    <src_table_dir> <dst_table_dir> [from_version=-1]
              |  table versions <table_dir>
              |  table history <table_dir> [--files]
              |  table readasof <table_dir> <output_dir> <timestamp_ms> [compression=snappy]
              |  table sql     <statement> [output_dir]   (graft.`/table/dir` names snapshot tables;
              |                SELECT/INSERT/DELETE/UPDATE/MERGE/TRUNCATE)""".stripMargin)
          None
      }

    // read-back integration (reference README.md:191-218 mounts the
    // converted dirs as Presto/Spark external tables, DDL left to the
    // user): print CREATE-TABLE DDL per converted table dir, schema
    // taken from the written ORC footers so the mount can't drift
    case "ddl" :: convOutDir :: rest if rest.length <= 1 =>
      val dialect = rest.headOption.getOrElse("spark")
      val ddls = graft.sinks.CatalogDdl.forOutputDir(spark, convOutDir, dialect)
      if (ddls.isEmpty) {
        System.err.println(s"no table directories under $convOutDir")
        None
      } else {
        ddls.foreach { case (name, stmt) =>
          println(stmt + ";")
          // a freshly mounted PARTITIONED location serves zero rows until
          // the metastore syncs the key=value dirs — print the sync step
          graft.sinks.CatalogDdl.repairStatement(name, dialect,
              partitioned = stmt.contains("PARTITIONED BY") ||
                stmt.contains("partitioned_by"))
            .foreach(r => println(r + ";"))
        }
        Some(JobReport(ddls.map { case (n, _) =>
          ConversionJob.TableResult(n, success = true, rows = 0L,
            files = 0, attempts = 1, error = None)
        }))
      }

    // reverse direction (beyond-reference): ORC table dir -> csv/jsonl
    // export, the interchange formats a downstream consumer asks for
    case "export" :: orcDir :: outDir :: fmt :: rest if rest.length <= 1 =>
      require(Seq("csv", "jsonl", "parquet", "sql", "xml", "avro",
        "fixedwidth").contains(fmt.toLowerCase),
        s"export format must be csv|jsonl|parquet|sql|xml|avro|fixedwidth, got $fmt")
      val compression = rest.headOption.getOrElse("none")
      val df = graft.sinks.OrcSink.read(spark, orcDir)
      val name = new org.apache.hadoop.fs.Path(orcDir).getName
      if (fmt.toLowerCase == "fixedwidth") {
        // positional export needs the column layout (the 4th argument is
        // the layout, not a codec — fixed-width is plain text)
        val spec = rest.headOption.getOrElse(throw new IllegalArgumentException(
          "fixedwidth export requires a layout: name:width:type,..."))
        val specs = sources.FixedWidthSource.parseSpecs(spec)
        sources.FixedWidthSource.write(
          df.select(specs.map(sp => org.apache.spark.sql.functions.col(sp.name)): _*),
          s"$outDir/$name", specs)
        val outPath = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = fs.listStatus(outPath)
          .count(f => !f.getPath.getName.startsWith("_"))
        return Some(JobReport(Seq(ConversionJob.TableResult(name,
          success = true, rows = df.count(), files = files, attempts = 1,
          error = None))))
      }
      if (fmt.toLowerCase == "sql") {
        // mysqldump-style export (distributed multi-part; SqlDumpSink doc)
        val (rows, files) = graft.sinks.SqlDumpSink.write(df, outDir, name)
        return Some(JobReport(Seq(ConversionJob.TableResult(name,
          success = true, rows = rows, files = files, attempts = 1,
          error = None))))
      }
      if (fmt.toLowerCase == "avro") {
        // container files, one per partition, executor-side (AvroSource)
        val rows = AvroSource.writeDistributed(df, s"$outDir/$name")
        return Some(JobReport(Seq(ConversionJob.TableResult(name,
          success = true, rows = rows,
          files = df.rdd.getNumPartitions, attempts = 1, error = None))))
      }
      val w = df.write.mode("overwrite")
      val w2 = if (compression.toLowerCase == "none") w
        else w.option("compression", compression.toLowerCase)
      fmt.toLowerCase match {
        case "csv" => w2.option("header", true).csv(s"$outDir/$name")
        // parquet's writer default is snappy, so "none" must be passed
        // through explicitly (csv/json default to uncompressed already)
        case "parquet" => (if (compression.toLowerCase == "none")
          w.option("compression", "none") else w2).parquet(s"$outDir/$name")
        // Spark 4 built-in XML writer (SPARK-44265); row tag matches the
        // xml INPUT leg's default so an export re-imports as-is
        case "xml" => XmlSource.write(df, s"$outDir/$name")
        case _ => w2.json(s"$outDir/$name")
      }
      // report describes the WRITTEN output: rows from the constructed
      // frame (one source scan), files from the actual output listing
      val outPath = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(outPath)
        .count(f => !f.getPath.getName.startsWith("_"))
      Some(JobReport(Seq(ConversionJob.TableResult(name, success = true,
        rows = df.count(), files = files, attempts = 1, error = None))))

    case _ =>
      System.err.println(
        """usage:
          |  mysql <host> <port> <user> <password> <database> <output_dir> <compression> <tables>
          |  dump  <sql_file> <output_dir> [compression=snappy] [tables=all]
          |  pgdump <sql_file> <output_dir> [compression=snappy] [tables=all]
          |  export <orc_table_dir> <output_dir> <csv|jsonl|parquet|sql|xml|avro|fixedwidth> [compression=none]
          |        (sql/xml/avro exports ignore the compression argument;
          |         fixedwidth takes a layout name:width:type,... instead)
          |  csv   <csv_path> <output_dir> [delimiter=,|auto] [has_header=true] [compression=snappy]
          |        (delimiter=auto sniffs delimiter AND header per file)
          |  xml   <xml_path> <output_dir> [row_tag=row] [compression=snappy]
          |        (empty elements read as empty strings, not NULL —
          |         absent elements are NULL)
          |  jsonl <json_path> <output_dir> [compression=snappy]
          |  fixedwidth <path> <output_dir> <name:width:type,...> [compression=snappy]
          |  parquet <parquet_path> <output_dir> [compression=snappy]
          |  avro  <avro_path> <output_dir> [compression=snappy]
          |  table <commit|read|merge|delete|compact|cluster|restore|expire|vacuum|changes|sync|versions> ...
          |        (versioned snapshot-table maintenance; `table` alone
          |         prints the per-op argument contract)
          |  ddl   <converted_output_dir> [spark|hive|trino]
          |        (print CREATE-TABLE DDL per converted table dir, schema
          |         from the written ORC footers)""".stripMargin)
      None
    }
  }

  /** File-vs-directory input expansion shared by the per-file legs
    * (jsonl/parquet/avro; csv/xml have their own in their sources): a file
    * is itself; a directory yields members matching `exts` (sorted for a
    * deterministic table order). A directory with NO matching members is
    * treated as one whole-directory table — the layout parquet datasets
    * ship in (a dir of part-files). */
  private def listByExt(spark: SparkSession, path: String, exts: Seq[String]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(p).isDirectory) Seq(path)
    else {
      // Spark-written part files (part-*) mean the DIRECTORY is the
      // table (one distributed write = one dataset) — converting each
      // part as its own table would shred it under meaningless names
      val members = fs.listStatus(p).map(_.getPath)
        .filter(f => exts.exists(f.getName.toLowerCase.endsWith) &&
          !f.getName.startsWith("part-"))
        .map(_.toString).toSeq.sorted
      if (members.nonEmpty) members else Seq(path)
    }
  }

  private def tableSelection(spec: String, all: () => Seq[String]): Seq[String] = {
    val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (names.isEmpty || names.map(_.toLowerCase).contains("all")) all() else names
  }
}
