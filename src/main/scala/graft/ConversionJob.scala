package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.sinks.OrcSink
import graft.sources.SqlDumpSource.DecodeFailure

/** Conversion orchestration (reference P1-P5, SURVEY.md §2.5).
  *
  * The reference runs a 4-thread pool over tables with per-table try/except
  * isolation and a success tally (`/root/reference/data_to_orc_converter.sh:
  * 258-278`), plus a declared-but-unwired auto-retry (README.md:52) and
  * PARALLEL_WORKERS env (README.md:161) — both honored for real here.
  *
  * Log shape parity: every message is timestamped and teed to the
  * reference's log file (`data_to_orc.log`, sh:19 + 22-24), and table
  * exports emit incremental `Progress <table>: <n>/<total> rows` lines at
  * chunk granularity (sh:249 logs every CHUNK_SIZE rows). Here the chunk
  * lines come from real executor output metrics via a SparkListener —
  * cumulative records written by completed write tasks — not a driver-side
  * loop, so they stay truthful under distributed writes.
  *
  * Parallelism model: Spark already parallelizes *within* a table across
  * executors; the driver-side future pool only overlaps independent table
  * pipelines (useful when many small tables would leave the cluster idle).
  * All futures share one SparkSession — Spark schedules their jobs fairly.
  */
object ConversionJob {

  final case class JobConfig(
      outputDir: String,
      compression: String = "snappy", // reference default, sh:168-169
      parallelWorkers: Int = sys.env.get("PARALLEL_WORKERS").flatMap(s => Try(s.toInt).toOption).getOrElse(4),
      maxRecordsPerFile: Long = sys.env.get("CHUNK_SIZE").flatMap(s => Try(s.toLong).toOption).getOrElse(0L),
      retries: Int = 2,
      retryBackoffMs: Long = 1000,
      // progress line granularity (reference CHUNK_SIZE default, sh:192)
      progressChunk: Long = sys.env.get("CHUNK_SIZE").flatMap(s => Try(s.toLong).toOption).getOrElse(50000L),
      // reference tees every log line to data_to_orc.log (sh:19); None = console only
      logFile: Option[String] = Some(sys.env.getOrElse("GRAFT_LOG_FILE", "data_to_orc.log")),
      // resume mode: skip tables whose output directory already carries a
      // verified success marker matching the CURRENT source schema and an
      // intact part-file listing. A 500-table export that died at table
      // 400 re-runs 100 tables, not 500 (the multi-terabyte operability
      // gap — README.md:278). Default off: a plain re-run overwrites.
      resume: Boolean = sys.env.get("GRAFT_RESUME").exists(v =>
        v == "1" || v.equalsIgnoreCase("true")))

  final case class TableResult(table: String, success: Boolean, rows: Long,
                               files: Int, attempts: Int, error: Option[String])

  final case class JobReport(results: Seq[TableResult]) {
    def successes: Int = results.count(_.success)
    def total: Int = results.size
    /** Reference log shape: "Export completed: n/m tables successful" (sh:275). */
    def summary: String = s"Export completed: $successes/$total tables successful"
  }

  /** One table to convert: `frame` builds its rows lazily (building it
    * must run no job — resume reads only its schema). `rows` is the row
    * count when the source already knows it (it may run the source's own
    * decode job, and throws the source's failure to decode the table, a
    * [[DecodeFailure]], which fails the table with no retry); None makes
    * the conversion count the frame first. */
  final case class Table(name: String, frame: () => DataFrame,
                         rows: () => Option[Long] = () => None)

  /** Convert named tables (lazy DataFrame thunks) to ORC with per-table
    * isolation + bounded retry. Table order of the report is input order. */
  def run(tables: Seq[(String, () => DataFrame)], cfg: JobConfig): JobReport =
    run(tables.map { case (name, frame) => Table(name, frame) }, cfg, () => ())

  /** [[run]] over tables that may carry their source's row counts.
    * `release` frees what the source pinned for this conversion; it runs
    * when the conversion returns, on success or failure. */
  def run(tables: Seq[Table], cfg: JobConfig, release: () => Unit): JobReport =
    try {
      val logger = new JobLogger(cfg.logFile)
      val pool = Executors.newFixedThreadPool(math.max(1, cfg.parallelWorkers))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val futures = tables.map(t => Future(convertOne(t, cfg, logger)))
        val results = futures.map(f => Await.result(f, Duration.Inf))
        val report = JobReport(results)
        logger.log(report.summary)
        report
      } finally pool.shutdown()
    } finally release()

  private def convertOne(table: Table, cfg: JobConfig, logger: JobLogger): TableResult = {
    val name = table.name
    val frame = () => orcTyped(table.frame())
    if (cfg.resume) {
      resumeResult(name, frame, cfg, logger) match {
        case Some(r) => return r
        case None => ()
      }
    }
    var attempt = 0
    var lastError: Option[String] = None
    // a counted total is computed at most once: retries reuse the first
    // successful count instead of re-scanning the source per attempt
    var counted: Option[Long] = None
    while (attempt <= cfg.retries) {
      attempt += 1
      Try {
        val df = frame()
        val sc = df.sparkSession.sparkContext
        // the row count first, like the reference (sh:214-219), so progress
        // lines can report n/total: the source's own count when it has
        // one, else a count pass over the frame
        val known = table.rows()
        val total = known.orElse(counted).getOrElse {
          val n = df.count(); counted = Some(n); n
        }
        // job group is thread-local: it scopes the listener to THIS
        // table's write jobs even with parallel table futures
        val group = s"graft-convert-$name-${java.util.UUID.randomUUID()}"
        sc.setJobGroup(group, s"convert $name")
        val listener = new ProgressListener(name, total, math.max(1L, cfg.progressChunk),
          group, logger.log)
        sc.addSparkListener(listener)
        // a source-supplied count must match the footers' row sum
        try OrcSink.write(df, cfg.outputDir, name, cfg.compression, cfg.maxRecordsPerFile,
          expectedRows = known)
        finally { sc.removeSparkListener(listener); sc.clearJobGroup() }
      } match {
        case Success(r) =>
          // final progress + success lines (reference shape, sh:249-251)
          logger.log(s"Progress $name: ${fmt(r.rows)}/${fmt(r.rows)} rows")
          logger.log(s"Successfully exported $name to ${cfg.outputDir}/$name")
          return TableResult(name, success = true, r.rows, r.files, attempt, None)
        case Failure(e) =>
          lastError = Some(e.getMessage)
          logger.log(s"Error converting $name (attempt $attempt/${cfg.retries + 1}): ${e.getMessage}")
          // the source decoded the same rows and failed: another attempt
          // would fail the same way
          if (e.isInstanceOf[DecodeFailure])
            return TableResult(name, success = false, 0L, 0, attempt, lastError)
          if (attempt <= cfg.retries) Thread.sleep(cfg.retryBackoffMs * attempt)
      }
    }
    TableResult(name, success = false, 0L, 0, attempt, lastError)
  }

  /** ORC has no wall-clock timestamp type: Spark writes TIMESTAMP_NTZ as
    * ORC `bigint` micros that only Spark reads back as a timestamp (parquet
    * timestamps not adjusted to UTC, as DuckDB and pandas write them, read
    * as NTZ). Top-level NTZ columns are cast to TIMESTAMP, which keeps the
    * wall-clock value in the session time zone (UTC in every entry point). */
  private def orcTyped(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    if (ntz.isEmpty) df
    else df.withColumns(ntz.map(c =>
      c -> df.col(s"`${c.replace("`", "``")}`").cast(TimestampType)).toMap)
  }

  /** Resume check for one table: Some(result) = the prior export stands
    * (marker present, part files intact, CURRENT source schema identical
    * to the exported one — upstream drift forces a re-export). The check
    * reads only the marker + a directory listing and the source's SCHEMA
    * (plan-time for files, one metadata query for JDBC) — never data.
    * attempts = 0 marks a skip in the tally; any check failure falls
    * through to a normal (re-)export. */
  private def resumeResult(name: String, thunk: () => DataFrame, cfg: JobConfig,
                           logger: JobLogger): Option[TableResult] =
    Try {
      val df = thunk()
      val dir = s"${cfg.outputDir}/$name"
      OrcSink.readMarker(df.sparkSession, dir).flatMap { m =>
        if (m.schemaDdl == df.schema.toDDL &&
            OrcSink.markerHolds(df.sparkSession, dir, m)) {
          logger.log(s"Skipping $name: output already verified " +
            s"(${fmt(m.rows)} rows, ${m.files} files) [resume]")
          Some(TableResult(name, success = true, m.rows, m.files,
            attempts = 0, None))
        } else None
      }
    }.toOption.flatten

  /** Thousands-separated count, matching the reference's `{n:,}` (sh:249). */
  private def fmt(n: Long): String = String.format(java.util.Locale.US, "%,d", n)

  /** Incremental progress from executor output metrics: tracks the stages
    * of this table's job group and logs cumulative records written each
    * time the count crosses a chunk boundary. The final (n == total) line
    * is emitted synchronously by convertOne, so listener-bus lag can never
    * lose the completion message. */
  private final class ProgressListener(table: String, total: Long, chunk: Long,
                                       group: String, logFn: String => Unit)
      extends SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val cum = new java.util.concurrent.atomic.AtomicLong(0)
    private val nextMark = new java.util.concurrent.atomic.AtomicLong(chunk)
    // per-(stage, partition) max written: retried/speculative duplicate
    // attempts would otherwise double-count and overshoot the total
    private val perPartition =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
        j.stageIds.foreach(id => stages.add(id))

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stages.contains(t.stageId)) {
        val written = Option(t.taskMetrics).map(_.outputMetrics.recordsWritten).getOrElse(0L)
        if (written > 0) {
          val key: java.lang.Long =
            (t.stageId.toLong << 32) | (t.taskInfo.index.toLong & 0xffffffffL)
          var delta = 0L
          perPartition.compute(key, (_, prev) => {
            val p: Long = if (prev == null) 0L else prev
            delta = math.max(p, written) - p
            math.max(p, written)
          })
          if (delta == 0) return
          val c = cum.addAndGet(delta)
          var mark = nextMark.get()
          if (c >= mark && c < total) {
            while (mark <= c) mark += chunk
            nextMark.set(mark)
            logFn(s"Progress $table: ${fmt(c)}/${fmt(total)} rows")
          }
        }
      }
  }
}

/** Timestamped console logger teed to the reference's log file
  * (`data_to_orc.log`; sh:19 + 22-24 `log()` is `echo | tee -a LOG_FILE`).
  * Append is synchronized — table futures log concurrently. */
private[graft] final class JobLogger(logFile: Option[String]) {
  def log(msg: String): Unit = {
    val ts = java.time.LocalDateTime.now().format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val line = s"[$ts] $msg"
    println(line)
    logFile.foreach { f =>
      synchronized {
        val w = new java.io.FileWriter(f, true)
        try w.write(line + System.lineSeparator()) finally w.close()
      }
    }
  }
}
