package convbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.Cli
import graft.operators.Dedup
import graft.sinks.{OrcSink, SnapshotTable}
import graft.sources.SqlDumpSource

/** Drives one workload of the converter benchmark in-process, through the
  * program's public functions, and writes what it measured and produced to
  * `result.json` in the run directory. `run.py` prepares the plan (inputs,
  * operation count, read-back queries) and checks the outputs afterwards.
  *
  * {{{
  * java -cp <classes>:<spark jars> convbench.Main <plan.json>
  * }}}
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  final case class Plan(workload: String, trace: Boolean, ops: Int, warmOps: Int,
                        runDir: String, cores: Int,
                        main: JValue, queries: Seq[Query],
                        dedup: Map[String, Double])
  final case class Query(name: String, sql: String)

  /** Hadoop block size of the local filesystem, which sets the input
    * split size of a dump read through `TextInputFormat`. The benchmark's
    * 4.4 MB dump is smaller than the 32 MB default, so it would be read as
    * one split per pass; at 1 MB it spans about five, as a multi-GB export
    * spans many 32 MB splits, and the decode and write run in parallel. */
  val LocalBlockBytes: Long = 1L << 20

  /** What one operation measured and produced. */
  final class Op {
    var seconds = 0.0
    var sourceRows = 0L
    var outDir = ""
    var outBytes = 0L
    var outRows = 0L
    // (kind, seconds) of every timed read and commit
    val reads = mutable.ArrayBuffer.empty[(String, Double)]
    val commits = mutable.ArrayBuffer.empty[(String, Double)]
    val results = mutable.LinkedHashMap.empty[String, Any]
    var window: (Long, Long) = (0L, 0L)
    def toMap: Map[String, Any] = Map("seconds" -> seconds,
      "source_rows" -> sourceRows, "out_dir" -> outDir,
      "out_bytes" -> outBytes, "out_rows" -> outRows,
      "read_s" -> reads.map(r => Seq(r._1, r._2)).toSeq,
      "commit_s" -> commits.map(c => Seq(c._1, c._2)).toSeq, "results" -> results.toMap)
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = JsonMethods.parse(new String(Files.readAllBytes(new File(args(0)).toPath),
      StandardCharsets.UTF_8)).extract[Plan]
    val wl = workloads(plan.workload)
    // set-up: JVM start to a session that has run the warm-up operations
    // (class loading, JIT, codegen) -- what a user pays before conversions
    // run at full speed
    val spark = session(plan)
    (0 until plan.warmOps).foreach(i => wl(spark, plan, plan.main, s"warm$i", None))
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0)
    if (!plan.trace)
      out("ops") = (0 until plan.ops).map(i => wl(spark, plan, plan.main, s"op$i", None).toMap)
    else {
      // traced and untraced operations alternate, each pair in the other
      // order, so the tracing overhead is not confused with warm-up drift
      val tr = new Trace
      val sc = spark.sparkContext
      val untraced = mutable.ArrayBuffer.empty[Op]
      val traced = mutable.ArrayBuffer.empty[Op]
      for (i <- 0 until plan.ops) {
        def plain(): Unit = untraced += wl(spark, plan, plan.main, s"op$i", None)
        def withTrace(): Unit = {
          sc.addSparkListener(tr)
          try traced += wl(spark, plan, plan.main, s"traced$i", Some(tr))
          finally { org.apache.spark.BusDrain(sc); sc.removeSparkListener(tr) }
        }
        if (i % 2 == 0) { plain(); withTrace() } else { withTrace(); plain() }
      }
      out("ops") = untraced.map(_.toMap).toSeq
      out("traced_ops") = traced.map(_.toMap).toSeq
      sc.addSparkListener(tr)
      out("layers") = layerMetrics(spark, plan, tr, traced.toSeq)
      org.apache.spark.BusDrain(sc)
      out("jobs") = tr.jobsIn(0L, Long.MaxValue).map(j => Map("id" -> j.id,
        "layer" -> tr.layer(j), "ms" -> (j.end - j.start),
        "site" -> j.site.linesIterator.take(4).mkString(" | ")))
    }
    spark.stop()
    Files.write(new File(plan.runDir, "result.json").toPath,
      Serialization.write(out).getBytes(StandardCharsets.UTF_8))
  }

  def session(plan: Plan): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName(s"convbench-${plan.workload}")
      .config("spark.sql.shuffle.partitions", plan.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${plan.runDir}/spark-warehouse")
      .config("spark.local.dir", s"${plan.runDir}/spark-local")
      .config("spark.hadoop.fs.local.block.size", LocalBlockBytes.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One operation on input `in`, writing under `runDir/<tag>`. */
  type Workload = (SparkSession, Plan, JValue, String, Option[Trace]) => Op

  val workloads: Map[String, Workload] = Map(
    "dump_ingest" -> dumpIngest, "corpus_dedup" -> corpusDedup)

  private def secs[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  private def span[T](tr: Option[Trace], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  private def str(v: JValue, k: String): String = (v \ k).extract[String]

  /** Bytes of the ORC part files under `dir`. */
  private def orcBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var b = 0L
    while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".orc")) b += f.getLen }
    b
  }

  private def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq.map(cell))

  /** Register each converted table as a view and run each read-back
    * query once, timed. */
  private def readBack(spark: SparkSession, plan: Plan, outDir: String,
                       tables: Seq[String], op: Op, tr: Option[Trace]): Unit = {
    tables.foreach(t => OrcSink.read(spark, s"$outDir/$t").createOrReplaceTempView(t))
    plan.queries.foreach { q =>
      op.results(s"query:${q.name}") = timedRead(op, q.name)(
        span(tr, "orcread")(rows(spark.sql(q.sql))))
    }
  }

  /** A read, timed under `kind`; its result is kept for the checker. */
  private def timedRead[T](op: Op, kind: String)(read: => T): T = {
    val (res, s) = secs(read)
    op.reads += kind -> s
    res
  }

  /** Publish one converted table as a snapshot-table version through the
    * CLI's `table commit`, timing the commit. */
  private def publish(spark: SparkSession, src: String, tableDir: String,
                      key: String, op: Op, tr: Option[Trace]): Unit = {
    val (rep, s) = secs(span(tr, "publish")(
      Cli.run(spark, Seq("table", "commit", tableDir, src, "append", key))))
    require(rep.exists(r => r.successes == r.total && r.total == 1),
      s"table commit failed: $rep")
    op.commits += "publish" -> s
    op.results("published_rows") = rep.get.results.head.rows
  }

  /** `Cli.run` converts the dump. In a traced run, read-back queries then
    * run on the written ORC, and `orders` is published as a snapshot table
    * that the seeded script changes and scans. */
  def dumpIngest: Workload = (spark, plan, in, tag, tr) => {
    val op = new Op
    op.outDir = s"${plan.runDir}/$tag"
    val tables = (in \ "rows").extract[Map[String, Long]]
    op.sourceRows = tables.values.sum
    val t0 = System.currentTimeMillis()
    val (rep, s) = secs(span(tr, "cli")(
      Cli.run(spark, Seq("dump", str(in, "path"), op.outDir, "snappy", "all"))))
    op.seconds = s
    require(rep.exists(r => r.total == tables.size && r.successes == r.total),
      s"conversion failed: $rep")
    op.results("report") = rep.get.results.map(r => Map("table" -> r.table, "rows" -> r.rows,
      "files" -> r.files)).toSeq
    op.outRows = rep.get.results.map(_.rows).sum
    op.outBytes = orcBytes(spark, op.outDir)
    if (plan.trace) {
      readBack(spark, plan, op.outDir, tables.keys.toSeq, op, tr)
      val published = s"${plan.runDir}/$tag-published"
      publish(spark, s"${op.outDir}/orders", published, "o_orderkey", op, tr)
      churn(spark, plan, published, (in \ "script").extract[Seq[JValue]], op, tr)
    }
    op.window = (t0, System.currentTimeMillis())
    op
  }

  /** The seeded script of merges, deletes and pruned range scans against a
    * published snapshot table, then the table read back whole. */
  private def churn(spark: SparkSession, plan: Plan, dir: String, script: Seq[JValue],
                    op: Op, tr: Option[Trace]): Unit = {
    val key = "o_orderkey"
    val frames = script.map(s => (s \ "path").extractOpt[String].map(spark.read.parquet(_)))
    val scans = mutable.ArrayBuffer.empty[Any]
    var rewritten = 0L
    script.zip(frames).foreach { case (step, frame) =>
      (step \ "kind").extract[String] match {
        case "scan" =>
          val lo = (step \ "lo").extract[Long]
          val hi = (step \ "hi").extract[Long]
          scans += timedRead(op, "scan") {
            val (df, kept, total) = span(tr, "snapshot.plan")(
              SnapshotTable.scanPruned(spark, dir, key, lo.toDouble, hi.toDouble))
            val agg = span(tr, "snapshot.scan")(rows(df.agg(count(lit(1)), sum(col(key)),
              sum(col("o_totalprice").cast("decimal(18,4)")), sum(col("o_shippriority")),
              min(col(key)), max(col(key)))).head)
            Map("lo" -> lo, "hi" -> hi, "agg" -> agg, "kept" -> kept, "total" -> total)
          }
        case "delete" =>
          import spark.implicits._
          val keys = (step \ "keys").extract[Seq[Long]].toDF(key)
          val (_, s) = secs(span(tr, "snapshot.commit")(
            SnapshotTable.deleteByKeys(spark, dir, key, keys)))
          op.commits += "delete" -> s
        case "merge" =>
          val (r, s) = secs(span(tr, "snapshot.commit")(
            SnapshotTable.merge(spark, dir, frame.get, key, Seq(key))))
          rewritten += r.filesRewritten
          op.commits += "merge" -> s
      }
    }
    // the final state, written as plain ORC for the checker
    SnapshotTable.read(spark, dir).write.mode("overwrite").orc(s"$dir-final")
    op.results("scans") = scans.toSeq
    op.results("final_dir") = s"$dir-final"
    op.results("files_rewritten") = rewritten
    if (tr.nonEmpty) {
      op.results("live_files") = SnapshotTable.snapshotFiles(spark, dir).size
      op.results("versions") = SnapshotTable.versions(spark, dir).size
    }
  }

  /** Exact groups, verified MinHash pairs, canonical survivors written as
    * ORC; in a traced run, then a read-back of the survivors. */
  def corpusDedup: Workload = (spark, plan, in, tag, tr) => {
    val op = new Op
    op.outDir = s"${plan.runDir}/$tag"
    val docs = spark.read.parquet(str(in, "path"))
    op.sourceRows = (in \ "rows" \ "docs").extract[Long]
    val k = plan.dedup("k").toInt
    val bands = plan.dedup("bands").toInt
    val shingle = plan.dedup("shingle").toInt
    val threshold = plan.dedup("threshold")
    val t0 = System.currentTimeMillis()
    val (_, s) = secs {
      val exact = span(tr, "dedup.exact")(rows(
        Dedup.exactDedupGroups(docs, "id", "text").filter(col("n_copies") > 1)
          .select("keep_id", "n_copies")))
      val pairRows = span(tr, "dedup.minhash")(
        Dedup.minhashVerifiedPairs(docs, "id", "text", k = k, shingleSize = shingle,
          bands = bands, threshold = threshold).collect().toSeq)
      val pairs = spark.createDataFrame(
        java.util.Arrays.asList(pairRows.map(r => Row(r.getLong(0), r.getLong(1))): _*),
        org.apache.spark.sql.types.StructType.fromDDL("a_id BIGINT, b_id BIGINT"))
      val survivors = Dedup.keepCanonical(docs, pairs, "id")
      op.outRows = writeSurvivors(survivors, op, tr).rows
      op.results("exact") = exact
      op.results("banding_recall") = (in \ "near_j").extract[Seq[Double]]
        .map(j => Dedup.bandingRecall(j, k, bands))
      op.results("pairs") = pairRows.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    op.seconds = s
    op.outBytes = orcBytes(spark, s"${op.outDir}/survivors")
    op.results("survivors_dir") = s"${op.outDir}/survivors"
    if (plan.trace)
      op.results("query:survivors") = timedRead(op, "survivors")(span(tr, "orcread")(rows(
        OrcSink.read(spark, s"${op.outDir}/survivors")
          .agg(count(lit(1)), sum(col("id")), sum(length(col("text")))))))
    op.window = (t0, System.currentTimeMillis())
    op
  }

  /** Write the survivors as ORC to `survivors`, timed as a commit. */
  private def writeSurvivors(survivors: DataFrame, op: Op,
                             tr: Option[Trace]): OrcSink.WriteReport = {
    val (rep, s) = secs(span(tr, "dedup.write")(
      OrcSink.write(survivors, op.outDir, "survivors")))
    op.commits += "write" -> s
    rep
  }

  // ---- traced run: per-layer figures ----------------------------------

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics: each is computed per traced operation and the
    * median over operations is reported. */
  def layerMetrics(spark: SparkSession, plan: Plan, tr: Trace,
                   traced: Seq[Op]): Map[String, Double] = {
    val perOp = traced.map { op =>
      val (from, to) = op.window
      val m = mutable.LinkedHashMap.empty[String, Double]
      val js = tr.jobsIn(from, to)
      def jobsOf(layer: String) = js.filter(j => tr.layer(j) == layer)
      def spanS(name: String) = tr.spansNamed(name, from, to).map(
        s => (s.end - s.start) / 1000.0).sum
      m ++= tr.engine(from, to)
      m("engine.peak_rss_mb") = Trace.peakRssMb()
      // sources: jobs launched by the readers themselves (schema and
      // table discovery); decode itself runs inside later count/write jobs
      m("sources.discover_s") = tr.unionSeconds(jobsOf("sources.dump") ++ jobsOf("cli"), to)
      // input read by the conversion inside `Cli.run` alone: the later
      // ORC read-backs, publish and script read no dump bytes
      val cliSpan = tr.spansNamed("cli", from, to).headOption
      val cliJobs = cliSpan.map(s => tr.jobsIn(s.start, s.end)).getOrElse(Nil)
      val cliTasks = tr.tasksOf(cliJobs)
      val inputBytes = (plan.main \ "input_bytes").extractOpt[Long].getOrElse(0L)
      m("sources.input_passes") =
        if (inputBytes > 0) cliTasks.map(_.inBytes).sum.toDouble / inputBytes else 0.0
      m("sources.decode_tasks") = cliTasks.count(_.inBytes > 0).toDouble
      // ConversionJob
      val countJobs = jobsOf("conversion")
      m("conversion.count_s") = tr.unionSeconds(countJobs, to)
      m("conversion.jobs") = cliJobs.size.toDouble
      m("conversion.driver_gap_s") = cliSpan.map(s =>
        math.max(0.0, (s.end - s.start) / 1000.0 - tr.unionSeconds(cliJobs, s.end))).getOrElse(0.0)
      // OrcSink
      val writeJobs = jobsOf("orcsink.write")
      val writeTasks = tr.tasksOf(writeJobs).filter(_.outBytes > 0)
      m("orcsink.write_s") = tr.unionSeconds(writeJobs, to)
      m("orcsink.write_tasks") = writeTasks.size.toDouble
      m("orcsink.write_max_task_s") =
        if (writeTasks.isEmpty) 0.0 else writeTasks.map(_.durMs).max / 1000.0
      // read path
      val readJobs = tr.spansNamed("orcread", from, to).flatMap(s => tr.jobsIn(s.start, s.end))
      val readTasks = tr.tasksOf(readJobs)
      m("orcread.bytes_mb") = readTasks.map(_.inBytes).sum / 1048576.0
      m("orcread.tasks") = readTasks.size.toDouble
      // snapshot table
      val commitSpans = tr.spansNamed("snapshot.commit", from, to) ++
        tr.spansNamed("publish", from, to)
      val perCommit = commitSpans.map { s =>
        val cj = tr.jobsIn(s.start, s.end)
        (cj.size.toDouble, math.max(0.0, (s.end - s.start) / 1000.0 - tr.unionSeconds(cj, s.end)))
      }
      m("snapshot.commit_jobs") = median(perCommit.map(_._1))
      m("snapshot.commit_driver_gap_s") = median(perCommit.map(_._2))
      m("snapshot.plan_s") = median(tr.spansNamed("snapshot.plan", from, to).map(
        s => (s.end - s.start) / 1000.0))
      val scanJobs = tr.spansNamed("snapshot.scan", from, to).flatMap(s => tr.jobsIn(s.start, s.end))
      m("snapshot.scan_bytes_mb") = tr.tasksOf(scanJobs).map(_.inBytes).sum / 1048576.0
      op.results.get("scans").foreach { sc =>
        val ratios = sc.asInstanceOf[Seq[Map[String, Any]]].map(x =>
          x("kept").asInstanceOf[Int].toDouble / math.max(1, x("total").asInstanceOf[Int]))
        m("snapshot.files_kept_ratio") = median(ratios)
      }
      Seq("versions", "files_rewritten", "live_files").foreach(k =>
        op.results.get(k).foreach(v => m(s"snapshot.$k") = v.toString.toDouble))
      // dedup
      Seq("exact", "minhash").foreach(k => m(s"dedup.${k}_s") = spanS(s"dedup.$k"))
      m("dedup.write_s") = median(tr.spansNamed("dedup.write", from, to).map(
        s => (s.end - s.start) / 1000.0))
      m
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    perOp.flatMap(_.keys).distinct.foreach(k => out(k) = median(perOp.flatMap(_.get(k))))
    // probes beyond the operations, each wrapping one public call
    val extra = plan.workload match {
      case "dump_ingest" => sourceProbes(spark, plan, traced.head)
      case "corpus_dedup" => dedupProbes(spark, plan, traced.head)
      case _ => Map.empty[String, Double]
    }
    (out ++ extra).toMap
  }

  /** Decode every table of the dump with no ORC write, and re-run write
    * verification on the converted output. */
  private def sourceProbes(spark: SparkSession, plan: Plan, op: Op): Map[String, Double] = {
    val tables = (plan.main \ "rows").extract[Map[String, Long]].keys.toSeq.sorted
    val (_, decodeS) = secs(SqlDumpSource.parse(spark, str(plan.main, "path")).values
      .foreach(_.write.format("noop").mode("overwrite").save()))
    val (_, verifyS) = secs(tables.foreach(t =>
      OrcSink.verify(spark, s"${op.outDir}/$t", t)))
    val files = tables.map { t =>
      val p = new Path(s"${op.outDir}/$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .count(_.getPath.getName.endsWith(".orc"))
    }.sum
    Map("sources.decode_s" -> decodeS, "orcsink.verify_s" -> verifyS,
      "orcsink.files" -> files.toDouble, "orcsink.bytes_mb" -> op.outBytes / 1048576.0)
  }

  /** Candidate pairs of the banding join, against the verified pairs. */
  private def dedupProbes(spark: SparkSession, plan: Plan, op: Op): Map[String, Double] = {
    val docs = spark.read.parquet(str(plan.main, "path"))
    val cands = Dedup.minhashCandidates(docs, "id", "text", k = plan.dedup("k").toInt,
      shingleSize = plan.dedup("shingle").toInt, bands = plan.dedup("bands").toInt).count()
    val verified = op.results("pairs").asInstanceOf[Seq[Any]].size
    val (_, compS) = secs {
      val pairs = spark.createDataFrame(java.util.Arrays.asList(
        op.results("pairs").asInstanceOf[Seq[Seq[Any]]].map(p => Row(p(0), p(1))): _*),
        org.apache.spark.sql.types.StructType.fromDDL("a_id BIGINT, b_id BIGINT"))
      Dedup.connectedComponents(pairs).count()
    }
    Map("dedup.candidate_pairs" -> cands.toDouble,
      "dedup.verified_ratio" -> verified.toDouble / math.max(1L, cands),
      "dedup.components_s" -> compS)
  }
}
