package convbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Outside-in trace of one benchmark run.
  *
  * A [[SparkListener]] records every job, stage and task. Each job is given
  * to a layer by its call site: the innermost frame of the program's own
  * classes in the stage's long call site (or, for jobs that adaptive
  * execution submits from its own threads, in the call site of the SQL
  * execution they belong to) names the module that launched it
  * (`graft.sinks.OrcSink$.write`, `graft.ConversionJob$.convertOne`, ...).
  * Spans, kept in memory and read when the run ends, wrap the public calls
  * the benchmark makes, so a layer with no Spark job of its own (driver-side
  * footer reads, manifest replay) is still timed.
  */
final class Trace extends SparkListener {

  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
                       site: String)
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, inBytes: Long, outBytes: Long,
                        shufWrite: Long, spill: Long)
  final case class Span(name: String, start: Long, end: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  // SQL execution id -> call site of the thread that started it: jobs that
  // adaptive execution submits from its own threads carry no program frames
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stageSite = e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => s.details).getOrElse("")
    val execSite = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong))).getOrElse("")
    val site = if (stageSite.contains("\ngraft.") || execSite.isEmpty) stageSite else execSite
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Time `body` as span `name`. */
  def span[T](name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally spans.add(Span(name, s, System.currentTimeMillis()))
  }

  def spansNamed(name: String, from: Long, to: Long): Seq[Span] =
    spans.asScala.filter(s => s.name == name && s.start >= from && s.end <= to).toSeq

  /** Jobs that started inside [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= from && j.start <= to)
      .toSeq.sortBy(_.id)

  def tasksOf(js: Seq[Job]): Seq[Task] = {
    val ids = js.flatMap(_.stages).toSet
    tasks.asScala.filter(t => ids.contains(t.stage)).toSeq
  }

  /** Layer of a job: the innermost program frame of its call site. */
  def layer(j: Job): String = Trace.layerOf(j.site)

  /** Seconds covered by the union of the jobs' intervals. */
  def unionSeconds(js: Seq[Job], to: Long): Double = {
    val iv = js.map(j => (j.start, if (j.end < 0) to else j.end)).sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    iv.foreach { case (s, e) =>
      if (cur == null) cur = (s, e)
      else if (s <= cur._2) cur = (cur._1, math.max(cur._2, e))
      else { total += cur._2 - cur._1; cur = (s, e) }
    }
    if (cur != null) total += cur._2 - cur._1
    total / 1000.0
  }

  /** Engine figures of one operation window. */
  def engine(from: Long, to: Long): Map[String, Double] = {
    val js = jobsIn(from, to)
    val ts = tasksOf(js)
    val wall = math.max(1L, to - from) / 1000.0
    val taskS = ts.map(_.durMs).sum / 1000.0
    // skew: max / median task time in the stage with the most task time
    val byStage = ts.groupBy(_.stage)
    val skew = if (byStage.isEmpty) 1.0 else {
      val heavy = byStage.values.maxBy(_.map(_.durMs).sum).map(_.durMs).sorted
      val med = heavy(heavy.size / 2)
      heavy.last.toDouble / math.max(1L, med)
    }
    Map(
      "engine.task_s" -> taskS,
      "engine.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "engine.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "engine.busy_cores" -> taskS / wall,
      "engine.stage_skew" -> skew,
      "engine.shuffle_write_mb" -> ts.map(_.shufWrite).sum / 1048576.0,
      "engine.spill_mb" -> ts.map(_.spill).sum / 1048576.0,
      "engine.jobs" -> js.size.toDouble,
      "engine.driver_gap_s" -> math.max(0.0, wall - unionSeconds(js, to)))
  }
}

object Trace {
  // innermost-first: the first matching frame in the stack names the layer
  private val Layers = Seq(
    "graft.sinks.OrcSink$.verify" -> "orcsink.verify",
    "graft.sinks.OrcSink$.write" -> "orcsink.write",
    "graft.sources.SqlDumpSource$" -> "sources.dump",
    "graft.ConversionJob$" -> "conversion",
    "graft.sinks.SnapshotTable$" -> "snapshot",
    "graft.sources.SnapshotTableSource" -> "snapshot",
    "graft.operators.Dedup$" -> "dedup",
    "graft.Cli$" -> "cli")

  def layerOf(site: String): String = {
    val frames = site.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq
    frames.iterator.flatMap(f => Layers.find(l => f.startsWith(l._1)).map(_._2))
      .nextOption().getOrElse(if (frames.isEmpty) "bench" else "other")
  }

  /** Peak resident set of this JVM in MB (VmHWM), 0 where unreadable. */
  def peakRssMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(
      _.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }.getOrElse(0.0)
}
