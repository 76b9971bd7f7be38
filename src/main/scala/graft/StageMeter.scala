package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.StageMeter.{Job, Reading, Stage}

/** Stage accounting of the diagnostic mains: every job's wall time and
  * description, and every completed stage's task count, task time,
  * shuffle bytes and spill bytes. [[measure]] reads them after the
  * listener bus has drained, so a reading holds every stage of the
  * measured action. */
final class StageMeter private (sc: SparkContext) extends SparkListener {
  private val started = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val desc = Seq("spark.job.description", "callSite.short")
      .flatMap(k => p.flatMap(q => Option(q.getProperty(k)))).headOption
      .getOrElse("?")
    started.put(e.jobId, (e.time, desc.replace('\n', ' ').trim))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, desc) =>
      jobs.add(Job(e.jobId, desc, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null)
      stages.add(Stage(s.stageId, s.name, s.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled, m.diskBytesSpilled))
  }

  /** Run `body`, then wait for the bus and return the jobs and stages
    * that ended meanwhile. Measurements must not overlap. */
  def measure[T](body: => T): (T, Reading) = {
    GraftBus.drain(sc)
    jobs.clear(); stages.clear()
    val r = body
    GraftBus.drain(sc)
    (r, Reading(jobs.asScala.toSeq.sortBy(_.id), stages.asScala.toSeq.sortBy(_.id)))
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object StageMeter {

  /** A job's description and its start and end on the scheduler's clock
    * (epoch ms). */
  final case class Job(id: Int, description: String, startMs: Long, endMs: Long) {
    def secs: Double = (endMs - startMs) / 1e3
  }

  /** One completed stage's totals over its tasks. */
  final case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
                         shuffleWrite: Long, shuffleRead: Long,
                         spillMem: Long, spillDisk: Long)

  final case class Reading(jobs: Seq[Job], stages: Seq[Stage]) {
    def shuffleWriteBytes: Long = stages.map(_.shuffleWrite).sum
    def spillMemBytes: Long = stages.map(_.spillMem).sum
    def spillDiskBytes: Long = stages.map(_.spillDisk).sum
  }

  def attach(sc: SparkContext): StageMeter = {
    val m = new StageMeter(sc)
    sc.addSparkListener(m)
    m
  }
}
