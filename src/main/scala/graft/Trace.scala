package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch wall breakdown printer, registered context-wide via
  * `spark.sql.streaming.streamingQueryListeners` (zero-arg constructor
  * required) so queries on cloned sessions report too. Each line starts
  * with the gate being traced ([[TraceListener.gate]]), then the stream's
  * own name. */
class TraceListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
    val state = p.stateOperators.map(s =>
      s"op=${s.operatorName} rows=${s.numRowsTotal} " +
        s"commitMs=${s.commitTimeMs} memUsed=${s.memoryUsedBytes}")
      .mkString(" | ")
    println(s"[batch] ${TraceListener.gate} ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
      s"trigger=${ms("triggerExecution")} addBatch=${ms("addBatch")} " +
      s"getBatch=${ms("getBatch")} latestOffset=${ms("latestOffset")} " +
      s"walCommit=${ms("walCommit")} commitOffsets=${ms("commitOffsets")} " +
      s"queryPlanning=${ms("queryPlanning")} :: $state")
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object TraceListener {
  /** The gate whose batches are being reported; a listener Spark builds
    * cannot see the job description, so the trace sets this instead. */
  @volatile var gate = "?"
}

/** Job, stage and micro-batch trace of named queries: a warm pass, then a
  * traced pass whose every job (wall time, offset from the pass start),
  * every stage (tasks, task time, shuffle and spill bytes) and, for
  * streaming gates, every micro-batch's wall breakdown is printed, so
  * "where do a query's seconds go" is a measurement. Each pass runs under
  * the query's name as job description. Diagnostic main, same class as
  * [[Explain]]: never on a query path.
  *
  * Usage: runMain graft.Trace <sfDir> [query ...]
  */
object Trace {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Trace <sfDir> [query ...]")
    val sfDir = args.head
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("retrieval_prf")
    // context-wide listener: the stateful gates run on CLONED sessions
    // (tunedSession), whose own streams manager would miss a listener
    // added to this session object
    val spark = GraftSession("graft-trace",
      "spark.sql.streaming.streamingQueryListeners" -> "graft.TraceListener")
    spark.sparkContext.setLogLevel("ERROR")
    System.setProperty("graft.bench", "1")
    val meter = StageMeter.attach(spark.sparkContext)

    def run(n: String): Long = {
      spark.sparkContext.setJobDescription(n)
      try SparkEntry.queries(n)(spark, sfDir).count()
      finally spark.streams.active.foreach { q =>
        try { q.stop(); q.awaitTermination(10000) }
        catch { case _: Throwable => () }
      }
    }

    names.foreach { n =>
      // the traced pass's measure drains the bus before and after, so
      // every batch of this gate is reported while its name is set
      TraceListener.gate = n
      // warm pass (codegen/FS cache), then the traced pass
      try run(n) catch { case e: Throwable => println(s"[warm] $n failed: $e") }
      println(s"\n========== $n (traced pass) ==========")
      val t0 = System.currentTimeMillis()
      val (rows, r) = meter.measure(run(n))
      val secs = (System.currentTimeMillis() - t0) / 1e3
      // offsets from the pass start make driver-side gaps between jobs
      // directly readable
      r.jobs.foreach(j => println(f"[job] $n t=${(j.startMs - t0) / 1e3}%7.3f " +
        f"id=${j.id}%4d wall=${j.secs}%6.3f s  ${j.description}"))
      r.stages.foreach(s => println(f"[stage] $n ${s.id}%4d tasks=${s.tasks}%3d " +
        f"taskTime=${s.taskMs / 1e3}%7.2f s shufW=${s.shuffleWrite / 1e6}%6.2f MB " +
        f"shufR=${s.shuffleRead / 1e6}%6.2f MB spill=${s.spillDisk / 1e6}%6.2f MB  " +
        s.name.take(70)))
      println(f"[total] $n $secs%.2f s rows=$rows jobs=${r.jobs.size} " +
        f"shufW=${r.shuffleWriteBytes / 1e6}%.2f MB")
    }
    System.clearProperty("graft.bench")
    spark.stop()
  }
}
