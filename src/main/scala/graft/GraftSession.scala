package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft process starts Spark. One rule shapes every
  * session: the master is `SPARK_MASTER` (a deployment address) or else
  * `local[cpus]`; cpus is `SPARK_GRAFT_CPUS` or else the host's core
  * count; shuffle partitions equal cpus; the session time zone is UTC and
  * the UI is off. Nothing else is set here: a caller that needs more
  * (a broadcast threshold, a streaming listener class) passes it as an
  * extra setting. */
object GraftSession {

  /** Where a session runs and how many cores it plans for. */
  final case class Shape(master: String, cpus: Int)

  /** The shape `env` asks for on a host with `hostCores` cores. */
  def shape(env: Map[String, String], hostCores: Int): Shape = {
    val cpus = env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(hostCores)
    Shape(env.getOrElse("SPARK_MASTER", s"local[$cpus]"), cpus)
  }

  /** A session shaped by this process's environment. */
  def apply(appName: String, extra: (String, String)*): SparkSession =
    of(appName, shape(sys.env, Runtime.getRuntime.availableProcessors), extra: _*)

  /** A session of the given shape (or the running one, which keeps its
    * static settings). */
  def of(appName: String, shape: Shape, extra: (String, String)*): SparkSession =
    extra.foldLeft(SparkSession.builder()
      .master(shape.master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shape.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
