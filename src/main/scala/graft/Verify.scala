package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries are independent and deterministic (the gate requires it), so
    // run a few concurrently — Spark's scheduler interleaves their jobs and
    // the many small queries no longer serialize behind the heavy ones.
    // Each query writes its own output directory; shared fixtures
    // (streaming staging) synchronize internally.
    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // Dev dial: SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the dump for fast
    // local iteration (the driver never sets it — full dump per round).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Failure contract: a registered gate must NEVER silently vanish from
    // the correctness file (round 7: 11 gates threw at plan time, the old
    // catch logged to stderr and wrote nothing, and the driver's compare
    // — which iterates output dirs — never saw them, so "126/130 pass"
    // masked "126/141"). On failure we (a) record the error for
    // errors.json, and (b) still write a one-row parquet whose single
    // `__graft_error__` column carries the message — the driver's compare
    // then sees a schema/hash MISMATCH naming the exception instead of a
    // missing key.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
          errors.put(name, msg)
          System.err.println(s"[verify] GATE FAILED $name: $msg")
          try {
            import spark.implicits._
            Seq(msg).toDF("__graft_error__").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] could not write error marker for $name: ${e2.getMessage}")
          }
        }
      }
    }
    futures.foreach(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record beside oracle_sql.json (empty object
    // on a clean run) — a second, driver-greppable surface for the same
    // failures the error-marker parquets expose in the compare itself.
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (!errors.isEmpty) {
      System.err.println(s"[verify] ${errors.size} gate(s) FAILED: " +
        errors.keySet.asScala.toSeq.sorted.mkString(", "))
    }
  }
}
