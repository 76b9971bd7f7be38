package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session rule and the one stage meter. */
class GraftSessionSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import GraftSession.{Shape, shape}

  test("session shape: host cores by default, SPARK_GRAFT_CPUS, SPARK_MASTER wins") {
    assert(shape(Map.empty, 7) === Shape("local[7]", 7))
    assert(shape(Map("SPARK_GRAFT_CPUS" -> "3"), 7) === Shape("local[3]", 3))
    assert(shape(Map("SPARK_GRAFT_CPUS" -> "3", "SPARK_MASTER" -> "spark://h:7077"), 7) ===
      Shape("spark://h:7077", 3))
  }

  test("the shared test session is built by the factory: 4 cores, UTC, no UI") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("the stage meter reads shuffle bytes after draining the bus, no sleep") {
    val sc = spark.sparkContext
    val meter = StageMeter.attach(sc)
    try {
      val (n, wide) = meter.measure(sc.parallelize(1 to 1000, 2).repartition(3).count())
      assert(n === 1000)
      assert(wide.shuffleWriteBytes > 0, wide)
      assert(wide.jobs.nonEmpty && Seq(2, 3).forall(n => wide.stages.exists(_.tasks == n)), wide)
      val (_, narrow) = meter.measure(sc.parallelize(1 to 1000, 2).count())
      assert(narrow.shuffleWriteBytes === 0L, narrow)
      assert(narrow.jobs.nonEmpty && narrow.stages.exists(_.tasks == 2), narrow)
    } finally meter.detach()
  }
}
