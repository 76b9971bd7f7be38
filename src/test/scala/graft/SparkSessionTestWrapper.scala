package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (lazy, reused via getOrCreate),
  * 4 cores wide whatever the host so the suites keep their partitioning. */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession =
    GraftSession.of("graft-test", GraftSession.Shape("local[4]", 4))
}
