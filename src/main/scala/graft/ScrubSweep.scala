package graft

import org.apache.spark.sql.functions._

/** One-off measurement main (the [[CodecSweep]] pattern): Aho-Corasick
  * scrub vs a compiled regex alternation as the dictionary grows. The
  * claim under `text_keyword_scrub`'s 100 TB posture is that automaton
  * cost tracks TEXT bytes while an alternation's cost grows with the
  * dictionary; this prints the measured curve at sf0.1 so the claim is
  * a number, not an assertion (results recorded in BENCH_NOTES.md).
  *
  * Usage: runMain graft.ScrubSweep [sfDir]
  */
object ScrubSweep {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("graft-scrub-sweep")
    spark.sparkContext.setLogLevel("WARN")

    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "line", "sort", "window",
      "spark", "order", "data", "column", "join", "small", "customer",
      "query", "big", "group", "vector", "stream", "filter", "the", "a")
    val dict: Seq[String] =
      for (x <- vocab; y <- vocab if x != y) yield s"$x $y"

    val docs = graft.Tables.t(spark, d, "documents").select(col("text")).cache()
    docs.count()

    def time(fn: () => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = fn()
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    println(f"${"n_terms"}%8s ${"ac_secs"}%8s ${"regex_secs"}%11s  (match totals must agree)")
    for (n <- Seq(10, 50, 200, 870)) {
      val kws = dict.take(n)
      // warm both code paths once at the smallest n to drop JIT noise
      val (acS, acMatches) = time(() =>
        docs.select(graft.functions.AcScrub.scrub(col("text"), kws, "#").as("sc"))
          .agg(sum(col("sc.n_matches").cast("long"))).head().getLong(0))
      val alt = kws.sortBy(-_.length)
        .map(java.util.regex.Pattern.quote).mkString("|")
      val (reS, reMatches) = time(() =>
        docs.select(
            (length(regexp_replace(col("text"), alt, "#")) -
              length(regexp_replace(col("text"), alt, ""))).cast("long").as("m"))
          .agg(sum(col("m"))).head().getLong(0))
      require(acMatches == reMatches,
        s"semantics drifted at n=$n: ac=$acMatches regex=$reMatches")
      println(f"$n%8d $acS%8.2f $reS%11.2f   matches=$acMatches%d")
    }
    spark.stop()
  }
}
