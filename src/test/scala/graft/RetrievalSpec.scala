package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Hand-computed BM25 and RRF checks on a tiny corpus (the gate covers
  * the full-corpus path against DuckDB; this pins the formulas and the
  * edge behavior the gate's fixed corpus doesn't reach). */
class RetrievalSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  // 3 docs, closed vocabulary. dl: d0=4, d1=2, d2=3; avgdl = 3.
  private def corpus = Seq(
    (0L, "apple banana apple cherry"),
    (1L, "banana cherry"),
    (2L, "durian durian durian")).toDF("doc_id", "text")

  test("bm25TopK matches the hand-computed Okapi/Lucene score") {
    val out = Retrieval.bm25TopK(corpus, Seq(0 -> "apple"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // Only d0 contains "apple": tf=2, df=1, N=3, dl=4, avgdl=3.
    // idf = ln(1 + (3 - 1 + 0.5)/(1 + 0.5)) = ln(8/3)
    // tfn = 2*2.2 / (2 + 1.2*(0.25 + 0.75*4/3)) = 4.4/3.5
    val expected = {
      val term = math.log(1.0 + 2.5 / 1.5) * (2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 4.0 / 3.0)))
      BigDecimal(BigDecimal(term).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.toSeq == Seq((0L, 0L, 1L, expected)))
  }

  test("bm25TopK ranks a rarer matching term above a common one") {
    // "cherry" appears in 2/3 docs, "durian" in 1/3; d2 matches only the
    // rare term and must outrank the docs matching only the common one.
    val out = Retrieval.bm25TopK(corpus, Seq(7 -> "cherry durian"), k = 3)
      .orderBy(col("rank")).collect().map(_.getLong(1))
    assert(out.head == 2L)
    assert(out.toSet == Set(0L, 1L, 2L))
  }

  test("bm25TopK excludes non-matching docs structurally and caps at k") {
    val out = Retrieval.bm25TopK(corpus, Seq(1 -> "apple banana"), k = 1)
      .collect()
    assert(out.length == 1) // k caps; d2 (no match) never appears
    val all = Retrieval.bm25TopK(corpus, Seq(1 -> "apple banana"), k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(all == Set(0L, 1L)) // d2 absent, not ranked-with-zero
  }

  test("bm25TopK and bm25PrfTopK treat a repeated query id as one query " +
    "(the union of its terms): one row per (query_id, doc)") {
    val split = Seq(3 -> "cherry", 3 -> "durian")
    val merged = Seq(3 -> "cherry durian")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy(col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val out = rows(Retrieval.bm25TopK(corpus, split, k = 3))
    assert(out.map(r => (r._1, r._2)).distinct.size == out.size)
    assert(out == rows(Retrieval.bm25TopK(corpus, merged, k = 3)))
    assert(rows(Retrieval.bm25PrfTopK(corpus, split, k = 3)) ==
      rows(Retrieval.bm25PrfTopK(corpus, merged, k = 3)))
  }

  test("rrfFuse sums reciprocal ranks and breaks ties by id") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "doc_id", k = 10)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // 11: 1/62 + 1/61 rounded per-contribution to 6 then summed
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val s11 = (r6(1.0 / 62) + r6(1.0 / 61)).toDouble
    val s10 = r6(1.0 / 61).toDouble
    val s12 = r6(1.0 / 62).toDouble
    assert(out.map(_._1).toSeq == Seq(11L, 10L, 12L)) // 10 ties 12? no: 1/61 > 1/62
    assert(out.map(_._3).toSeq == Seq(s11, s10, s12))
  }

  test("bm25Serve from a prebuilt index equals bm25TopK; term filter pushed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
    Retrieval.buildBm25Index(corpus, dir)
    val queries = Seq(0 -> "apple", 7 -> "cherry durian")
    val full = Retrieval.bm25TopK(corpus, queries, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val served = Retrieval.bm25Serve(spark, dir, queries, k = 3)
    assert(served.orderBy("query_id", "rank").collect().toSeq == full)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"query-term filter not pushed to the postings scan:\n$plan")
  }

  test("updateBm25Index: incrementally updated index serves exactly what " +
    "a full rebuild serves, including stats") {
    val queries = Seq(0 -> "apple", 7 -> "cherry durian", 9 -> "banana")
    val incDir = java.nio.file.Files.createTempDirectory("graft_bm25_inc").toString
    Retrieval.buildBm25Index(corpus.filter(col("doc_id") < 2), incDir)
    Retrieval.updateBm25Index(spark, incDir, corpus.filter(col("doc_id") >= 2))
    val fullDir = java.nio.file.Files.createTempDirectory("graft_bm25_fullb").toString
    Retrieval.buildBm25Index(corpus, fullDir)
    assert(
      spark.read.orc(s"$incDir/stats").collect().toSeq ==
        spark.read.orc(s"$fullDir/stats").collect().toSeq)
    val inc = Retrieval.bm25Serve(spark, incDir, queries, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val full = Retrieval.bm25Serve(spark, fullDir, queries, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(inc == full)
  }

  test("bm25IngestApply: three streamed micro-batches maintain an index " +
    "that serves exactly what a full rebuild serves") {
    val queries = Seq(0 -> "apple", 7 -> "cherry durian", 9 -> "banana")
    val big = corpus.union(Seq(
      (3L, "apple durian"), (4L, "banana banana cherry"),
      (5L, "cherry apple"), (6L, "durian banana"),
      (7L, "apple apple banana"), (8L, "cherry durian durian"))
      .toDF("doc_id", "text"))
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_stream")
    val idx = s"$root/index"
    Retrieval.buildBm25Index(big.filter(col("doc_id") < 3), idx)
    val landing = s"$root/landing"
    // three round-robin files -> three micro-batches, two docs each
    big.filter(col("doc_id") >= 3)
      .repartition(3).write.mode("overwrite").parquet(landing)
    graft.streaming.EventStream.bm25IngestApply(spark, landing, idx,
      checkpointDir = s"$root/ckpt")
    val fullDir = s"$root/full"
    Retrieval.buildBm25Index(big, fullDir)
    assert(
      spark.read.orc(s"$idx/stats").collect().toSeq ==
        spark.read.orc(s"$fullDir/stats").collect().toSeq)
    val inc = Retrieval.bm25Serve(spark, idx, queries, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val full = Retrieval.bm25Serve(spark, fullDir, queries, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(inc == full)
  }

  test("updateBm25Index rejects a batch whose ids are already indexed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_clash").toString
    Retrieval.buildBm25Index(corpus, dir)
    intercept[IllegalArgumentException] {
      Retrieval.updateBm25Index(spark, dir, corpus.filter(col("doc_id") === 1))
    }
  }

  test("rrfFuse tie between equal-rank singletons breaks by ascending id") {
    val a = Seq((1L, 20L, 1L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 5L, 1L)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "doc_id", k = 10)
      .orderBy(col("rank")).collect().map(_.getLong(1))
    assert(out.toSeq == Seq(5L, 20L))
  }
}
