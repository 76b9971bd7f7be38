package graft

/** CLI utility: learn a BPE merges table from a parquet corpus and print
  * it (rank order, tab-separated) — the tool a user runs once per corpus
  * to produce the pinned table [[graft.functions.BpeEncode]] applies.
  *
  * Usage: runMain graft.BpeTrain <parquetPathOrDir> <textCol> <numMerges>
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val path = if (args.length > 0) args(0) else "/root/testdata/sf0.01/documents.parquet"
    val textCol = if (args.length > 1) args(1) else "text"
    val numMerges = if (args.length > 2) args(2).toInt else 48
    val spark = GraftSession("graft-bpe-train")
    spark.sparkContext.setLogLevel("ERROR")
    val merges = operators.BpeLearner.learnMerges(
      spark.read.parquet(path), textCol, numMerges)
    println("MERGES_START")
    merges.zipWithIndex.foreach { case ((x, y), r) => println(s"$r\t[$x]\t[$y]") }
    println("MERGES_END")
    spark.stop()
  }
}
