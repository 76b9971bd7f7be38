package graft

import org.apache.spark.sql.functions.expr

/** Write-side ORC tuning sweep (VERDICT r4 item 8): writes the sf0.1
  * lineitem table once per supported codec — with and without ORC's
  * dictionary encoding — and reports bytes on disk, write wall time and
  * full-scan read-back time. The reference sells storage savings
  * (README.md:16); this quantifies ours per codec so the default
  * (snappy) is a choice, not an accident. Results table lives in
  * BENCH_NOTES.md.
  *
  * Run: `sbt "runMain graft.CodecSweep [sfDir]"`. */
object CodecSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("graft-codec-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    val df = spark.read.parquet(s"$sfDir/lineitem.parquet").cache()
    val rows = df.count() // materialize the cache so writes time the sink
    val out = "/tmp/codec_sweep"

    def dirBytes(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var b = 0L
      while (it.hasNext) b += it.next().getLen
      b
    }

    // Full-decode read probe: count() alone reads only stripe metadata
    // (empty required schema — no decompression happens at all), so the
    // read timing hashes every column of every row instead.
    def fullRead(dir: String): Long = {
      val d = spark.read.orc(dir)
      d.select(expr("bit_xor(xxhash64(struct(*)))")).head(); rows
    }
    // warm-up write+read (JIT + codegen + committer init) so the first
    // swept config doesn't absorb the cold costs
    df.coalesce(8).write.mode("overwrite").option("compression", "snappy")
      .orc(s"$out/warmup")
    fullRead(s"$out/warmup")

    println(s"rows=$rows")
    println("| codec | dict | MB | write s | read s |")
    println("|---|---|---|---|---|")
    for (codec <- Seq("none", "snappy", "zlib", "lzo", "zstd", "lz4");
         dict <- Seq(true, false)) {
      val dir = s"$out/${codec}_${if (dict) "dict" else "nodict"}"
      val t0 = System.nanoTime()
      df.coalesce(8).write.mode("overwrite")
        .option("compression", codec)
        // threshold 0 disables dictionary encoding entirely; the default
        // (0.8) lets ORC pick per column
        .option("orc.dictionary.key.threshold", if (dict) "0.8" else "0.0")
        .orc(dir)
      val wSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      fullRead(dir)
      val rSecs = (System.nanoTime() - t1) / 1e9
      val back = spark.read.orc(dir).count()
      require(back == rows, s"row loss: $back != $rows")
      println(f"| $codec | $dict | ${dirBytes(dir) / 1e6}%.1f | $wSecs%.2f | $rSecs%.2f |")
    }
    spark.stop()
  }
}
