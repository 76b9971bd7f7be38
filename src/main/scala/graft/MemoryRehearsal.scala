package graft

import org.apache.spark.sql.functions._

/** Constrained-heap child of [[ScaleRehearsal]] (VERDICT r10 item 4):
  * proves the heavy funnels SPILL rather than OOM when execution memory
  * is far under their working set, and that the spilled answers are
  * unchanged. SCALING.md's MEMORY_AND_DISK claim, measured.
  *
  * Run in a JVM whose -Xmx is deliberately small for the probe set (the
  * parent forks `java -Xmx<heapMb>m` with `SPARK_GRAFT_CPUS=8`): Spark's
  * unified memory manager then forces the hash aggregations (the span
  * family's distinct (doc, window-hash) table is the big one — tens of
  * millions of rows at sf1) to fall back to sort-based spilling, which
  * the task metrics surface as memoryBytesSpilled/diskBytesSpilled.
  * Emits ONE JSON line on stdout and to args(1):
  * {"heap_mb":N,"completed":true,"probes":{name:{rows,secs,spill_mem_mb,
  * spill_disk_mb}},"spill_disk_mb_total":N}
  *
  * Probe set = the three heaviest funnels from the scale ladder, same
  * dials, so the parent can check row-for-row answer equality against
  * its own unconstrained runs. */
object MemoryRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("/tmp/memory_rehearsal.json")
    // the memory-constrained posture: broadcast-hash builds hold the
    // whole build side on-heap and ABORT when it doesn't fit
    // (notEnoughMemoryToBuildAndBroadcastTableError — measured flaky
    // at this heap), while sort-merge paths spill gracefully. An
    // undersized deployment disables broadcast for exactly this
    // reason, and it also maximizes the spill pressure this gate
    // exists to exercise.
    val spark = GraftSession("graft-memory-rehearsal",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    spark.sparkContext.setLogLevel("WARN")
    import graft.Tables.t
    import graft.operators.{Dedup, Similarity}

    val meter = StageMeter.attach(spark.sparkContext)

    val probes: Seq[(String, () => Long)] = Seq(
      "dedup_minhash_full" -> (() =>
        Dedup.minhashVerifiedPairs(t(spark, sfDir, "documents"), "doc_id",
          "text", k = 32, shingleSize = 5, bands = 8, threshold = 0.6).count()),
      "dedup_span_scrub" -> (() =>
        Dedup.removeDuplicateSpans(t(spark, sfDir, "documents"), "doc_id",
          "text", spanTokens = 8).agg(sum(col("n_removed"))).head().getLong(0)),
      "ann_ivf_pq" -> (() =>
        Similarity.ivfTopKPq(t(spark, sfDir, "embeddings"), "vec_id",
          "embedding", queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4,
          m = 8, ksub = 32,
          shortlist = math.max(60,
            (t(spark, sfDir, "embeddings").count() * 3 / 100).toInt)).count())
    )

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val rows = probes.map { case (name, fn) =>
      val ((n, secs), r) = meter.measure {
        val t0 = System.nanoTime()
        (fn(), (System.nanoTime() - t0) / 1e9)
      }
      (name, n, secs, r.spillMemBytes / 1e6, r.spillDiskBytes / 1e6)
    }
    val probesJson = rows.map { case (name, n, secs, sm, sd) =>
      f""""$name": {"rows": $n%d, "secs": $secs%.2f, "spill_mem_mb": $sm%.1f, "spill_disk_mb": $sd%.1f}"""
    }.mkString("{", ", ", "}")
    val diskTotal = rows.map(_._5).sum
    val line =
      f"""{"heap_mb": $heapMb%d, "completed": true, "probes": $probesJson, "spill_disk_mb_total": $diskTotal%.1f}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
