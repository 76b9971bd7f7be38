package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.{OrcFooters, OrcSink, SnapshotTable}

/** The one ORC footer reader: its listing rule returns exactly the files a
  * read of the directory scans, and its two placements (driver pool,
  * footer-only job) return identical entries on flat, partitioned and
  * key-bucketed layouts. */
class OrcFootersSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val statsCols = Seq("i", "d", "dec", "dt", "ts", "s", "nothing", "extra")

  private def frame(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").cast("int").as("i"),
      (col("id") * 0.5).as("d"),
      col("id").cast("decimal(12,2)").as("dec"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 40).cast("int")).as("dt"),
      timestamp_seconds(col("id") * 1000).as("ts"),
      concat(lit("k"), (col("id") % 7).cast("string")).as("s"),
      lit(null).cast("string").as("nothing"),
      (col("id") % 3).cast("string").as("g"))

  /** Three layouts under one base: `flat` (several files, then an append
    * whose files lack the `extra` column, and a stale copy under
    * `_temporary/`), `parted` (partitionBy `g`) and
    * `bucketed` (`__bucket=N/` directories plus `_GRAFT_BUCKETS`). */
  private lazy val layouts: Map[String, String] = {
    val base = Files.createTempDirectory("orc_footers").toString
    OrcSink.write(frame(0, 3000).withColumn("extra", col("i") * 2), base, "flat",
      maxRecordsPerFile = 700)
    frame(3000, 3500).coalesce(1).write.mode("append").orc(s"$base/flat")
    // a leftover attempt file under a hidden directory: not a part file
    val flatDir = new java.io.File(s"$base/flat")
    val stale = new java.io.File(flatDir, "_temporary/0/part-stale.orc")
    stale.getParentFile.mkdirs()
    Files.copy(flatDir.listFiles().find(_.getName.endsWith(".orc")).get.toPath,
      stale.toPath)
    OrcSink.write(frame(0, 2000), base, "parted", partitionBy = Seq("g"))
    OrcSink.writeKeyBucketed(frame(0, 2000), base, "bucketed", Seq("i"), numBuckets = 3)
    Seq("flat", "parted", "bucketed").map(t => t -> s"$base/$t").toMap
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  test("the listing rule returns exactly the part files a read scans") {
    for ((name, dir) <- layouts) {
      val listed = OrcFooters.partFiles(spark, dir)
      val scanned = spark.read.orc(dir).inputFiles.toSeq.map(f =>
        new org.apache.hadoop.fs.Path(f).toUri.getPath.stripPrefix(dir + "/")).sorted
      assert(listed === scanned, name)
      // the directory holds what the rule must skip
      val names = walk(new java.io.File(dir)).map(_.getName)
      assert(names.contains("_SUCCESS") && names.contains(OrcSink.MarkerFile), name)
      assert(names.exists(_.endsWith(".crc")), name)
      assert(listed.forall(r => r.split('/').last.startsWith("part-") &&
        r.endsWith(".orc")), name)
      assert(OrcFooters.partFileLengths(spark, dir) ===
        listed.map(r => r -> new java.io.File(s"$dir/$r").length()), name)
    }
    assert(walk(new java.io.File(layouts("bucketed"))).map(_.getName)
      .contains(OrcSink.BucketsMetaFile))
    // nested files are found, with their partition directories in the path
    assert(OrcFooters.partFiles(spark, layouts("parted")).forall(_.startsWith("g=")))
    assert(OrcFooters.partFiles(spark, layouts("bucketed")).forall(_.startsWith("__bucket=")))
    assert(OrcFooters.partFiles(spark, layouts("flat")).forall(!_.contains("/")))
    assert(OrcFooters.partFiles(spark, layouts("flat") + "_absent").isEmpty)
  }

  test("both placements return identical entries") {
    for ((name, dir) <- layouts) {
      val rels = OrcFooters.partFiles(spark, dir)
      val onDriver = OrcFooters.entriesAt(spark, dir, rels, statsCols, onDriver = true)
      // the job gets the paths in reverse: entries come back sorted either way
      val asJob = OrcFooters.entriesAt(spark, dir, rels.reverse, statsCols,
        onDriver = false)
      assert(onDriver === asJob, name)
      assert(onDriver.map(_.path) === rels, name)
      assert(onDriver.map(_.rows).sum === spark.read.orc(dir).count(), name)
      assert(onDriver.forall(e => e.bytes > 0 &&
        e.bytes <= new java.io.File(s"$dir/${e.path}").length()), name)
      // the all-null column: every row null, no bounds
      assert(onDriver.forall(e => e.stats("nothing") ===
        SnapshotTable.ColStats(None, None, None, None, e.rows)), name)
      assert(onDriver.forall(e => e.stats("i").min.nonEmpty &&
        e.stats("dec").min.nonEmpty && e.stats("dt").max.nonEmpty &&
        e.stats("ts").max.nonEmpty && e.stats("s").minStr.nonEmpty), name)
    }
    // the column missing from the appended file has no stats there
    val flat = OrcFooters.dirEntries(spark, layouts("flat"), statsCols)
    val (withExtra, without) = flat.partition(_.stats.contains("extra"))
    assert(without.map(_.rows) === Seq(500L))
    assert(withExtra.map(_.rows).sum === 3000L)
    assert(flat.flatMap(_.stats("i").min).min === 0.0)
    assert(flat.flatMap(_.stats("i").max).max === 3499.0)
  }
}
