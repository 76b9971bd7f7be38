package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ORC sink honoring the reference's table-as-directory contract.
  *
  * Reference behavior (K1-K5, SURVEY.md §2.2): each table becomes a
  * directory of ORC part files (`/root/reference/data_to_orc_converter.sh:
  * 226-245`; README.md:174-189 "All part files in a directory make up one
  * table"). Spark's `df.write.orc(dir)` produces exactly that layout
  * natively — one file per task — so multi-part output falls out of the
  * execution model instead of a driver-side chunk loop.
  *
  * Codecs: snappy (default) / zlib / none from the reference prompt
  * (sh:168-169) plus lzo and zstd declared in README.md:241-245 — all
  * supported by Spark's ORC writer, including the LZO the reference never
  * actually wired up (SURVEY.md §2.8).
  *
  * Scale posture: `maxRecordsPerFile` bounds part size (the analogue of the
  * reference's CHUNK_SIZE, honored for real here); writes stream through
  * executors so a 100 TB table never concentrates on one node.
  */
object OrcSink {

  val SupportedCodecs: Set[String] = Set("none", "snappy", "zlib", "lzo", "zstd", "lz4")

  final case class WriteReport(table: String, dir: String, rows: Long, files: Int)

  /** Write `df` as `outDir/<table>/part-*.orc`. With `partitionBy`, the
    * table lays out as `<table>/<col>=<value>/part-*.orc` — the standard
    * big-table layout: readers with a partition-column predicate prune
    * whole directories before any I/O (PartitionFilters in the plan). */
  /** `bloomFilterColumns` writes per-row-group ORC bloom filters for the
    * named columns (`orc.bloom.filter.columns`) — the point-lookup
    * complement to the sorted/z-ordered layouts: on data NOT clustered by
    * the probe column, min/max stripe stats span everything and skip
    * nothing, but a bloom probe still eliminates the row groups that
    * cannot contain the value. Costs ~bits-per-row on write; pays off on
    * every selective equality scan.
    *
    * `expectedRows`, when given, is the row count the source reported: a
    * write whose footer row sum differs fails before its success marker
    * is written. */
  def write(df: DataFrame, outDir: String, table: String,
            compression: String = "snappy",
            maxRecordsPerFile: Long = 0L,
            partitionBy: Seq[String] = Nil,
            mode: String = "overwrite",
            bloomFilterColumns: Seq[String] = Nil,
            bloomFilterFpp: Double = 0.05,
            expectedRows: Option[Long] = None): WriteReport = {
    val codec = compression.toLowerCase
    require(SupportedCodecs.contains(codec), s"unsupported ORC codec: $compression")
    val dir = s"$outDir/$table"
    var w = df.write.mode(mode).option("compression", codec)
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (bloomFilterColumns.nonEmpty) {
      w = w.option("orc.bloom.filter.columns", bloomFilterColumns.mkString(","))
        .option("orc.bloom.filter.fpp", bloomFilterFpp)
    }
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.orc(dir)
    val rep = verify(df.sparkSession, dir, table)
    expectedRows.foreach(n => require(rep.rows == n,
      s"$table: wrote ${rep.rows} rows but the source holds $n"))
    // success marker LAST: it exists only if the write verified, so a
    // resume pass can trust it (underscore-prefixed = invisible to
    // Spark/ORC readers). Records the SOURCE schema so resume can detect
    // upstream drift without re-reading the output.
    writeMarker(df.sparkSession, dir, SuccessMarker(rep.rows, rep.files,
      df.schema.toDDL))
    rep
  }

  /** Verified-export marker ([[MarkerFile]]): written by [[write]] after
    * verification, consumed by ConversionJob's resume mode. `schemaDdl` is
    * the SOURCE DataFrame's schema at export time. */
  final case class SuccessMarker(rows: Long, files: Int, schemaDdl: String)

  val MarkerFile = "_GRAFT_SUCCESS"

  private def writeMarker(spark: SparkSession, dir: String,
                          m: SuccessMarker): Unit = {
    val p = new Path(dir, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    // schema DDL is single-line by construction; simple line format
    try out.write(s"rows=${m.rows}\nfiles=${m.files}\nschema=${m.schemaDdl}\n"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The success marker of a table directory, if present and parseable. */
  def readMarker(spark: SparkSession, dir: String): Option[SuccessMarker] = {
    val p = new Path(dir, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      val kv = text.linesIterator.flatMap { l =>
        val i = l.indexOf('=')
        if (i <= 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
      }.toMap
      SuccessMarker(kv("rows").toLong, kv("files").toInt, kv("schema"))
    }.toOption
  }

  /** Drop a stale success marker — called by every in-place mutator
    * (compact / replace / merge): after a rewrite the directory is no
    * longer the verified export the marker described, so resume must
    * re-export rather than trust it. */
  private def invalidateMarker(fs: FileSystem, dir: Path): Unit = {
    val m = new Path(dir, MarkerFile)
    if (fs.exists(m)) fs.delete(m, false)
  }

  /** Cheap physical re-check for resume: the marker's part-file count
    * still matches the directory listing (no data read — metadata only).
    * Schema drift is the CALLER's check (against the current source). */
  def markerHolds(spark: SparkSession, dir: String, m: SuccessMarker): Boolean =
    OrcFooters.partFiles(spark, dir).size == m.files

  /** Post-write verification (reference sh:556-566): output exists, has
    * .orc part files, and reads back. The row count is the sum of the
    * part files' footer counts ([[OrcFooters]]: on the driver up to
    * `OrcFooters.DriverMaxFiles` files, one footer-only job above). It is
    * the number a count() job returns, since ORC footers are
    * authoritative, and parsing every footer proves each file is
    * complete, well-formed ORC. */
  def verify(spark: SparkSession, dir: String, table: String): WriteReport = {
    val p = new Path(dir)
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"output dir missing: $dir")
    val footers = OrcFooters.dirEntries(spark, dir)
    require(footers.nonEmpty, s"no .orc part files in $dir")
    WriteReport(table, dir, footers.map(_.rows).sum, footers.size)
  }

  /** Read a table directory back (README.md:189 contract: the directory IS
    * the table; the reader merges part files). */
  def read(spark: SparkSession, dir: String): DataFrame = spark.read.orc(dir)

  /** Read with per-file schema merging — the ORC schema-evolution
    * capability the reference README declares ("add columns without
    * breaking existing data", README.md:27): files appended later with
    * extra columns union into one schema; old rows read null. */
  def readMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", true).orc(dir)

  /** Compact a table directory's small files: rewrite into
    * ceil(totalBytes / targetFileBytes) parts (at least 1), totalBytes
    * being the part files' lengths. The lakehouse
    * maintenance op for streaming/incremental sinks that accrete tiny
    * files — many-small-files kills scan planning and NameNode/listing at
    * scale. Crash-safe: the compacted copy is written to a temp sibling,
    * row-count-verified, and swapped in via rename; the original survives
    * any failure before the swap. Returns the post-compaction report. */
  def compact(spark: SparkSession, dir: String, table: String,
              targetFileBytes: Long = 128L << 20,
              compression: String = "snappy"): WriteReport = {
    require(targetFileBytes > 0)
    val codec = compression.toLowerCase
    require(SupportedCodecs.contains(codec), s"unsupported ORC codec: $compression")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the size is the part files' lengths; pre/post row counts come from
    // their footers (same placement rule as [[verify]]), not count() jobs
    val files = OrcFooters.partFileLengths(spark, dir)
    val bytes = files.map(_._2).sum
    val expected = OrcFooters.entries(spark, dir, files.map(_._1)).map(_.rows).sum
    val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // partitioned layouts (<col>=<val>/ nesting) are re-applied on the
    // rewrite so compaction preserves partition pruning
    val partitionCols = detectPartitionCols(fs, p)
    val before = read(spark, dir)
    val tmp = new Path(p.getParent, p.getName + ".compact-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    var w = before.coalesce(parts).write.mode("overwrite")
      .option("compression", codec)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.orc(tmp.toString)
    val back = spark.read.orc(tmp.toString)
    val backRows = OrcFooters.dirEntries(spark, tmp.toString).map(_.rows).sum
    require(backRows == expected, s"compaction row mismatch vs $expected")
    require(back.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      before.schema.fields.map(f => (f.name, f.dataType)).toSet,
      s"compaction schema drift: ${back.schema} vs ${before.schema}")
    // crash-safe swap: the original is renamed ASIDE (not deleted) before
    // the compacted copy moves in — data is recoverable at every step
    val aside = new Path(p.getParent, p.getName + ".compact-old")
    if (fs.exists(aside)) fs.delete(aside, true)
    require(fs.rename(p, aside), s"failed to move original aside: $dir")
    require(fs.rename(tmp, p), s"failed to swap compacted table into $dir " +
      s"(original preserved at $aside)")
    fs.delete(aside, true)
    verify(spark, dir, table)
  }

  /** Sorted (range-clustered) table layout: rows are range-partitioned
    * and sorted on `sortCols` before writing, so every output file — and
    * every ORC stripe within it — covers a narrow [min, max] slice of
    * the sort key. Readers filtering on that key then skip whole stripes
    * via ORC's pushed-down SearchArgument against stripe statistics: the
    * data-LAYOUT half of predicate pushdown, which schema and filters
    * alone cannot deliver on an unsorted table (every stripe's key range
    * spans the domain, so nothing skips). The standard clustering move
    * for a 100 TB table with a dominant filter column. */
  def writeSorted(df: DataFrame, outDir: String, table: String,
                  sortCols: Seq[String], compression: String = "snappy",
                  maxRecordsPerFile: Long = 0L,
                  mode: String = "overwrite"): WriteReport = {
    require(sortCols.nonEmpty && sortCols.forall(df.columns.contains),
      s"sort columns $sortCols must exist in the schema")
    import org.apache.spark.sql.functions.col
    val clustered = df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    // mode="append" adds a new range-clustered SEGMENT: existing files
    // keep their narrow [min, max] slices and the new files carry their
    // own, so stripe-level skipping holds per segment (the Lucene model)
    write(clustered, outDir, table, compression, maxRecordsPerFile,
      mode = mode)
  }

  /** Z-ordered (multi-dimensional-clustered) table layout — what
    * [[writeSorted]] cannot deliver when TWO OR MORE columns carry
    * selective filters: a single-key sort gives the secondary column
    * domain-spanning ranges in every file, so nothing skips for its
    * predicates. Rows map to a Morton (Z) curve position — each z-column
    * is bucketed by its own approximate quantiles (equi-depth, so skew
    * in one column cannot starve the others' bits) and the bucket ids'
    * bits interleave — then range-partition + sort on that z value.
    * Every file then covers a narrow hyper-rectangle: ORC stripe
    * statistics stay selective on EVERY z-column and predicates on any
    * of them skip stripes/files (the layout Delta's OPTIMIZE ZORDER and
    * Hudi clustering produce for multi-filter tables at 100 TB scale).
    *
    * One extra pass over `df` for the quantile sketch (driver holds
    * (2^bits - 1) doubles per column); the z value itself is a codegen'd
    * bitwise expression, no UDF. Bucket resolution `bits` defaults to 6
    * (64 equi-depth buckets per column) — with k z-columns the curve has
    * 2^(bits*k) cells, far more than any practical file count, so file
    * boundaries land inside the curve, not on cell edges. */
  def writeZOrdered(df: DataFrame, outDir: String, table: String,
                    zCols: Seq[String], bits: Int = 6,
                    compression: String = "snappy",
                    maxRecordsPerFile: Long = 0L,
                    numFiles: Int = 0): WriteReport =
    write(zOrderFrame(df, zCols, bits, numFiles), outDir, table,
      compression, maxRecordsPerFile)

  /** The z-layout as a FRAME: rows range-partitioned + sorted along the
    * Morton curve position so that whatever writes the result (the raw
    * ORC sink above, or a snapshot-table clustering commit) produces one
    * narrow hyper-rectangle per file. See [[writeZOrdered]] for the
    * curve math. */
  def zOrderFrame(df: DataFrame, zCols: Seq[String], bits: Int = 6,
                  numFiles: Int = 0): DataFrame = {
    require(zCols.size >= 2, s"z-ordering needs >= 2 columns, got $zCols")
    require(zCols.forall(df.columns.contains),
      s"z columns $zCols must exist in the schema")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits=$bits with ${zCols.size} columns overflows the z value")
    import org.apache.spark.sql.functions._
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    // one distributed pass computes all columns' equi-depth boundaries
    val bounds = df.stat.approxQuantile(zCols.toArray, probs, 0.001)
    val bucketCols = zCols.zip(bounds).map { case (c, bs) =>
      // count of boundaries <= value = equi-depth bucket id in [0, 2^bits)
      // (codegen'd fold; nulls fall to bucket 0). Consecutive equal
      // boundaries (heavy-hitter values) collapse buckets harmlessly.
      bs.foldLeft(lit(0L)) { (acc, b) =>
        acc + when(col(c).cast("double") >= lit(b), lit(1L)).otherwise(lit(0L))
      }
    }
    val z = (0 until bits).flatMap { i =>
      bucketCols.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
          i * zCols.size + j)
      }
    }.reduce(_ bitwiseOR _)
    // numFiles > 0 pins the output file count (and so the per-file
    // hyper-rectangle size) independently of spark.sql.shuffle.partitions
    val zc = col("__graft_z")
    val withZ = df.withColumn("__graft_z", z)
    val ranged = if (numFiles > 0) withZ.repartitionByRange(numFiles, zc)
                 else withZ.repartitionByRange(zc)
    ranged.sortWithinPartitions(zc).drop("__graft_z")
  }

  /** Replace a table directory's contents with `df`, crash-safely: the
    * replacement is written to a temp sibling, row-count-verified, and
    * swapped in via rename with the original kept aside until the swap
    * lands (same discipline as [[compact]]). The building block of the
    * CDC apply loop — each merge round rewrites the table from a frame
    * that READS the current table, so the new copy must be fully
    * materialized before the original moves. */
  def replaceTable(spark: SparkSession, dir: String, table: String,
                   df: DataFrame, compression: String = "snappy"): WriteReport = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, p.getName + ".replace-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.write.mode("overwrite").option("compression", compression.toLowerCase)
      .orc(tmp.toString)
    // a successful write job implies every source row landed (Spark
    // fails the job otherwise); check the copy reads back with the same
    // shape rather than re-executing the (possibly expensive) merge plan
    val back = spark.read.orc(tmp.toString)
    require(back.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSet,
      s"replacement schema drift: ${back.schema} vs ${df.schema}")
    val aside = new Path(p.getParent, p.getName + ".replace-old")
    if (fs.exists(aside)) fs.delete(aside, true)
    require(fs.rename(p, aside), s"failed to move original aside: $dir")
    require(fs.rename(tmp, p), s"failed to swap replacement into $dir " +
      s"(original preserved at $aside)")
    fs.delete(aside, true)
    verify(spark, dir, table)
  }

  /** Partition column + metadata-file names for the key-bucketed layout
    * ([[writeKeyBucketed]] / [[mergeUpsertPruned]]). The leading
    * underscore keeps the metadata file invisible to Spark readers. */
  val BucketCol = "__bucket"
  val BucketsMetaFile = "_GRAFT_BUCKETS"

  /** Deterministic key→bucket assignment (Murmur3 `hash`, non-negative
    * modulus). A key's rows always land in exactly one bucket, so any
    * change batch's write scope is the union of its keys' buckets. */
  def bucketExpr(keyCols: Seq[String], numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    pmod(hash(keyCols.map(col): _*), lit(numBuckets))
  }

  /** Write a table key-bucketed: rows partitioned into
    * `<table>/__bucket=N/` directories by [[bucketExpr]] over `keyCols`,
    * with the bucket count recorded in a `_GRAFT_BUCKETS` metadata file.
    * This is the CDC-ready layout: a change batch touching k keys needs
    * at most min(k, numBuckets) partition directories read AND rewritten
    * ([[mergeUpsertPruned]]) — the other numBuckets-k directories are
    * never opened. Size numBuckets for a target bucket size (e.g.
    * rows/1M), not a fixed count: per-batch merge cost is then bounded
    * by batch-key-count × bucket size regardless of table size. */
  def writeKeyBucketed(df: DataFrame, outDir: String, table: String,
                       keyCols: Seq[String], numBuckets: Int,
                       compression: String = "snappy",
                       maxRecordsPerFile: Long = 0L): WriteReport = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"key columns $keyCols must exist in the schema")
    require(!df.columns.contains(BucketCol), s"schema already has $BucketCol")
    // cluster rows by bucket before the partitioned write: without this,
    // every task writes a part file into every bucket directory it sees
    // rows for (tasks x buckets small files — at 1000 executors x 10k
    // buckets a listing catastrophe); with it each bucket is written by
    // one task, so file count tracks bucket count
    val withBucket = df.withColumn(BucketCol, bucketExpr(keyCols, numBuckets))
      .repartition(numBuckets, org.apache.spark.sql.functions.col(BucketCol))
    val rep = write(withBucket, outDir, table, compression, maxRecordsPerFile,
      partitionBy = Seq(BucketCol))
    val meta = new Path(s"$outDir/$table/$BucketsMetaFile")
    val fs = meta.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(meta, true)
    try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
    rep
  }

  /** Bucket count of a key-bucketed table directory (from the
    * `_GRAFT_BUCKETS` metadata file), or None for plain layouts. */
  def bucketCount(spark: SparkSession, dir: String): Option[Int] = {
    val meta = new Path(dir, BucketsMetaFile)
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(meta)) None
    else {
      val in = fs.open(meta)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Partition-scoped CDC merge: apply a change batch to a key-bucketed
    * table IN PLACE, rewriting only the bucket directories the batch's
    * keys hash into. This is copy-on-write WITH pruning — the fix for
    * the full-table-rewrite-per-batch shape that kills at 100 TB (a 1 MB
    * batch against a 100 TB table reads and rewrites ~batch-buckets ×
    * bucket-size, not the table):
    *
    *  1. the batch's affected bucket set is computed batch-side (≤
    *     numBuckets values, collected to the driver — bounded);
    *  2. the base is read with a partition filter on that set, so
    *     untouched `__bucket=` directories are pruned before any I/O
    *     (PartitionFilters in the scan, no file opens);
    *  3. [[mergeUpsert]] runs on the affected slice only (same
    *     last-writer-wins semantics; bucket is key-derived, so every
    *     key's winner stays in its bucket);
    *  4. the merged slice is written to a temp sibling and each affected
    *     bucket directory is swapped via rename with the original kept
    *     aside until its swap lands ([[replaceTable]] discipline,
    *     per-bucket). Untouched bucket directories are never opened,
    *     written, or renamed — their files stay byte-identical.
    *
    * Buckets whose rows are all deleted are removed; inserts may create
    * new bucket directories. The swap is atomic per bucket, not across
    * buckets (same contract as partition-overwrite in any table format
    * short of a transaction log); each bucket's data survives any crash
    * before its own swap. */
  def mergeUpsertPruned(spark: SparkSession, dir: String, table: String,
                        changes: DataFrame, keyCols: Seq[String],
                        opCol: String = "__op", seqCol: String = "__seq",
                        compression: String = "snappy"): WriteReport = {
    import org.apache.spark.sql.functions.col
    val numBuckets = bucketCount(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir is not key-bucketed (missing $BucketsMetaFile); " +
          "write it with writeKeyBucketed or use mergeUpsert + replaceTable"))
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chBucketed = changes.withColumn(BucketCol, bucketExpr(keyCols, numBuckets))
    // ≤ numBuckets rows by construction — a bounded driver collect
    val affected = chBucketed.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return verify(spark, dir, table)
    val base = spark.read.orc(dir)
      .filter(col(BucketCol).isin(affected.map(Integer.valueOf): _*))
    val merged = mergeUpsert(base, chBucketed, keyCols, opCol, seqCol)
    val tmp = new Path(p.getParent, p.getName + ".merge-tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // one task per affected bucket keeps the rewrite at one file per
    // bucket (same small-files discipline as writeKeyBucketed)
    merged.repartition(affected.length, col(BucketCol))
      .write.mode("overwrite").option("compression", compression.toLowerCase)
      .partitionBy(BucketCol).orc(tmp.toString)
    affected.foreach { b =>
      val dst = new Path(p, s"$BucketCol=$b")
      val src = new Path(tmp, s"$BucketCol=$b")
      val aside = new Path(p, s"$BucketCol=$b.old")
      if (fs.exists(aside)) fs.delete(aside, true)
      val hadDst = fs.exists(dst)
      if (hadDst) require(fs.rename(dst, aside), s"failed to move $dst aside")
      if (fs.exists(src)) require(fs.rename(src, dst),
        s"failed to swap merged bucket $b into $dir" +
          (if (hadDst) s" (original preserved at $aside)" else ""))
      if (hadDst) fs.delete(aside, true)
    }
    fs.delete(tmp, true)
    // the root keeps its export-time marker across in-place bucket swaps —
    // stale now (rows/files changed), so resume must not trust it
    invalidateMarker(fs, p)
    verify(spark, dir, table)
  }

  /** CDC upsert-merge (the incremental-sync half of a converter: after
    * the initial full export, apply change batches instead of
    * re-exporting the table). `changes` carries the base's columns plus
    * an op column ('I' insert / 'U' update / 'D' delete) and a
    * monotonically increasing sequence column; the merge keeps, per key,
    * the row with the highest sequence (base rows participate at
    * seq = -1, so every change supersedes them) and drops keys whose
    * winner is a delete. The base must be key-UNIQUE (it is a table;
    * two base rows for one key would tie at seq -1 and collapse
    * arbitrarily), and (key, seq) pairs must be unique across changes —
    * out-of-order DELIVERY is fine (the window sorts), duplicate
    * sequence numbers for one key are a contract violation the caller
    * must dedupe first.
    *
    * Scale shape: one key-partitioned window (rank-1 filter plans as
    * WindowGroupLimit, pruning to the max-seq row map-side before the
    * exchange). For repeated large merges, write base and batches
    * bucketed by key ([[writeBucketed]]) and the exchange disappears on
    * the base side entirely. */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
                  opCol: String = "__op", seqCol: String = "__seq",
                  allowNewColumns: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number}
    val dataCols = base.columns.toSeq
    require(keyCols.nonEmpty && keyCols.forall(dataCols.contains),
      s"key columns $keyCols must exist in the base schema")
    require(!dataCols.contains(opCol) && !dataCols.contains(seqCol),
      s"base must not already contain $opCol/$seqCol")
    val changeData = changes.columns.toSet - opCol - seqCol
    // Schema evolution (allowNewColumns): change batches may ADD data
    // columns — the merged schema widens and pre-evolution rows read
    // null, matching the ORC-side evolution contract ([[readMerged]]).
    // Changes must still carry every base column: silently dropping a
    // column is a pipeline bug, not evolution.
    require(dataCols.forall(changeData.contains) &&
        changes.columns.contains(opCol) && changes.columns.contains(seqCol) &&
        (allowNewColumns || changeData == dataCols.toSet),
      s"changes must carry the base columns plus $opCol and $seqCol" +
        (if (allowNewColumns) " (new columns allowed)" else "") +
        s"; got ${changes.columns.toSeq.sorted}")
    val mergedData = dataCols ++
      (changes.columns.toSeq.filterNot(c => dataCols.contains(c) ||
        c == opCol || c == seqCol))
    val ordered = (mergedData :+ opCol :+ seqCol).map(col)
    val all = base.withColumn(opCol, lit("B")).withColumn(seqCol, lit(-1L))
      .unionByName(changes, allowMissingColumns = true)
      .select(ordered: _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    all.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1 && col(opCol) =!= "D")
      .drop("__graft_rn", opCol, seqCol)
  }

  /** Partition columns of a table directory, outermost first, by walking
    * the `<col>=<val>/` nesting. */
  private def detectPartitionCols(fs: FileSystem, root: Path): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = root
    var descend = true
    while (descend) {
      descend = false
      val sub = fs.listStatus(cur).filter(s => s.isDirectory && s.getPath.getName.contains("="))
      sub.headOption.foreach { d =>
        cols += d.getPath.getName.substring(0, d.getPath.getName.indexOf('='))
        cur = d.getPath
        descend = true
      }
    }
    cols.toSeq
  }

  /** Write as a bucketed catalog table (`bucketBy` requires the table
    * catalog, not a bare path). Two tables bucketed the same way on the
    * join key co-locate: the join runs with NO shuffle on either side —
    * at 100 TB this converts every fact-fact join on the bucket key from
    * a full-network exchange into a local merge. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, compression: String = "snappy"): Unit = {
    val spark = df.sparkSession
    // Idempotence across JVMs: an in-memory catalog forgets tables between
    // sessions but their warehouse directories persist; clear both.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir") + s"/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .format("orc")
      .option("compression", compression.toLowerCase)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }
}
