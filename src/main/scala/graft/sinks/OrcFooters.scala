package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.orc.{ColumnStatistics, DateColumnStatistics,
  DecimalColumnStatistics, DoubleColumnStatistics, IntegerColumnStatistics,
  OrcFile, StringColumnStatistics, TimestampColumnStatistics}
import org.apache.spark.sql.SparkSession

import graft.sinks.SnapshotTable.{ColStats, FileEntry}

/** The one ORC footer reader. It owns two decisions:
  *
  *  - which files of a written directory are its ORC part files
  *    ([[partFiles]]): visible files at any depth whose names end in
  *    `.orc`. Visible is Spark's own reading rule, so the footers read are
  *    the files a read of the directory scans: a name starting with `.` is
  *    hidden, and so is one starting with `_` unless it is a `col=value`
  *    partition directory (`_SUCCESS`, `_GRAFT_SUCCESS`, `.crc` files and
  *    `_temporary/` are skipped; `__bucket=3/` is not);
  *  - how footers become manifest entries ([[entries]]): rows, content
  *    bytes and the requested columns' statistics. Up to [[DriverMaxFiles]]
  *    files are read on the driver's common pool; above it, by one
  *    footer-only Spark job. Either way every footer is parsed, so a read
  *    also proves each file is complete, well-formed ORC.
  *
  * Paths in and out are root-relative. */
object OrcFooters {

  /** The placement constant. On one 4-core host with local disk the
    * driver read wins at every size measured (4 to 1024 files: 4 to 79 ms
    * against a job's 65 to 173 ms, CHANGES.md), because there the job's
    * tasks share the driver's cores and disk. No measured size favours the
    * job, so the constant is the old verify threshold, 256: no read that
    * ran on the driver before moves to a job, and commit harvests of 17 to
    * 256 files, which took a job under the old 16-file harvest threshold,
    * move to the driver read, measured faster. The crossover on remote
    * storage is unmeasured. */
  val DriverMaxFiles = 256

  /** Root-relative paths of the ORC part files under `root`, sorted;
    * empty when `root` does not exist. */
  def partFiles(spark: SparkSession, root: String): Seq[String] =
    partFileLengths(spark, root).map(_._1)

  /** [[partFiles]] with each file's length in bytes, from one recursive
    * listing (a single flat LIST on object stores). */
  def partFileLengths(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val base = fs.makeQualified(p).toUri.getPath.stripSuffix("/") + "/"
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val full = f.getPath.toUri.getPath
      require(full.startsWith(base), s"${f.getPath} not under $root")
      val rel = full.stripPrefix(base)
      if (rel.endsWith(".orc") && rel.split('/').forall(visible))
        out += ((rel, f.getLen))
    }
    out.result().sortBy(_._1)
  }

  private def visible(name: String): Boolean =
    !name.startsWith(".") && (!name.startsWith("_") || name.contains("="))

  /** Entries of every part file under `root` (root-relative paths). */
  def dirEntries(spark: SparkSession, root: String,
                 statsCols: Seq[String] = Nil): Seq[FileEntry] =
    entries(spark, root, partFiles(spark, root), statsCols)

  /** Entries of the files `rels` under `root`, sorted by path, placed by
    * [[DriverMaxFiles]]. */
  def entries(spark: SparkSession, root: String, rels: Seq[String],
              statsCols: Seq[String] = Nil): Seq[FileEntry] =
    entriesAt(spark, root, rels, statsCols, onDriver = rels.size <= DriverMaxFiles)

  /** [[entries]] with the placement given. */
  private[graft] def entriesAt(spark: SparkSession, root: String,
      rels: Seq[String], statsCols: Seq[String],
      onDriver: Boolean): Seq[FileEntry] = {
    val read =
      if (rels.isEmpty) Seq.empty[FileEntry]
      else if (onDriver) {
        val conf = spark.sparkContext.hadoopConfiguration
        // footer reads are independent; overlapping them on the common
        // pool costs about one footer latency, not their sum
        rels.asJava.parallelStream()
          .map[FileEntry](r => footer(conf, root, r, statsCols))
          .collect(java.util.stream.Collectors.toList[FileEntry])
          .asScala.toSeq
      } else {
        val conf = new graft.sources.SerConf(spark.sparkContext.hadoopConfiguration)
        spark.sparkContext.parallelize(rels,
            math.min(rels.size, spark.sparkContext.defaultParallelism))
          .mapPartitions(_.map(r => footer(conf.value, root, r, statsCols)))
          .collect().toSeq
      }
    read.sortBy(_.path)
  }

  private def footer(conf: Configuration, root: String, rel: String,
                     statsCols: Seq[String]): FileEntry = {
    val reader = OrcFile.createReader(new Path(s"$root/$rel"),
      OrcFile.readerOptions(conf))
    try {
      val schema = reader.getSchema
      val all = reader.getStatistics
      val names = schema.getFieldNames.asScala
      val rows = reader.getNumberOfRows
      val stats = statsCols.flatMap { c =>
        val i = names.indexOf(c)
        // stats are indexed by TypeDescription id (root = 0)
        if (i < 0) None
        else Some(c -> colStats(all(schema.getChildren.get(i).getId), rows))
      }.toMap
      FileEntry(rel, rows, reader.getContentLength, stats)
    } finally reader.close()
  }

  private def colStats(s: ColumnStatistics, fileRows: Long): ColStats = {
    val nulls = math.max(0L, fileRows - s.getNumberOfValues)
    if (s.getNumberOfValues == 0) return ColStats(None, None, None, None, nulls)
    s match {
      case i: IntegerColumnStatistics =>
        ColStats(Some(i.getMinimum.toDouble), Some(i.getMaximum.toDouble),
          None, None, nulls)
      case d: DoubleColumnStatistics =>
        ColStats(Some(d.getMinimum), Some(d.getMaximum), None, None, nulls)
      case d: DecimalColumnStatistics =>
        ColStats(Some(d.getMinimum.doubleValue()),
          Some(d.getMaximum.doubleValue()), None, None, nulls)
      case t: TimestampColumnStatistics =>
        ColStats(Some(t.getMinimum.getTime.toDouble),
          Some(t.getMaximum.getTime.toDouble), None, None, nulls)
      case d: DateColumnStatistics =>
        ColStats(Some(d.getMinimumDayOfEpoch.toDouble),
          Some(d.getMaximumDayOfEpoch.toDouble), None, None, nulls)
      case st: StringColumnStatistics =>
        ColStats(None, None, Option(st.getMinimum), Option(st.getMaximum),
          nulls)
      case _ => ColStats(None, None, None, None, nulls)
    }
  }
}
