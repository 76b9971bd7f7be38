package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.OrcSink

/** Parquet timestamps not adjusted to UTC (as DuckDB and pandas write
  * them) read as TIMESTAMP_NTZ. The converter must land them in ORC as
  * timestamps, not as the int64 micros Spark's ORC writer emits for NTZ,
  * which non-Spark ORC readers see as plain numbers. */
class ParquetTimestampSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("Cli parquet writes a TIMESTAMP_NTZ column as an ORC timestamp " +
    "holding the same wall-clock value") {
    val base = Files.createTempDirectory("ntz").toFile
    base.deleteOnExit()
    val (in, out) = (s"$base/in", s"$base/orc")
    spark.sql("SELECT 1L AS id, timestamp_ntz'2024-05-06 07:08:09' AS ts")
      .write.parquet(s"$in/events.parquet")
    assert(spark.read.parquet(s"$in/events.parquet").schema("ts").dataType
      .typeName == "timestamp_ntz")
    val rep = Cli.run(spark, Seq("parquet", in, out, "zlib")).get
    assert(rep.successes == 1, rep.results)

    val part = new java.io.File(s"$out/events").listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val reader = OrcFile.createReader(new Path(part.getPath),
      OrcFile.readerOptions(spark.sparkContext.hadoopConfiguration))
    try assert(reader.getSchema.findSubtype("ts").getCategory ==
      TypeDescription.Category.TIMESTAMP, reader.getSchema.toString)
    finally reader.close()

    val back = OrcSink.read(spark, s"$out/events")
    assert(back.schema("ts").dataType == TimestampType)
    assert(back.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0) == "2024-05-06 07:08:09")
  }
}
