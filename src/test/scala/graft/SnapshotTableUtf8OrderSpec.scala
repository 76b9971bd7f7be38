package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.sinks.{KeyRange, SnapshotTable}
import graft.sources.ManifestPruning

/** String-bound proofs must compare in UTF-8 BYTE order (what ORC
  * footer min/max and Spark's UTF8String both use), never Java
  * String/UTF-16 order. The two diverge exactly when strings mix
  * [U+E000,U+FFFF] BMP chars with supplementary-plane chars: a
  * surrogate pair leads with 0xD800-0xDBFF (below 0xE000 in UTF-16)
  * but encodes as 4-byte 0xF0... (above 0xEF... in UTF-8). Every test
  * here uses U+FFFF vs U+1F600 (😀): Java says "￿" > "😀",
  * UTF-8 says "￿" < "😀". Before the fix each scenario silently
  * dropped or wrongly returned rows. */
class SnapshotTableUtf8OrderSpec extends AnyFunSuite
    with SparkSessionTestWrapper {

  import spark.implicits._

  private val FFFF = "￿"           // U+FFFF  -> EF BF BF
  private val EMOJI = "😀"    // U+1F600 -> F0 9F 98 80

  private def freshDir(): String = {
    val d = Files.createTempDirectory("snaputf8").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("orders diverge on the fixture (sanity of the test itself)") {
    assert(FFFF.compareTo(EMOJI) > 0, "Java/UTF-16 order")
    assert(SnapshotTable.u8cmp(FFFF, EMOJI) < 0, "UTF-8 order")
  }

  /** One data file holding {"a", U+FFFF, 😀}: its true UTF-8 string
    * range is [a, 😀], and U+FFFF lies inside it. */
  private def stageMixed(dir: String): Unit = {
    val df = Seq(("a", 1L), (FFFF, 2L), (EMOJI, 3L)).toDF("k", "v")
    SnapshotTable.commit(spark, df.coalesce(1), dir, "overwrite",
      statsCols = Seq("k"))
  }

  test("footer string stats record UTF-8 extrema (producer sanity)") {
    val dir = freshDir()
    stageMixed(dir)
    val st = SnapshotTable.snapshotFiles(spark, dir, None)
      .head.stats("k")
    assert(st.minStr.contains("a"))
    assert(st.maxStr.contains(EMOJI),
      "ORC footer max must be the emoji (UTF-8 greatest), not U+FFFF")
  }

  test("pruneIn keeps a file whose UTF-8 range holds the IN value " +
    "(Java order would drop it -> silent row loss in DPP)") {
    val dir = freshDir()
    stageMixed(dir)
    val files = SnapshotTable.snapshotFiles(spark, dir, None)
    val kept = ManifestPruning.pruneIn(files, "k", Array[Any](FFFF))
    assert(kept.nonEmpty, s"file wrongly pruned for IN ($FFFF)")
  }

  test("filter consumption is NOT proven across the UTF-16/UTF-8 gap: " +
    "k <= U+FFFF must still exclude the emoji row") {
    val dir = freshDir()
    stageMixed(dir)
    val got = spark.read.format("graft-table").load(dir)
      .filter(col("k") <= FFFF)
      .select("v").as[Long].collect().toSet
    assert(got == Set(1L, 2L),
      s"emoji row must not pass k <= U+FFFF (got $got)")
  }

  test("pushed MAX folds string bounds in UTF-8 order across files") {
    val dir = freshDir()
    // two files with per-file maxes U+FFFF and emoji; UTF-8 max = emoji
    SnapshotTable.commit(spark,
      Seq(("a", 1L), (FFFF, 2L)).toDF("k", "v").coalesce(1),
      dir, "overwrite", statsCols = Seq("k"))
    SnapshotTable.commit(spark,
      Seq(("b", 3L), (EMOJI, 4L)).toDF("k", "v").coalesce(1),
      dir, "append", statsCols = Seq("k"))
    val viaTable = spark.read.format("graft-table").load(dir)
      .agg(max("k")).as[String].head()
    val viaRows = spark.read.format("graft-table").load(dir)
      .select("k").as[String].collect().max(Ordering.comparatorToOrdering(
        (a: String, b: String) => SnapshotTable.u8cmp(a, b)))
    assert(viaTable == EMOJI && viaRows == EMOJI,
      s"pushed MAX must equal the scan MAX (got $viaTable vs $viaRows)")
  }

  test("scanPrunedString keeps the straddling file for a range the " +
    "UTF-8 order intersects") {
    val dir = freshDir()
    stageMixed(dir)
    val (df, kept, total) =
      SnapshotTable.scanPruned(spark, dir, "k", KeyRange.Utf8(FFFF, FFFF))
    assert(kept == 1 && total == 1)
    // the range condition must also stay out of ORC's Java-ordered SARG
    // evaluation (u8RangeCond's binary shield) — else the row group is
    // skipped even though the manifest kept the file
    assert(df.select("v").as[Long].collect().toSet == Set(2L))
  }

  test("deleteString rewrites the straddling file (Java order would " +
    "carry it and leave the keyed row alive)") {
    val dir = freshDir()
    stageMixed(dir)
    val rep = SnapshotTable.delete(spark, dir, "k", KeyRange.Utf8(FFFF, FFFF))
    assert(rep.rowsDeleted == 1L, s"expected 1 deleted row, got $rep")
    val left = SnapshotTable.read(spark, dir)
      .select("v").as[Long].collect().toSet
    assert(left == Set(1L, 3L))
  }

  test("a metadata-only SQL DELETE intersects string bounds in UTF-8 " +
    "order (UTF-16 order kept the looser bound and over-deleted)") {
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.SnapshotTableCatalog")
    val dir = freshDir()
    val top = new String(Character.toChars(0x10FFFF))
    SnapshotTable.commit(spark,
      Seq(("\uE001", 1L), (EMOJI + "x", 2L), ("a", 3L)).toDF("k", "v")
        .coalesce(1), dir, "overwrite", statsCols = Seq("k"))
    // UTF-16 order ranks U+E000 above the emoji, UTF-8 order below it
    val where = s"k >= '\uE000' AND k >= '$EMOJI' AND k <= '$top'"
    val want = SnapshotTable.read(spark, dir).filter(not(expr(where)))
      .select("v").as[Long].collect().toSet
    assert(want == Set(1L, 3L))
    spark.sql(s"DELETE FROM graft.`$dir` WHERE $where")
    val left = SnapshotTable.read(spark, dir)
      .select("v").as[Long].collect().toSet
    assert(left == want, s"DELETE must keep exactly NOT (where) rows")
  }
}
