package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

import graft.sinks.SnapshotTable.{ColStats, FileEntry, u8gt, u8lt, sargSafeString}

/** A key range in one of the two domains the manifest's footer stats
  * carry: numbers (the min/max channel, as doubles) or strings in UTF-8
  * byte order (the minStr/maxStr channel — the order ORC footers and
  * Spark's UTF8String both use, see [[SnapshotTable.u8cmp]]). Every range
  * rule the snapshot table applies to manifest stats is stated here once
  * for both domains: scan pruning, copy-on-write deletes, rebase proofs,
  * the pushed-filter pruning of the DSv2 source, the metadata-only SQL
  * DELETE and merge's file stabbing. Bounds are inclusive. */
sealed trait KeyRange extends Product with Serializable {
  protected type K
  /** This domain's [min, max] of a file's non-null keys, if recorded. */
  protected def extrema(s: ColStats): Option[(K, K)]
  /** `k` lies below the lower bound / above the upper bound. */
  protected def below(k: K): Boolean
  protected def above(k: K): Boolean

  /** May a file whose stats on the key column are `s` hold a key in
    * range? Missing stats in this domain keep the file, and so do NaN
    * extrema (they prove nothing), so pruning only ever drops files that
    * provably hold no match. */
  def mayHold(s: Option[ColStats]): Boolean = s.flatMap(extrema) match {
    case Some((mn, mx)) => !below(mx) && !above(mn)
    case None => true
  }

  /** The rebase proof: does no file hold a key in range? Empty and
    * null-only files commute (every rewrite checked with it keeps null
    * keys: a delete's survivors, a merge's anti-join), a recorded
    * [min, max] must clear the range, and missing stats fail. */
  def disjointFrom(files: Seq[FileEntry], keyCol: String): Boolean =
    files.forall { e =>
      e.rows == 0 || e.stats.get(keyCol).exists { s =>
        extrema(s) match {
          case Some((mn, mx)) => below(mx) || above(mn)
          case None => s.nulls == e.rows
        }
      }
    }

  /** Scan predicate on `column` of `df`, shaped so ORC can push it and
    * can never wrongly skip a stripe. */
  def scanCond(df: DataFrame, column: String): Column

  /** Copy-on-write delete survivors: rows whose key lies outside the
    * range. Null keys are in no range and always survive. */
  def survivorCond(key: Column): Column

  /** The range holding the keys of both (filter conjuncts on one
    * column); None when the domains differ. */
  def intersect(o: KeyRange): Option[KeyRange]
}

object KeyRange {

  /** The range of keys a file's stats record, in the domain they carry
    * (a column carries numeric OR string stats, never both — drift fails
    * loudly at commit); None without stats in either. */
  def of(s: ColStats): Option[KeyRange] = s match {
    case ColStats(Some(mn), Some(mx), _, _, _) => Some(Num(mn, mx))
    case ColStats(None, None, Some(mn), Some(mx), _) => Some(Utf8(mn, mx))
    case _ => None
  }

  /** Paths of the `files` that may hold a value of `keys`' column
    * `keyCol`: exact stabbing, not a bounding box (one key far outside
    * the table's range would otherwise take every file). The distinct
    * keys range-join the broadcast ranges of the files' stats, both
    * domains in one join: a key stabs a numeric range through
    * `try_cast(key as double)`, so a key that cannot be cast stabs
    * nothing instead of failing under ANSI, and a string range through
    * its string form, compared in UTF-8 byte order as the footers are.
    * Files without stats on the key are always in the set. The collect
    * is bounded by #files. */
  def stabbed(keys: DataFrame, keyCol: String, files: Seq[FileEntry]): Set[String] = {
    val ranged = files.flatMap(e =>
      e.stats.get(keyCol).flatMap(of).map(e.path -> _))
    val statless = files.map(_.path).toSet -- ranged.map(_._1)
    if (ranged.isEmpty) statless
    else {
      val spark = keys.sparkSession
      import spark.implicits._
      val table = ranged.map {
        case (p, Num(lo, hi)) => (p, Some(lo), Some(hi), None, None)
        case (p, Utf8(lo, hi)) => (p, None, None, lo, hi)
      }.toDF("_path", "_nlo", "_nhi", "_slo", "_shi")
      val k = keys.select(col(keyCol).try_cast("double").as("_kn"),
        col(keyCol).cast("string").as("_ks")).distinct()
      statless ++ k.join(broadcast(table),
          (col("_kn") >= col("_nlo") && col("_kn") <= col("_nhi")) ||
            (col("_ks") >= col("_slo") && col("_ks") <= col("_shi")))
        .select(col("_path")).distinct()
        .collect().map(_.getString(0))
    }
  }

  /** Numeric range; an open side is ±Infinity. */
  final case class Num(lo: Double, hi: Double) extends KeyRange {
    protected type K = Double
    protected def extrema(s: ColStats): Option[(Double, Double)] =
      for (mn <- s.min; mx <- s.max) yield (mn, mx)
    protected def below(k: Double): Boolean = k < lo
    protected def above(k: Double): Boolean = k > hi

    /** Comparing the raw column against literals CAST TO THE COLUMN'S
      * TYPE reaches the scan as `PushedFilters: [GreaterThanOrEqual,
      * LessThanOrEqual]` (per-stripe min/max skipping inside kept files);
      * the naive `col >= doubleLit` wraps the column in cast(col as
      * double), which pushes nothing but IsNotNull. Only exact rewrites:
      * integral types take ceil(lo)/floor(hi) (equivalent bounds, no
      * truncation bugs), doubles compare for free; float/decimal keep the
      * cast-column form — rounding a double literal INTO those types
      * could move the boundary. */
    def scanCond(df: DataFrame, column: String): Column = {
      val c = col(column)
      df.schema.find(_.name == column).map(_.dataType) match {
        case Some(dt @ (ByteType | ShortType | IntegerType | LongType)) =>
          c >= lit(math.ceil(lo)).cast(dt) && c <= lit(math.floor(hi)).cast(dt)
        case Some(DoubleType) => c >= lit(lo) && c <= lit(hi)
        case _ => c >= lo && c <= hi
      }
    }

    /** The null test is on the CAST value, not the raw column: a
      * non-numeric key casts to NULL, and testing only the raw column
      * would leave `false || !NULL = NULL` — silently deleting every
      * non-castable row. try_cast, not cast: under ANSI mode a plain cast
      * THROWS on the first malformed key. */
    def survivorCond(key: Column): Column = {
      val k = key.try_cast("double")
      k.isNull || !k.between(lo, hi)
    }

    def intersect(o: KeyRange): Option[KeyRange] = o match {
      case Num(l, h) => Some(Num(math.max(lo, l), math.min(hi, h)))
      case _ => None
    }
  }

  /** String range in UTF-8 byte order. Strings have no greatest value,
    * so an open side is None. */
  final case class Utf8(lo: Option[String], hi: Option[String])
      extends KeyRange {
    protected type K = String
    protected def extrema(s: ColStats): Option[(String, String)] =
      for (mn <- s.minStr; mx <- s.maxStr) yield (mn, mx)
    protected def below(k: String): Boolean = lo.exists(u8lt(k, _))
    protected def above(k: String): Boolean = hi.exists(u8gt(k, _))

    /** For order-safe literals ([[SnapshotTable.sargSafeString]]) the
      * plain column comparison, which pushes to ORC with full stripe
      * skipping. Otherwise the comparison runs on `cast(col as binary)` —
      * unsigned byte-wise, UTF-8 order by construction — which no
      * file-source filter translation pushes, so ORC's Java-ordered SARG
      * evaluation never sees it. */
    def scanCond(df: DataFrame, column: String): Column = cond(col(column))

    private def cond(c: Column): Column = {
      val safe = (lo ++ hi).forall(sargSafeString)
      val k = if (safe) c else c.cast("binary")
      def v(s: String): Column = lit(if (safe) s else s.getBytes(UTF_8))
      (lo.map(k >= v(_)) ++ hi.map(k <= v(_)))
        .reduceOption(_ && _).getOrElse(c.isNotNull)
    }

    def survivorCond(key: Column): Column = key.isNull || !cond(key)

    def intersect(o: KeyRange): Option[KeyRange] = o match {
      case Utf8(l, h) =>
        def pick(a: Option[String], b: Option[String],
                 tighter: (String, String) => Boolean) = (a ++ b)
          .reduceOption((x, y) => if (tighter(x, y)) x else y)
        Some(Utf8(pick(lo, l, u8gt), pick(hi, h, u8lt)))
      case _ => None
    }
  }

  object Utf8 {
    def apply(lo: String, hi: String): Utf8 = Utf8(Some(lo), Some(hi))
  }
}
