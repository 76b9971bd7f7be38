package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{OrcFooters, SnapshotTable}

/** Path-based catalog over snapshot tables — the Delta `delta.`/path/``
  * shape, registered once per session:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft",
  *   "graft.sources.SnapshotTableCatalog")
  * spark.sql("SELECT * FROM graft.`/data/events` VERSION AS OF 3")
  * spark.sql("SELECT * FROM graft.`/data/events` TIMESTAMP AS OF '...'")
  * spark.sql("INSERT INTO graft.`/data/events` SELECT ...")
  * }}}
  *
  * The backticked identifier IS the table directory; `VERSION AS OF` /
  * `TIMESTAMP AS OF` resolve through the commit log's version numbers
  * and write-time-monotonized stamps (Spark hands timestamps down in
  * MICROseconds). Tables are created by the first
  * [[SnapshotTable.commit]] (or `cli table commit`), not by DDL. The
  * mutation surface is INSERT + row-level DML (via the table's
  * row-level-operation support) + `ALTER TABLE ADD COLUMNS`/
  * `DROP COLUMN` (see [[alterTable]] — both zero-data-I/O log commits);
  * DROP/RENAME TABLE stay operator actions.
  */
class SnapshotTableCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "graft"

  /** FunctionCatalog half (VERDICT r15 #1): storage-partitioned joins
    * need Spark to RESOLVE a bucket transform to a canonical function —
    * V2ExpressionUtils looks `bucket` up in the table's catalog; two
    * scans whose bound functions share a canonical name and bucket
    * count are co-partitioned, and the Exchange drops. The function's
    * semantics (pmod of Spark's murmur3, seed 42) are exactly what the
    * write path stamped, so partition values agree by construction. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "bucket" if ident.namespace().isEmpty => GraftBucketFunction
      case _ => throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident)
    }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      ident.name().equalsIgnoreCase("bucket")

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String = {
    // `graft.`/tmp/t`` parses to namespace=[] name="/tmp/t"; a dotted
    // multi-part identifier is not a path table
    if (ident.namespace().nonEmpty) throw new NoSuchTableException(ident)
    ident.name()
  }

  private def table(ident: Identifier,
                    extra: Map[String, String]): Table = {
    val spark = SparkSession.active
    val dir = dirOf(ident)
    if (SnapshotTable.versions(spark, dir).isEmpty)
      throw new NoSuchTableException(ident)
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", dir)
    extra.foreach { case (k, v) => opts.put(k, v) }
    val cis = new CaseInsensitiveStringMap(opts)
    val schema = new SnapshotTableProvider().inferSchema(cis)
    new SnapshotTableTable(schema, dir, cis)
  }

  override def loadTable(ident: Identifier): Table = table(ident, Map.empty)

  /** SQL `VERSION AS OF <v>`. */
  override def loadTable(ident: Identifier, version: String): Table =
    table(ident, Map("versionAsOf" -> version))

  /** SQL `TIMESTAMP AS OF <ts>` — Spark passes MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    table(ident, Map("timestampAsOf" -> (timestampMicros / 1000L).toString))

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      SnapshotTable.versions(SparkSession.active, ident.name()).nonEmpty

  // path catalog: there is no namespace to enumerate
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  /** SQL `CREATE TABLE graft.`/path`` (r17, VERDICT r16 #8 — enabled
    * now that the property channel is stable): one empty overwrite
    * commit recording the DDL schema, `PARTITIONED BY` transforms
    * rendered into the `graft.partition` property (identity / bucket /
    * truncate — validated against the schema exactly like
    * `setTableProperties`), and `TBLPROPERTIES` keys in the `graft.`
    * namespace carried as declarations (anything else is Spark-internal
    * catalog noise and dropped). CTAS works for free: Spark creates,
    * then writes through the DSv2 WriteBuilder, whose batches stamp
    * partition tuples from the recorded spec. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val spark = SparkSession.active
    val dir = dirOf(ident)
    if (SnapshotTable.versions(spark, dir).nonEmpty)
      throw new IllegalStateException(
        s"a graft snapshot table already exists at $dir")
    def singleRef(t: Transform): String = {
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"partition transform ${t.describe()} must reference exactly " +
          "one top-level column")
      refs.head.fieldNames().head
    }
    def litInt(t: Transform): Int =
      t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value() match {
            case i: java.lang.Integer => i.intValue()
            case l2: java.lang.Long => l2.intValue()
            case other => throw new IllegalArgumentException(
              s"unsupported transform argument $other")
          }
      }.getOrElse(throw new IllegalArgumentException(
        s"transform ${t.describe()} carries no numeric argument"))
    val spec = partitions.toSeq.map { t =>
      t.name() match {
        case "identity" => s"identity(${singleRef(t)})"
        case "bucket" => s"bucket(${litInt(t)},${singleRef(t)})"
        case "truncate" => s"truncate(${litInt(t)},${singleRef(t)})"
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform '$other' (graft tables " +
            "support identity, bucket and truncate)")
      }
    }
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.toMap
      .filter { case (k, _) => k.startsWith("graft.") } ++
      (if (spec.nonEmpty)
        Map(graft.sinks.TablePartitioning.Prop -> spec.mkString(","))
      else Map.empty)
    props.get(graft.sinks.TablePartitioning.Prop).foreach(s =>
      graft.sinks.TablePartitioning.validate(
        graft.sinks.TablePartitioning.parse(s), schema))
    SnapshotTable.commit(spark,
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      dir, "overwrite", props = props)
    loadTable(ident)
  }

  /** SQL schema DDL, both directions zero-data-I/O log commits:
    *
    *   - `ADD COLUMNS (c T, ...)`: one empty APPEND commit recording the
    *     widened schema — replay's merge-by-name does the rest (files
    *     written before the column null-fill it). New columns must be
    *     nullable for exactly that reason.
    *   - `DROP COLUMN c`: schema narrowing cannot ride merge-by-name
    *     (it only widens), so the drop publishes ONE overwrite commit
    *     carrying the SAME file and delete entries under the narrowed
    *     recorded schema — byte-free, version-pinned (an interleaved
    *     commit fails it loudly), and the pre-drop version stays
    *     time-travel-readable with the column intact. Dropping a column
    *     that keys a pending merge-on-read delete is refused (the
    *     delete would silently stop applying) — compact first. ADD of
    *     a previously-dropped name is refused while any live file still
    *     physically holds the old values (footer-checked): by-name
    *     matching would resurrect them — compact to shed, then re-add.
    *
    * Renames/retypes need column mapping and stay unsupported. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    // BOTH DDL paths pin the version they read (ADVICE r14: an unpinned
    // ADD publish racing a DROP overwrite would re-record the dropped
    // column via merge-by-name and resurrect its physically-present
    // values). A lost race re-runs the WHOLE alter — schema re-read,
    // ghost re-check — against the fresh snapshot, a few times, then
    // fails loudly.
    var attempts = 0
    while (true) {
      try return alterOnce(ident, changes)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts > 3) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def alterOnce(ident: Identifier,
                        changes: Seq[TableChange]): Table = {
    val spark = SparkSession.active
    val dir = dirOf(ident)
    if (SnapshotTable.versions(spark, dir).isEmpty)
      throw new NoSuchTableException(ident)
    val readVersion = SnapshotTable.currentVersion(spark, dir).get
    var schema = SnapshotTable.snapshotSchema(spark, dir,
      Some(readVersion)).getOrElse(
      throw new UnsupportedOperationException(
        s"$dir predates schema recording — ALTER TABLE needs a recorded " +
          "snapshot schema; evolve it through one commit first"))
    var dropped = false
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "nested ADD COLUMN is unsupported")
        val n = add.fieldNames().head
        require(!schema.fieldNames.contains(n),
          s"column '$n' already exists in $dir")
        require(add.isNullable,
          s"new column '$n' must be nullable — rows written before it " +
            "exists null-fill it")
        // by-name matching has no column mapping: if any LIVE data file
        // PHYSICALLY contains this name (written before a DROP COLUMN),
        // re-adding it would silently RESURRECT the dropped values into
        // the new column. One footer sweep over the live files (the same
        // O(#files) cost as any commit's stats harvest, for a rare DDL)
        // guards it; compact first to physically shed the old column.
        val live = SnapshotTable.snapshotFiles(spark, dir,
          Some(readVersion))
        val ghosts = OrcFooters.entries(spark, dir, live.map(_.path), Seq(n))
          .count(_.stats.contains(n))
        require(ghosts == 0,
          s"column '$n' still exists physically in $ghosts live data " +
            s"file(s) of $dir (written before a DROP COLUMN) — re-adding " +
            "it would resurrect the dropped values; compact the table " +
            "to shed them first")
        schema = StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(n, add.dataType(),
            nullable = true))
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "nested DROP COLUMN is unsupported")
        val n = del.fieldNames().head
        if (!schema.fieldNames.contains(n)) {
          if (!del.ifExists())
            throw new IllegalArgumentException(s"no column '$n' in $dir")
        } else {
          require(schema.fields.length > 1,
            s"cannot drop the last column of $dir")
          require(!SnapshotTable.pendingDeletes(spark, dir)
              .exists(_.keyCol == n),
            s"column '$n' keys a pending merge-on-read delete — compact " +
              "to materialize it before dropping the column")
          // partition-spec interplay (VERDICT r15 #1): the recorded
          // layout references the column — dropping it would orphan the
          // spec (stamps unreadable, pruning/SPJ unsound to re-derive)
          val propsAtV = SnapshotTable.tableProperties(spark, dir,
            Some(readVersion))
          require(!graft.sinks.TablePartitioning.specOf(propsAtV)
            .exists(_.exists(_.col == n)),
            s"column '$n' is referenced by the table's partition spec " +
              s"(${graft.sinks.TablePartitioning.Prop}) — clear or " +
              "change the spec before dropping the column")
          require(!propsAtV.get(SnapshotTable.UpdateKeyProp).contains(n),
            s"column '$n' is the declared row-identity key " +
              s"(${SnapshotTable.UpdateKeyProp}) — clear the " +
              "declaration before dropping the column")
          schema = StructType(schema.fields.filterNot(_.name == n))
          dropped = true
        }
      case other => throw new UnsupportedOperationException(
        "unsupported ALTER TABLE change for graft tables " +
          s"(schema otherwise evolves through commits): $other")
    }
    if (dropped) {
      val (files, dels) = SnapshotTable.snapshotState(spark, dir,
        Some(readVersion))
      SnapshotTable.publish(spark, dir, "overwrite", files,
        maxRetries = 3, schemaJson = Some(schema.json),
        expectedVersion = Some(readVersion), deletes = dels)
    } else {
      // version-pinned like the DROP path: a lost race re-enters the
      // publish loop where the expectedVersion guard turns it into CME,
      // and alterTable re-derives the schema from the fresh snapshot
      SnapshotTable.publish(spark, dir, "append", Nil, maxRetries = 3,
        schemaJson = Some(schema.json),
        expectedVersion = Some(readVersion))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "destroying a table is expire+vacuum, an operator action — " +
        "DROP TABLE is deliberately unsupported")

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "a path table's name IS its location; move the directory instead")
}

/** The `bucket(n, col)` V2 function: pmod of Spark's murmur3 (seed 42)
  * — BYTE-IDENTICAL to `functions.hash`, which the write path uses to
  * compute the stamped bucket ([[graft.sinks.TablePartitioning]]
  * routes both sides through the same [[TablePartitioning.bucketOf]]
  * for literals). Spark's SPJ machinery compares bound functions by
  * `canonicalName`, so both sides of a co-partitioned join resolve to
  * this one object and match. */
object GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(murmur3(col), n) — graft partition transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, value), got $inputType")
    val vt = inputType.fields(1).dataType
    vt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           DateType =>
      case other => throw new UnsupportedOperationException(
        s"bucket: unsupported value type ${other.simpleString}")
    }
    new ScalarFunction[Int] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, vt)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = s"graft.bucket(${vt.sql})"
      override def isResultNullable: Boolean = false
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Int = {
        val n = input.getInt(0)
        val v: Any = vt match {
          case ByteType => input.getByte(1)
          case ShortType => input.getShort(1)
          case IntegerType | DateType => input.getInt(1)
          case LongType => input.getLong(1)
          case _ => input.getUTF8String(1)
        }
        graft.sinks.TablePartitioning.bucketOf(v, n)
      }
    }
  }
}
