package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.sinks.{KeyRange, SnapshotTable}

/** Commit-protocol laws for the snapshot table: replay semantics
  * (append/overwrite/time travel), atomicity (unpublished data is
  * invisible), optimistic-concurrency retry, footer-harvested stats
  * equality with recomputed truth, pruning soundness on random ranges,
  * and vacuum safety. */
class SnapshotTableSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("snaptbl").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def df(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"r$i", i * 2.5)).toDF("id", "name", "v")

  test("append/overwrite replay and time travel") {
    val dir = freshDir()
    val v0 = SnapshotTable.commit(spark, df(0, 100), dir, "overwrite")
    val v1 = SnapshotTable.commit(spark, df(100, 150), dir, "append")
    val v2 = SnapshotTable.commit(spark, df(500, 510), dir, "overwrite")
    val v3 = SnapshotTable.commit(spark, df(510, 520), dir, "append")
    assert(Seq(v0, v1, v2, v3) === Seq(0L, 1L, 2L, 3L))
    assert(SnapshotTable.read(spark, dir, Some(0)).count() === 100)
    assert(SnapshotTable.read(spark, dir, Some(1)).count() === 150)
    assert(SnapshotTable.read(spark, dir, Some(2)).count() === 10)
    assert(SnapshotTable.read(spark, dir).count() === 20)
    // every version still readable after later overwrites (no vacuum)
    assert(SnapshotTable.read(spark, dir, Some(1))
      .agg(sum(col("id"))).head().getLong(0) === (0L until 150L).sum)
  }

  test("uncommitted data is invisible; vacuum reclaims it and spares the committed") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 50), dir, "overwrite")
    // simulate a crashed commit: data files on disk, no log entry
    df(900, 950).write.orc(s"$dir/data/batch-orphan")
    assert(SnapshotTable.read(spark, dir).count() === 50)
    // default retention (7d) treats the fresh residue as a possibly
    // in-flight commit's staged data — it must survive
    assert(SnapshotTable.vacuum(spark, dir).isEmpty)
    val dead = SnapshotTable.vacuum(spark, dir, retentionMs = 0L)
    assert(dead.nonEmpty && dead.forall(_.startsWith("data/batch-orphan")))
    assert(!Files.list(Paths.get(s"$dir/data")).iterator().hasNext ==
      false) // data dir still there
    assert(SnapshotTable.read(spark, dir).count() === 50) // unharmed
    assert(SnapshotTable.vacuum(spark, dir, retentionMs = 0L).isEmpty) // idempotent
  }

  test("vacuum never deletes files an in-flight commit just staged") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 50), dir, "overwrite")
    // a concurrent writer has staged its batch but not yet published:
    // at scan time these look unreferenced, but deleting them would let
    // the commit land referencing vanished files
    df(100, 150).write.orc(s"$dir/data/batch-inflight")
    // maintenance vacuum under the retention window: staged files live
    assert(SnapshotTable.vacuum(spark, dir).isEmpty)
    assert(spark.read.orc(s"$dir/data/batch-inflight").count() === 50)
  }

  test("optimistic concurrency: a lost race retries to the next version") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 10), dir, "overwrite")
    // occupy v1 by hand — the next committer must land at v2
    val taken = Paths.get(dir, "_log", "v" + "0" * 19 + "1.json")
    Files.write(taken,
      """{"version":1,"action":"append","files":[]}""".getBytes)
    val v = SnapshotTable.commit(spark, df(10, 20), dir, "append")
    assert(v === 2L)
    assert(SnapshotTable.read(spark, dir).count() === 20)
  }

  test("footer-harvested stats equal recomputed truth") {
    val dir = freshDir()
    val data = Seq((5L, 2.5, "bb"), (1L, -3.0, "aa"), (9L, 0.5, "zz"),
      (7L, 1.0, null.asInstanceOf[String])).toDF("id", "v", "s")
    SnapshotTable.commit(spark, data.coalesce(1), dir, "overwrite",
      statsCols = Seq("id", "v", "s"))
    val e = SnapshotTable.snapshotFiles(spark, dir).head
    assert(e.rows === 4)
    assert(e.stats("id") === SnapshotTable.ColStats(Some(1.0), Some(9.0),
      None, None, 0L))
    assert(e.stats("v") === SnapshotTable.ColStats(Some(-3.0), Some(2.5),
      None, None, 0L))
    assert(e.stats("s") === SnapshotTable.ColStats(None, None, Some("aa"),
      Some("zz"), 1L))
  }

  test("pruning is sound on arbitrary ranges and skips dead files") {
    val dir = freshDir()
    val data = (0L until 4000L).map(i => (i, i % 7)).toDF("id", "g")
    SnapshotTable.commit(spark, data.repartitionByRange(8, col("id")), dir,
      "overwrite", statsCols = Seq("id"))
    val full = SnapshotTable.read(spark, dir)
    for ((lo, hi) <- Seq((0.0, 100.0), (1500.0, 1700.0), (3900.0, 4100.0),
      (-50.0, -1.0), (900.0, 3100.0))) {
      val (pruned, kept, total) =
        SnapshotTable.scanPruned(spark, dir, "id", lo, hi)
      val truth = full.where(col("id") >= lo && col("id") <= hi)
      assert(total === 8)
      assert(pruned.agg(count(lit(1)), sum(col("id"))).head() ===
        truth.agg(count(lit(1)), sum(col("id"))).head(), s"range [$lo,$hi]")
      // narrow ranges must actually skip files on a range-clustered table
      if (hi - lo <= 300.0) assert(kept <= 2, s"range [$lo,$hi] kept $kept")
    }
  }

  test("merge: copy-on-write upsert rewrites only overlapping files, byte-identical carry") {
    val dir = freshDir()
    val data = (0L until 4000L).map(i => (i, i * 10)).toDF("id", "v")
    SnapshotTable.commit(spark, data.repartitionByRange(8, col("id")), dir,
      "overwrite", statsCols = Seq("id"))
    val before = SnapshotTable.snapshotFiles(spark, dir)
      .map(e => e.path -> e.bytes).toMap
    // update a narrow key slice + insert brand-new keys
    val updates = ((100L until 200L).map(i => (i, -1L)) ++
      Seq((9000L, 1L), (9001L, 2L))).toDF("id", "v")
    val r = SnapshotTable.merge(spark, dir, updates, "id",
      statsCols = Seq("id"))
    assert(r.filesCarried >= 6, s"carried ${r.filesCarried}")
    // carried entries are the SAME files (path and bytes unchanged)
    val after = SnapshotTable.snapshotFiles(spark, dir)
    val carried = after.filter(e => before.contains(e.path))
    assert(carried.size === r.filesCarried)
    carried.foreach(e => assert(e.bytes === before(e.path)))
    // content: updated slice replaced, inserts present, rest untouched
    val m = SnapshotTable.read(spark, dir)
    assert(m.count() === 4002)
    assert(m.where(col("id").between(100, 199) && col("v") === -1L)
      .count() === 100)
    assert(m.where(col("id") >= 9000).count() === 2)
    assert(m.where(col("id") === 50).select("v").head().getLong(0) === 500)
    // pre-merge version still time-travels to the original content
    assert(SnapshotTable.read(spark, dir, Some(0)).count() === 4000)
  }

  test("merge without stats conservatively rewrites everything, correctly") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 100), dir, "overwrite") // no stats
    val r = SnapshotTable.merge(spark, dir,
      Seq((5L, "X", 0.0)).toDF("id", "name", "v"), "id")
    assert(r.filesCarried === 0)
    val m = SnapshotTable.read(spark, dir)
    assert(m.count() === 100)
    assert(m.where(col("id") === 5).select("name").head().getString(0) === "X")
  }

  test("compact bin-packs, preserves rows, and restores prunability") {
    val dir = freshDir()
    val data = (0L until 4000L).map(i => (i, i % 13)).toDF("id", "g")
    // 16 hash-scattered files: every file spans the whole key range
    SnapshotTable.commit(spark, data.repartition(16), dir, "overwrite",
      statsCols = Seq("id"))
    assert(SnapshotTable.snapshotFiles(spark, dir).size === 16)
    val v = SnapshotTable.compact(spark, dir, targetBytes = 1L << 20,
      clusterBy = Some("id"), statsCols = Seq("id"))
    val files = SnapshotTable.snapshotFiles(spark, dir)
    assert(files.size < 16)
    val c = SnapshotTable.read(spark, dir)
    assert(c.count() === 4000)
    assert(c.agg(sum(col("id"))).head().getLong(0) === (0L until 4000L).sum)
    // clusterBy re-established tight ranges: a narrow slice prunes again
    val (_, kept, total) = SnapshotTable.scanPruned(spark, dir, "id", 0.0, 10.0)
    assert(kept === 1 || total === 1)
    assert(SnapshotTable.read(spark, dir, Some(v - 1)).count() === 4000)
  }

  test("change feed returns exactly the appended rows; overwrite spans are rejected") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 100), dir, "overwrite")
    SnapshotTable.commit(spark, df(100, 130), dir, "append")
    SnapshotTable.commit(spark, df(130, 140), dir, "append")
    val changes = SnapshotTable.changesSince(spark, dir, 0L)
    assert(changes.count() === 40)
    assert(changes.agg(min(col("id"))).head().getLong(0) === 100)
    val one = SnapshotTable.changesSince(spark, dir, 1L, Some(2L))
    assert(one.count() === 10)
    SnapshotTable.commit(spark, df(0, 5), dir, "overwrite")
    intercept[IllegalArgumentException] {
      SnapshotTable.changesSince(spark, dir, 0L)
    }
  }

  test("string pruning is sound, skips dead files; manifest rowCount is exact") {
    val dir = freshDir()
    SnapshotTable.commit(spark,
      df(0, 200).repartitionByRange(4, col("name")), dir, "overwrite",
      statsCols = Seq("name"))
    assert(SnapshotTable.rowCount(spark, dir) === 200)
    // soundness on an arbitrary lexicographic range
    val (pruned, kept, total) =
      SnapshotTable.scanPruned(spark, dir, "name", KeyRange.Utf8("r10", "r12"))
    val want = SnapshotTable.read(spark, dir)
      .filter(col("name") >= "r10" && col("name") <= "r12").count()
    assert(pruned.count() === want && want > 0)
    assert(kept < total, "a narrow lexicographic slice must skip files")
    // files without string stats are conservatively kept
    val dir2 = freshDir()
    SnapshotTable.commit(spark, df(0, 50), dir2, "overwrite") // no stats
    val (p2, k2, t2) =
      SnapshotTable.scanPruned(spark, dir2, "name", KeyRange.Utf8("r1", "r2"))
    assert(k2 === t2)
    assert(p2.count() === SnapshotTable.read(spark, dir2)
      .filter(col("name") >= "r1" && col("name") <= "r2").count())
  }

  test("files without stats for the pruning column are conservatively kept") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 100), dir, "overwrite") // no stats
    val (pruned, kept, total) =
      SnapshotTable.scanPruned(spark, dir, "id", 10.0, 20.0)
    assert(kept === total)
    assert(pruned.count() === 11)
  }

  test("concurrent committers: every commit lands exactly once, no lost update") {
    // POSIX rename OVERWRITES an existing destination, so the old
    // exists-then-rename publish was a TOCTOU race on local filesystems:
    // two writers could both believe they won version N and one commit
    // silently vanished. The put-if-absent publish (link(2)) makes the
    // winner unique. 8 threads x 3 appends of disjoint row ranges; all
    // 24 must be present and the version log dense.
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 10), dir, "overwrite")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 3).foreach { i =>
            val lo = 100 + (w * 3 + i) * 10
            SnapshotTable.commit(spark, df(lo, lo + 10), dir, "append",
              maxRetries = 200)
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(SnapshotTable.versions(spark, dir) === (0L to 24L))
    assert(SnapshotTable.read(spark, dir).count() === 10 + 24 * 10)
    assert(SnapshotTable.read(spark, dir).select("id").distinct().count()
      === 10 + 24 * 10)
  }

  test("read-modify-write commits fail instead of dropping an interleaved commit") {
    // merge/compact snapshot the file list, then publish an overwrite:
    // if another commit lands in between, retrying at N+1 would publish
    // the STALE list and silently drop it. The expectedVersion guard
    // must throw instead.
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 50), dir, "overwrite")
    val staleRead = SnapshotTable.currentVersion(spark, dir).get
    // an append interleaves after the reader snapshotted version 0
    SnapshotTable.commit(spark, df(50, 60), dir, "append")
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.publish(spark, dir, "overwrite",
        SnapshotTable.snapshotFiles(spark, dir, Some(staleRead)),
        maxRetries = 5, expectedVersion = Some(staleRead))
    }
    assert(e.getMessage.contains("re-run"))
    // nothing was lost: the interleaved append is still in the snapshot
    assert(SnapshotTable.read(spark, dir).count() === 60)
  }

  test("schema evolution: appends add columns with null-fill; time travel is as-of") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 50), dir, "overwrite")
    // v1 ADDS a column
    SnapshotTable.commit(spark,
      df(50, 80).withColumn("flag", col("id") % 2 === 0), dir, "append")
    // v2 OMITS columns (narrower writer)
    SnapshotTable.commit(spark,
      df(80, 90).select("id", "name"), dir, "append")
    val full = SnapshotTable.read(spark, dir)
    assert(full.columns.toSeq === Seq("id", "name", "v", "flag"))
    assert(full.count() === 90)
    // old files null-fill the added column; narrow files null-fill "v"
    assert(full.filter(col("flag").isNull).count() === 60)
    assert(full.filter(col("v").isNull).count() === 10)
    assert(full.filter(col("flag") === true).count() === 15)
    // time travel returns the AS-OF schema — no leaked future columns
    assert(SnapshotTable.read(spark, dir, Some(0L)).columns.toSeq
      === Seq("id", "name", "v"))
    assert(SnapshotTable.read(spark, dir, Some(1L)).columns.toSeq
      === Seq("id", "name", "v", "flag"))
    // retyping an existing column is drift, not evolution: fail loudly
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark,
        df(90, 95).withColumn("v", col("id").cast("string")), dir, "append")
      SnapshotTable.read(spark, dir)
    }
    assert(err.getMessage.contains("schema drift"))
  }

  test("log checkpoints bound replay: reads survive without pre-checkpoint log files") {
    val dir = freshDir()
    // 25 commits -> checkpoints at v10 and v20 (CheckpointEvery = 10)
    SnapshotTable.commit(spark, df(0, 10), dir, "overwrite")
    (1 to 24).foreach(i =>
      SnapshotTable.commit(spark, df(i * 10, i * 10 + 10), dir, "append",
        txn = Some(("ckpt-producer", i.toLong))))
    assert(Files.exists(Paths.get(dir, "_log", "ckpt-" + "0" * 18 + "10.json")))
    assert(Files.exists(Paths.get(dir, "_log", "ckpt-" + "0" * 18 + "20.json")))
    val full = SnapshotTable.read(spark, dir)
    assert(full.count() === 250)
    // time travel BEFORE the first checkpoint still replays the raw log
    assert(SnapshotTable.read(spark, dir, Some(7L)).count() === 80)
    // the checkpoint is REALLY used: corrupt every version file at or
    // below v20 — latest-snapshot reads must not touch them
    (0 to 20).foreach { i =>
      Files.write(Paths.get(dir, "_log", f"v$i%020d.json"),
        "GARBAGE".getBytes)
    }
    assert(SnapshotTable.read(spark, dir).count() === 250)
    assert(SnapshotTable.read(spark, dir, Some(22L)).count() === 230)
    // txn lookup is checkpoint-seeded too: a replayed (or earlier,
    // monotonic-producer) sequence no-ops without reading the dead log
    val vs = SnapshotTable.versions(spark, dir).size
    SnapshotTable.commit(spark, df(999, 1009), dir, "append",
      txn = Some(("ckpt-producer", 13L)))
    assert(SnapshotTable.versions(spark, dir).size === vs)
    // a NEW sequence still commits
    SnapshotTable.commit(spark, df(250, 260), dir, "append",
      txn = Some(("ckpt-producer", 25L)))
    assert(SnapshotTable.read(spark, dir).count() === 260)
  }

  test("distributed manifest queries: above the threshold rowCount is " +
    "one executor-side sum and pruned planning collects only survivors") {
    val dir = freshDir()
    // force columnar checkpoints (inline cap 1) and a distributed
    // threshold the tiny sidecar clears
    spark.conf.set("spark.graft.table.checkpoint.inlineMaxFiles", "1")
    spark.conf.set("spark.graft.table.checkpoint.distributedMinFiles", "1")
    try {
      SnapshotTable.commit(spark, df(0, 10), dir, "overwrite",
        statsCols = Seq("id"))
      (1 to 10).foreach(i =>
        SnapshotTable.commit(spark, df(i * 10, i * 10 + 10), dir, "append",
          statsCols = Seq("id")))
      // checkpoints exist at v10; the tail (none) is append-only
      val before = SnapshotTable.distributedReplays.get()
      assert(SnapshotTable.rowCount(spark, dir) === 110L)
      assert(SnapshotTable.distributedReplays.get() > before,
        "expected the executor-side manifest sum to engage")
      // append a TAIL commit past the checkpoint: still fast-path, the
      // tail sums driver-side
      SnapshotTable.commit(spark, df(110, 125), dir, "append",
        statsCols = Seq("id"))
      assert(SnapshotTable.rowCount(spark, dir) === 125L)
      // pruned planning: executor-side stats filter, survivors only,
      // exact content and counts (tail file included in total)
      val b2 = SnapshotTable.distributedReplays.get()
      val (pruned, kept, total) = SnapshotTable.scanPruned(spark, dir,
        "id", 0.0, 9.0)
      assert(SnapshotTable.distributedReplays.get() > b2)
      assert(kept < total)
      assert(total === SnapshotTable.snapshotFiles(spark, dir).size)
      assert(pruned.count() === 10)
      // a MOR delete disables the count fast path (upper bounds) but
      // the answer stays exact through the fallback
      SnapshotTable.deleteByKeys(spark, dir, "id", Seq(3L).toDF("id"))
      assert(SnapshotTable.rowCount(spark, dir) === 124L)
      // the delete lands past the last checkpoint, so this scan takes
      // the driver path, whose replay applies it
      val (p2, _, _) = SnapshotTable.scanPruned(spark, dir, "id", 0.0, 9.0)
      assert(p2.count() === 9)
      // and the driver path (threshold high) agrees exactly
      spark.conf.set("spark.graft.table.checkpoint.distributedMinFiles",
        "1000000000")
      assert(SnapshotTable.rowCount(spark, dir) === 124L)
      val (p3, k3, t3) = SnapshotTable.scanPruned(spark, dir, "id",
        0.0, 9.0)
      assert(p3.count() === 9 && k3 === kept && t3 === total)
    } finally {
      spark.conf.unset("spark.graft.table.checkpoint.inlineMaxFiles")
      spark.conf.unset("spark.graft.table.checkpoint.distributedMinFiles")
    }
  }

  test("distributed manifest queries: a string range scan plans from " +
    "the sidecar on the executors and agrees with the driver path") {
    // a numeric range scan on `id` takes the same path: both carry the
    // pending delete inside the checkpoint into the read
    val dir = freshDir()
    def keyed(lo: Long, hi: Long) = (lo until hi)
      .map(i => (f"k$i%04d", i)).toDF("skey", "id")
    spark.conf.set("spark.graft.table.checkpoint.inlineMaxFiles", "1")
    spark.conf.set("spark.graft.table.checkpoint.distributedMinFiles", "1")
    try {
      val stats = Seq("skey", "id")
      SnapshotTable.commit(spark, keyed(0, 10), dir, "overwrite",
        statsCols = stats)
      (1 to 9).foreach(i =>
        SnapshotTable.commit(spark, keyed(i * 10, i * 10 + 10), dir,
          "append", statsCols = stats))
      // the pending delete lands at v10, inside the checkpoint; the
      // append-only tail past it is pruned driver-side
      SnapshotTable.deleteByKeys(spark, dir, "skey", Seq("k0003").toDF("skey"))
      SnapshotTable.commit(spark, keyed(100, 115), dir, "append",
        statsCols = stats)
      val scans = Seq("skey" -> KeyRange.Utf8("k0000", "k0009"),
        "id" -> KeyRange.Num(0, 9))
      val fast = scans.map { case (column, range) =>
        val before = SnapshotTable.distributedReplays.get()
        val (pruned, kept, total) =
          SnapshotTable.scanPruned(spark, dir, column, range)
        assert(SnapshotTable.distributedReplays.get() > before,
          s"expected the executor-side sidecar planning to engage on $column")
        assert(kept < total)
        assert(total === SnapshotTable.snapshotFiles(spark, dir).size)
        val rows = pruned.count()
        assert(rows === 9, column)
        (rows, kept, total)
      }
      spark.conf.set("spark.graft.table.checkpoint.distributedMinFiles",
        "1000000000")
      scans.zip(fast).foreach { case ((column, range), f) =>
        val (p2, k2, t2) = SnapshotTable.scanPruned(spark, dir, column, range)
        assert((p2.count(), k2, t2) === f, column)
      }
    } finally {
      spark.conf.unset("spark.graft.table.checkpoint.inlineMaxFiles")
      spark.conf.unset("spark.graft.table.checkpoint.distributedMinFiles")
    }
  }

  test("a corrupt checkpoint degrades to full replay, never wrong answers") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 10), dir, "overwrite")
    (1 to 12).foreach(i =>
      SnapshotTable.commit(spark, df(i * 10, i * 10 + 10), dir, "append"))
    val ckpt = Paths.get(dir, "_log", "ckpt-" + "0" * 18 + "10.json")
    assert(Files.exists(ckpt))
    Files.write(ckpt, "NOT JSON".getBytes)
    // checkpoints are derived data: unreadable -> raw-log replay, same
    // answers, and new commits still land
    assert(SnapshotTable.read(spark, dir).count() === 130)
    assert(SnapshotTable.read(spark, dir, Some(11L)).count() === 120)
    SnapshotTable.commit(spark, df(130, 140), dir, "append")
    assert(SnapshotTable.read(spark, dir).count() === 140)
  }

  test("syncAppends mirrors a table exactly-once, surviving full replays") {
    val src = freshDir()
    val dst = freshDir() + "/t"
    SnapshotTable.commit(spark, df(0, 50), src, "overwrite")
    SnapshotTable.commit(spark, df(50, 80), src, "append")
    val c1 = SnapshotTable.syncAppends(spark, src, dst)
    assert(c1 === 1L)
    assert(SnapshotTable.read(spark, dst).count() === 80)
    // incremental: only the new commit flows
    SnapshotTable.commit(spark, df(80, 90), src, "append")
    assert(SnapshotTable.syncAppends(spark, src, dst, fromVersion = c1) === 2L)
    assert(SnapshotTable.read(spark, dst).count() === 90)
    val vs = SnapshotTable.versions(spark, dst).size
    // crash-restart: a full replay from scratch appends nothing
    SnapshotTable.syncAppends(spark, src, dst)
    assert(SnapshotTable.versions(spark, dst).size === vs)
    assert(SnapshotTable.read(spark, dst).count() === 90)
    // an upstream overwrite mirrors as an overwrite
    SnapshotTable.commit(spark, df(0, 5), src, "overwrite")
    SnapshotTable.syncAppends(spark, src, dst)
    assert(SnapshotTable.read(spark, dst).count() === 5)
    assert(SnapshotTable.read(spark, dst, Some(0L)).count() === 50) // history kept
  }

  test("expireVersions collapses history; expired-only files become reclaimable") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 40), dir, "overwrite",
      txn = Some(("exp-prod", 0L)))
    SnapshotTable.commit(spark, df(40, 60), dir, "append",
      txn = Some(("exp-prod", 1L)))
    SnapshotTable.commit(spark, df(100, 130), dir, "overwrite",
      txn = Some(("exp-prod", 2L)))
    SnapshotTable.commit(spark, df(130, 140), dir, "append",
      txn = Some(("exp-prod", 3L)))
    // keepLast=2 forces a fresh collapse checkpoint at v2 (none exists:
    // CheckpointEvery is 10)
    assert(SnapshotTable.expireVersions(spark, dir, keepLast = 2)
      === Seq(0L, 1L))
    assert(SnapshotTable.versions(spark, dir) === Seq(2L, 3L))
    // kept tail replays correctly from the collapse checkpoint
    assert(SnapshotTable.read(spark, dir).count() === 40)
    assert(SnapshotTable.read(spark, dir, Some(2L)).count() === 30)
    // expired versions are gone, loudly
    assert(scala.util.Try(
      SnapshotTable.read(spark, dir, Some(0L))).isFailure)
    // the v0/v1 data files are referenced by nothing now: vacuum reclaims
    val reclaimed = SnapshotTable.vacuum(spark, dir, retentionMs = 0L)
    assert(reclaimed.nonEmpty)
    assert(SnapshotTable.read(spark, dir).count() === 40) // unharmed
    // txn protection OUTLIVES the expired log files that carried it
    val vs = SnapshotTable.versions(spark, dir).size
    SnapshotTable.commit(spark, df(900, 910), dir, "append",
      txn = Some(("exp-prod", 1L))) // replay of an expired stamp
    assert(SnapshotTable.versions(spark, dir).size === vs)
    // idempotent when nothing to expire
    assert(SnapshotTable.expireVersions(spark, dir, keepLast = 5).isEmpty)
  }

  test("delete rewrites only overlapping files; nulls and old versions survive") {
    val dir = freshDir()
    val withNull = df(0, 100).unionByName(
      Seq((999L, "nullkey", 1.0)).toDF("id", "name", "v")
        .withColumn("id", lit(null).cast("long")))
    SnapshotTable.commit(spark,
      withNull.repartitionByRange(4, col("id")), dir, "overwrite",
      statsCols = Seq("id"))
    val r = SnapshotTable.delete(spark, dir, "id", 10.0, 19.0)
    assert(r.rowsDeleted === 10)
    assert(r.filesCarried >= 2, "non-overlapping range files must carry")
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 91)
    assert(after.filter(col("id").between(10, 19)).count() === 0)
    // the null-keyed row is NOT in [10,19] — it must survive the rewrite
    assert(after.filter(col("id").isNull).count() === 1)
    // pre-delete version intact until vacuumed
    assert(SnapshotTable.read(spark, dir, Some(0L)).count() === 101)
    // no matching range: no-op, nothing rewritten
    val r2 = SnapshotTable.delete(spark, dir, "id", 5000.0, 6000.0)
    assert(r2.rowsDeleted === 0 && r2.filesRewritten === 0)
  }

  test("cluster rewrites only poorly-shaped files, is idempotent, restores pruning") {
    import graft.sinks.OrcSink
    val dir = freshDir()
    // two independent dimensions: x in [0,64), y in [0,64)
    val g = (0 until 4096).map(i =>
      (i.toLong % 64, i.toLong / 64, i.toLong)).toDF("x", "y", "id")
    // v0: well-shaped z-ordered segment over the even ids (full domain)
    SnapshotTable.commit(spark,
      OrcSink.zOrderFrame(g.filter(col("id") % 2 === 0), Seq("x", "y"),
        numFiles = 8),
      dir, "overwrite", statsCols = Seq("x", "y"))
    // v1: badly-shaped append (hash-shuffled odd ids, every file spans
    // the whole domain)
    SnapshotTable.commit(spark,
      g.filter(col("id") % 2 === 1).repartition(4),
      dir, "append", statsCols = Seq("x", "y"))
    val before = SnapshotTable.scanPruned(spark, dir, "x", 4.0, 11.0)
    val r1 = SnapshotTable.cluster(spark, dir, Seq("x", "y"), numFiles = 8)
    assert(r1.filesCarried === 8, "z-ordered v0 files must carry")
    assert(r1.filesRewritten >= 1)
    // content is unchanged
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 4096)
    assert(after.select("id").distinct().count() === 4096)
    // second invocation selects nothing: incremental by construction
    val r2 = SnapshotTable.cluster(spark, dir, Seq("x", "y"), numFiles = 8)
    assert(r2.filesRewritten === 0)
    assert(r2.filesCarried === r1.filesCarried + r1.filesRewritten)
    // manifest prunability on x improved (the bad files spanned all x).
    // FRACTION of files kept, not absolute count: the rewrite changes the
    // total file count, so only the ratio is comparable
    val (slice, kept, total) = SnapshotTable.scanPruned(spark, dir, "x", 4.0, 11.0)
    assert(slice.count() === 8 * 64)
    assert(kept < total)
    assert(kept.toDouble / total < before._2.toDouble / before._3,
      "kept-file fraction must improve")
  }

  test("vacuum spares files referenced only by the collapse checkpoint " +
       "(expiry cut at an append tail)") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 40), dir, "overwrite")   // v0
    SnapshotTable.commit(spark, df(40, 60), dir, "append")     // v1
    SnapshotTable.commit(spark, df(60, 70), dir, "append")     // v2
    // oldest kept version (v1) is an APPEND: v0's base files survive only
    // through the collapse checkpoint at v1 — the r12 vacuum scanned
    // commits alone and would have destroyed the live base here
    assert(SnapshotTable.expireVersions(spark, dir, keepLast = 2)
      === Seq(0L))
    assert(SnapshotTable.read(spark, dir).count() === 70)
    val reclaimed = SnapshotTable.vacuum(spark, dir, retentionMs = 0L)
    assert(reclaimed.isEmpty, s"vacuum deleted LIVE files: $reclaimed")
    assert(SnapshotTable.read(spark, dir).count() === 70)
    assert(SnapshotTable.read(spark, dir, Some(1L)).count() === 60)
    // corrupt the load-bearing checkpoint: reads must fail LOUDLY (a
    // partial append-only replay would silently drop the base rows),
    // and vacuum must refuse rather than widen its dead set
    val ckpt = Files.list(Paths.get(s"$dir/_log")).iterator().asScala
      .find(_.getFileName.toString.startsWith("ckpt-")).get
    Files.writeString(ckpt, "{not json")
    val ex = intercept[IllegalStateException] {
      SnapshotTable.read(spark, dir).count()
    }
    assert(ex.getMessage.contains("checkpoint"))
    assert(intercept[IllegalStateException] {
      SnapshotTable.vacuum(spark, dir, retentionMs = 0L)
    }.getMessage.contains("refusing to vacuum"))
  }

  test("delete on a non-numeric key keeps rows whose key casts to null") {
    val dir = freshDir()
    val docs = Seq(
      ("https://a.example/1", 1L), ("https://a.example/2", 2L),
      ("42", 3L), ("7", 4L), ("99", 5L)
    ).toDF("url", "id")
    SnapshotTable.commit(spark, docs, dir, "overwrite", statsCols = Seq("url"))
    // range [40,50] matches only the castable key "42"; the url-shaped
    // keys cast to NULL — before the fix `!NULL BETWEEN` three-value-
    // logicked them out of the rewrite, deleting every non-numeric row
    val r = SnapshotTable.delete(spark, dir, "url", 40.0, 50.0)
    assert(r.rowsDeleted === 1)
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 4)
    assert(after.filter(col("url").startsWith("https://")).count() === 2)
    assert(after.filter(col("url") === "7").count() === 1)
  }

  test("compact rebases over an interleaved append instead of throwing") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 100).repartition(8), dir, "overwrite",
      statsCols = Seq("id"))
    // the append lands inside compact's read->publish window
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark, df(100, 110), dir, "append",
        statsCols = Seq("id"))
    val v = SnapshotTable.compact(spark, dir)
    // both the compaction AND the interleaved append are in the snapshot
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 110)
    assert(after.filter(col("id") >= 100).count() === 10)
    // the rebased overwrite carried the append's files byte-identical:
    // its rows live in files OUTSIDE the compaction's own batch
    val (_, nFiles, rows) = SnapshotTable.commitStats(spark, dir, v)
    assert(rows === 110)
    assert(nFiles >= 2, "append files must be carried, not re-read")
  }

  test("merge rebases over a DISJOINT interleaved append; no lost update") {
    val dir = freshDir()
    SnapshotTable.commit(spark,
      df(0, 100).repartitionByRange(4, col("id")), dir, "overwrite",
      statsCols = Seq("id"))
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark, df(500, 510), dir, "append",
        statsCols = Seq("id"))
    // update keys 10..19: envelope [10,19] provably clears [500,509]
    val r = SnapshotTable.merge(spark, dir,
      df(10, 20).withColumn("v", col("v") * 100), "id")
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 110)
    assert(after.filter(col("id") === 15 && col("v") === 15 * 2.5 * 100)
      .count() === 1, "the merge's update must have applied")
    assert(after.filter(col("id") >= 500).count() === 10,
      "the interleaved append must not be lost")
    assert(r.version === SnapshotTable.currentVersion(spark, dir).get)
  }

  test("merge still throws when the interleaved append overlaps its keys") {
    val dir = freshDir()
    SnapshotTable.commit(spark,
      df(0, 100).repartitionByRange(4, col("id")), dir, "overwrite",
      statsCols = Seq("id"))
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark, df(15, 18), dir, "append",
        statsCols = Seq("id"))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.merge(spark, dir,
        df(10, 20).withColumn("v", col("v") * 100), "id")
    }
    // nothing lost: the append is visible, the merge did NOT apply
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 103)
    assert(after.filter(col("v") === 15 * 2.5 * 100).count() === 0)
  }

  test("delete rebases over a disjoint append, throws on an overlapping one") {
    val dir = freshDir()
    SnapshotTable.commit(spark,
      df(0, 100).repartitionByRange(4, col("id")), dir, "overwrite",
      statsCols = Seq("id"))
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark, df(200, 210), dir, "append",
        statsCols = Seq("id"))
    val r = SnapshotTable.delete(spark, dir, "id", 10.0, 19.0)
    assert(r.rowsDeleted === 10)
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 100) // 100 - 10 deleted + 10 appended
    assert(after.filter(col("id").between(10, 19)).count() === 0)
    assert(after.filter(col("id") >= 200).count() === 10)
    // overlapping interleave: the appended rows ARE in the deleted range,
    // carrying them would resurrect deleted keys — must throw
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark, df(30, 32), dir, "append",
        statsCols = Seq("id"))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.delete(spark, dir, "id", 25.0, 40.0)
    }
    assert(SnapshotTable.read(spark, dir).count() === 102)
  }

  test("deleteString: lexicographic range delete off minStr/maxStr stats") {
    val dir = freshDir()
    val docs = (0 until 100).map(i => (f"https://site-$i%03d.example", i.toLong))
      .toDF("url", "id")
    SnapshotTable.commit(spark, docs.repartitionByRange(4, col("url")),
      dir, "overwrite", statsCols = Seq("url"))
    val r = SnapshotTable.delete(spark, dir, "url",
      KeyRange.Utf8("https://site-010.example", "https://site-019.example"))
    assert(r.rowsDeleted === 10)
    // only the file(s) whose string [min,max] overlap the range rewrote
    assert(r.filesCarried >= 2, s"carried=${r.filesCarried}")
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 90)
    assert(after.filter(col("url").between(
      "https://site-010.example", "https://site-019.example")).count() === 0)
    // null keys are outside any lexicographic range: they survive
    val dir2 = freshDir()
    SnapshotTable.commit(spark,
      Seq(("a", 1L), (null, 2L), ("m", 3L), ("z", 4L)).toDF("url", "id"),
      dir2, "overwrite", statsCols = Seq("url"))
    val r2 = SnapshotTable.delete(spark, dir2, "url", KeyRange.Utf8("l", "n"))
    assert(r2.rowsDeleted === 1)
    assert(SnapshotTable.read(spark, dir2).filter(col("url").isNull)
      .count() === 1)
  }

  test("string-keyed merge stabs by string stats and rebases/throws") {
    val dir = freshDir()
    val rows = (0 until 100).map(i => (f"k$i%03d", i.toLong))
      .toDF("skey", "v")
    SnapshotTable.commit(spark, rows.repartitionByRange(4, col("skey")),
      dir, "overwrite", statsCols = Seq("skey"))
    // disjoint interleave: append keys q* clear the update envelope k01*
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark,
        (0 until 10).map(i => (s"q$i", 900L + i)).toDF("skey", "v"),
        dir, "append", statsCols = Seq("skey"))
    val upd = (10 until 20).map(i => (f"k$i%03d", i * 100L)).toDF("skey", "v")
    val r = SnapshotTable.merge(spark, dir, upd, "skey",
      statsCols = Seq("skey"))
    // string stabbing: only the k01x-range file rewrote, others carried
    assert(r.filesCarried >= 3, s"carried=${r.filesCarried}")
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() === 110)
    assert(after.filter(col("skey") === "k015").head().getLong(1) === 1500L)
    assert(after.filter(col("skey").startsWith("q")).count() === 10,
      "the interleaved append must not be lost")
    // overlapping interleave on the string key must still throw
    SnapshotTable.interleaveForTest = () =>
      SnapshotTable.commit(spark, Seq(("k042", -1L)).toDF("skey", "v"),
        dir, "append", statsCols = Seq("skey"))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.merge(spark, dir,
        (40 until 45).map(i => (f"k$i%03d", 0L)).toDF("skey", "v"), "skey")
    }
    assert(SnapshotTable.read(spark, dir).count() === 111)
  }

  test("timestamp time travel: readAsOf resolves the monotonized clock") {
    val dir = freshDir()
    val ticks = Iterator(1000L, 2000L, 1500L, 3000L) // v2 stamped BEHIND v1
    val saved = SnapshotTable.clock
    try {
      SnapshotTable.clock = () => ticks.next()
      SnapshotTable.commit(spark, df(0, 10), dir, "overwrite")   // v0 @1000
      SnapshotTable.commit(spark, df(10, 30), dir, "append")     // v1 @2000
      SnapshotTable.commit(spark, df(30, 35), dir, "append")     // v2 @1500!
      SnapshotTable.commit(spark, df(0, 7), dir, "overwrite")    // v3 @3000
    } finally SnapshotTable.clock = saved
    // history is newest-first and MONOTONIZED: v2's skewed 1500 reports
    // the running max 2000, so version and time order never disagree
    val h = SnapshotTable.history(spark, dir)
    assert(h.map(_.version) === Seq(3L, 2L, 1L, 0L))
    assert(h.map(_.timestampMs) === Seq(3000L, 2000L, 2000L, 1000L))
    assert(h.find(_.version == 1L).get.rows === 20)
    assert(h.head.action === "overwrite")
    // resolution: at/between/after stamps; ties go to the LATEST version
    // at that instant (v2 shares v1's monotonized stamp)
    assert(SnapshotTable.versionAsOf(spark, dir, 1000L) === 0L)
    assert(SnapshotTable.versionAsOf(spark, dir, 1999L) === 0L)
    assert(SnapshotTable.versionAsOf(spark, dir, 2000L) === 2L)
    assert(SnapshotTable.versionAsOf(spark, dir, 2999L) === 2L)
    assert(SnapshotTable.readAsOf(spark, dir, 2500L).count() === 35)
    assert(SnapshotTable.readAsOf(spark, dir, 9999L).count() === 7)
    // before the first commit: loud failure, not the oldest snapshot
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, dir, 999L)
    }.getMessage.contains("predates"))
    // expiry keeps resolution honest: after dropping v0/v1, a timestamp
    // inside the expired range fails rather than aliasing to v2
    SnapshotTable.expireVersions(spark, dir, keepLast = 2)
    assert(SnapshotTable.versionAsOf(spark, dir, 3000L) === 3L)
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, dir, 1500L)
    }.getMessage.contains("predates"))
  }

  // ---- columnar (ORC sidecar) checkpoints --------------------------------

  private def withInlineMax[A](n: Int)(body: => A): A = {
    spark.conf.set("spark.graft.table.checkpoint.inlineMaxFiles", n.toString)
    try body
    finally spark.conf.unset("spark.graft.table.checkpoint.inlineMaxFiles")
  }

  private def sidecars(dir: String): Seq[java.io.File] =
    new java.io.File(s"$dir/_log").listFiles().toSeq
      .filter(f => f.getName.startsWith("ckpt-") &&
        f.getName.endsWith(".files.orc"))

  test("columnar checkpoint: sidecar written above the inline threshold " +
    "and replay/prune/rowCount survive expiry on it") {
    val dir = freshDir()
    withInlineMax(3) {
      (0 until 12).foreach { i =>
        SnapshotTable.commit(spark,
          df(i * 100L, i * 100L + 100L).repartitionByRange(2, col("id")),
          dir, if (i == 0) "overwrite" else "append", statsCols = Seq("id"))
      }
      // v10 checkpoint holds 22 files > 3 → must have gone columnar
      assert(sidecars(dir).nonEmpty, "expected an ORC checkpoint sidecar")
      assert(SnapshotTable.read(spark, dir).count() === 1200)

      // expire: the collapse checkpoint (columnar) becomes load-bearing
      val expired = SnapshotTable.expireVersions(spark, dir, keepLast = 3)
      assert(expired === (0L until 9L))
      assert(SnapshotTable.read(spark, dir).count() === 1200)
      assert(SnapshotTable.read(spark, dir)
        .agg(sum(col("id"))).head().getLong(0) === (0L until 1200L).sum)
      assert(SnapshotTable.rowCount(spark, dir) === 1200L)
      // stats round-tripped through the sidecar: pruning still sound+tight
      val (pruned, kept, total) =
        SnapshotTable.scanPruned(spark, dir, "id", 250.0, 349.0)
      assert(pruned.filter(col("id").between(250, 349)).count() === 100)
      assert(kept < total, "sidecar stats should still prune files")
      // obsolete sidecars below the collapse point were swept
      assert(sidecars(dir).forall(_.getName >= f"ckpt-${9L}%020d"),
        s"stale sidecars remain: ${sidecars(dir).map(_.getName)}")
      // time travel within the kept window still works off the sidecar
      assert(SnapshotTable.read(spark, dir, Some(10)).count() === 1100)
    }
  }

  test("columnar checkpoint: corrupt sidecar degrades reads to full " +
    "replay but ABORTS vacuum") {
    val dir = freshDir()
    withInlineMax(3) {
      (0 until 11).foreach { i =>
        SnapshotTable.commit(spark,
          df(i * 10L, i * 10L + 10L).repartitionByRange(2, col("id")),
          dir, if (i == 0) "overwrite" else "append", statsCols = Seq("id"))
      }
      val sc = sidecars(dir)
      assert(sc.nonEmpty)
      sc.foreach { f => // truncate to garbage
        val out = new java.io.FileOutputStream(f)
        try out.write("not orc".getBytes) finally out.close()
      }
      // raw log is intact → reads fall back to full replay, still exact
      assert(SnapshotTable.read(spark, dir).count() === 110)
      assert(SnapshotTable.read(spark, dir, Some(5)).count() === 60)
      // deletion must NOT proceed on an unprovable referenced set
      val ex = intercept[IllegalStateException] {
        SnapshotTable.vacuum(spark, dir, retentionMs = 0L)
      }
      assert(ex.getMessage.contains("unreadable"))
    }
  }

  test("columnar checkpoint: sidecar round-trips string stats " +
    "(lexicographic pruning after expiry)") {
    val dir = freshDir()
    withInlineMax(2) {
      val names = Seq("alpha", "bravo", "carol", "delta", "echo", "fox",
        "golf", "hotel", "india", "julia", "kilo", "lima")
      names.zipWithIndex.foreach { case (nm, i) =>
        val part = (0 until 50).map(j => (i * 50L + j, s"$nm$j", j * 1.0))
          .toDF("id", "name", "v")
        SnapshotTable.commit(spark, part, dir,
          if (i == 0) "overwrite" else "append", statsCols = Seq("name"))
      }
      SnapshotTable.expireVersions(spark, dir, keepLast = 2)
      val (df2, kept, total) = SnapshotTable.scanPruned(
        spark, dir, "name", KeyRange.Utf8("carol", "carol~"))
      assert(df2.filter(col("name").startsWith("carol")).count() === 50)
      assert(kept < total, "string stats lost through the sidecar")
    }
  }

  test("checkpoint cadence knob: spark.graft.table.checkpoint.every " +
    "moves the checkpoint stride") {
    val dir = freshDir()
    spark.conf.set("spark.graft.table.checkpoint.every", "3")
    try {
      (0 until 7).foreach { i =>
        SnapshotTable.commit(spark, df(i * 10L, i * 10L + 10L), dir,
          if (i == 0) "overwrite" else "append")
      }
    } finally spark.conf.unset("spark.graft.table.checkpoint.every")
    val cks = new java.io.File(s"$dir/_log").listFiles().map(_.getName)
      .filter(n => n.startsWith("ckpt-") && n.endsWith(".json")).sorted
    assert(cks.toSeq === Seq(f"ckpt-${3L}%020d.json", f"ckpt-${6L}%020d.json"))
    assert(SnapshotTable.read(spark, dir).count() === 70)
  }

  // ---- restore (rollback-as-new-commit) ----------------------------------

  test("restore re-references the as-of manifest: zero-copy rollback, " +
    "forensic history kept, restored files survive expiry+vacuum") {
    val dir = freshDir()
    SnapshotTable.commit(spark,
      df(0, 100).repartitionByRange(4, col("id")), dir, "overwrite",
      statsCols = Seq("id"))
    SnapshotTable.commit(spark, df(100, 150), dir, "append",
      statsCols = Seq("id"))
    SnapshotTable.commit(spark, df(900, 910), dir, "overwrite",
      statsCols = Seq("id")) // the "bad deploy"
    val dataBytesBefore = {
      def du(f: java.io.File): Long =
        if (f.isFile) f.length else f.listFiles().map(du).sum
      du(new java.io.File(s"$dir/data"))
    }
    val rv = SnapshotTable.restore(spark, dir, 0L)
    assert(rv === 3L)
    // zero data copy: no new bytes under data/
    def du2(f: java.io.File): Long =
      if (f.isFile) f.length else f.listFiles().map(du2).sum
    assert(du2(new java.io.File(s"$dir/data")) === dataBytesBefore)
    // live content == v0; the bad version stays time-travelable
    assert(SnapshotTable.read(spark, dir).count() === 100)
    assert(SnapshotTable.read(spark, dir)
      .agg(sum(col("id"))).head().getLong(0) === (0L until 100L).sum)
    assert(SnapshotTable.read(spark, dir, Some(2)).count() === 10)
    assert(SnapshotTable.history(spark, dir).head.action === "overwrite")
    // stats re-referenced: pruning works on the restored head
    val (_, kept, total) = SnapshotTable.scanPruned(spark, dir, "id", 0, 24)
    assert(kept < total)
    // expiry drops v0's LOG; its DATA survives because v3 re-names it
    SnapshotTable.expireVersions(spark, dir, keepLast = 1)
    val dead = SnapshotTable.vacuum(spark, dir, retentionMs = 0L)
    assert(SnapshotTable.read(spark, dir).count() === 100)
    assert(dead.nonEmpty, // v1/v2-only files were reclaimed
      "expected the un-restored versions' files to be vacuumed")
  }

  test("restore refuses a version the table has not reached") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 10), dir, "overwrite")
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, dir, 5L)
    }.getMessage.contains("cannot restore"))
  }

  test("restore returns to the AS-OF schema: columns added later vanish") {
    val dir = freshDir()
    SnapshotTable.commit(spark, df(0, 50), dir, "overwrite")
    SnapshotTable.commit(spark,
      df(50, 60).withColumn("extra", lit("x")), dir, "append")
    assert(SnapshotTable.read(spark, dir).columns.contains("extra"))
    SnapshotTable.restore(spark, dir, 0L)
    val cols = SnapshotTable.read(spark, dir).columns.toSeq
    assert(cols === Seq("id", "name", "v"))
    assert(SnapshotTable.read(spark, dir).count() === 50)
  }

  test("expireOlderThan: time-window retention keeps the latest and " +
    "everything at or after the cutoff") {
    val dir = freshDir()
    val saved = SnapshotTable.clock
    try {
      var t = 1000L
      SnapshotTable.clock = () => t
      (0 until 6).foreach { i =>
        t = 1000L * (i + 1) // commits stamped 1s..6s
        SnapshotTable.commit(spark, df(i * 10L, i * 10L + 10), dir,
          if (i == 0) "overwrite" else "append")
      }
      // cutoff 3500ms: v0..v2 (1s,2s,3s) expire; v3..v5 (4s,5s,6s) stay
      val expired = SnapshotTable.expireOlderThan(spark, dir, 3500L)
      assert(expired === Seq(0L, 1L, 2L))
      assert(SnapshotTable.versions(spark, dir) === Seq(3L, 4L, 5L))
      assert(SnapshotTable.read(spark, dir).count() === 60)
      // a cutoff beyond every stamp still keeps the latest version
      assert(SnapshotTable.expireOlderThan(spark, dir, 99999L)
        === Seq(3L, 4L))
      assert(SnapshotTable.versions(spark, dir) === Seq(5L))
      assert(SnapshotTable.read(spark, dir).count() === 60)
    } finally SnapshotTable.clock = saved
  }

  test("merge with an updates frame that adds a column evolves the schema") {
    val dir = freshDir()
    SnapshotTable.commit(spark,
      df(0, 100).repartitionByRange(4, col("id")), dir, "overwrite",
      statsCols = Seq("id"))
    val updates = df(10, 20).withColumn("v", col("v") * 10)
      .withColumn("src", lit("fixup"))
    val r = SnapshotTable.merge(spark, dir, updates, "id")
    assert(r.filesCarried > 0) // stabbing still worked
    val after = SnapshotTable.read(spark, dir)
    assert(after.columns.toSeq === Seq("id", "name", "v", "src"))
    assert(after.count() === 100)
    assert(after.filter(col("src") === "fixup").count() === 10)
    assert(after.filter(col("src").isNull).count() === 90)
  }
}
