package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.Multimodal
import graft.streaming.EventStream

/** Streaming + multimodal queries under the correctness gate.
  *
  * The streaming entries run a real Structured Streaming query (file
  * source -> memory sink, driven to completion) and are compared against
  * batch SQL oracles — the exactly-once contract: streaming output on the
  * fixed dataset must equal the batch answer.
  */
object PipelineQueries {

  /** Probe triplets of the perceptual pair gates: per doc id < 100 the
    * original (id), its retouched or re-encoded twin (id + 1000) and a
    * different-frequency foil (id + 2000), rendered by
    * `payload(id, w, h, variant)` (variant 0, 1, 2) at a per-id size.
    * Returns (ids, (doc_id, payload)). */
  private def probeTriplets(s: SparkSession, d: String)(
      payload: (Long, Int, Int, Int) => Array[Byte]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val ids = t(s, d, "documents").filter(col("doc_id") < 100).select(col("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    (ids, s.createDataFrame(ids.rdd.flatMap { r =>
      val id = r.getLong(0)
      val (w, h) = (18 + (id % 7).toInt, 16 + (id % 5).toInt)
      (0 until 3).map(v => Row(id + 1000L * v, payload(id, w, h, v)))
    }, schema))
  }

  /** Pixel `i` of frame `f` of a probe: the original's formula (with
    * every 29th pixel lifted by 8 when `retouch`), or the foil's
    * different frequency. */
  private def probePixel(id: Long, foil: Boolean, f: Int, retouch: Boolean)(
      i: Int): Int =
    if (foil) ((i * (101 + id % 17) + id * 53 + f * 29) % 256).toInt
    else ((i * (37 + id % 13) + id * 31 + f * 29 +
      (if (retouch && i % 29 == 0) 8 else 0)) % 256).toInt

  /** One verdict row per base doc of a triplet pair set: whether the
    * twin paired with its original, and whether the foil paired with
    * the original or the twin. */
  private def twinFoilVerdicts(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val twin = pairs
      .filter(col("a_id") < 1000L && col("b_id") === col("a_id") + 1000L)
      .select(col("a_id").as("doc_id"), lit(true).as("tp")).distinct()
    val foil = pairs
      .filter((col("a_id") < 1000L && col("b_id") === col("a_id") + 2000L) ||
        (col("a_id") >= 1000L && col("a_id") < 2000L &&
          col("b_id") === col("a_id") + 1000L))
      .select((col("b_id") - 2000L).as("doc_id"), lit(true).as("fp")).distinct()
    ids.join(twin, Seq("doc_id"), "left").join(foil, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tp"), lit(false)).as("twin_paired"),
        coalesce(col("fp"), lit(false)).as("foil_paired"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_hourly_agg" -> { (s, d) =>
      EventStream.hourlyAgg(s, d).orderBy(col("hour"), col("event_type"))
    },

    "stream_session_counts" -> { (s, d) =>
      // Update-mode memory sink appends one row per key per micro-batch;
      // the final state per user is the max session count.
      EventStream.sessionCounts(s, d)
        .groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n_sessions"))
        .orderBy(col("user_id"))
    },

    "stream_sliding_agg" -> { (s, d) =>
      EventStream.slidingAgg(s, d).orderBy(col("w_start"), col("event_type"))
    },

    // Built-in session_window sessionization: per-user session count +
    // densest session from the merged session rows — the THIRD
    // implementation of the q28 semantics (batch gaps-and-islands,
    // custom flatMapGroupsWithState state, and now Spark's native
    // session-window aggregation), all pinned to the SAME oracle.
    "stream_session_window" -> { (s, d) =>
      EventStream.sessionWindowCounts(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    },

    // Streaming per-user EWMA: the q42 recurrence as running state —
    // must equal the batch fold exactly (same sort, same IEEE ops), so
    // the oracle is q42's verbatim. Final state = max-n row per user of
    // the Update-mode sink (n is strictly increasing).
    "stream_ewma" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val st = EventStream.ewmaState(s, d, alpha = 0.2)
      val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc)
      st.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("n"),
          round(col("ewma_last"), 6).as("ewma_r"))
        .orderBy(col("user_id"))
    },

    // Streaming funnel: per-user first-touch state streams (four
    // min-merged longs — commutative, so arrival order and micro-batch
    // boundaries cannot change the final state); the gate reduces the
    // Update-mode sink by column-wise min and computes the SAME ordered
    // depth predicates as batch q34 — whose oracle this must equal
    // exactly (the exactly-once contract on a non-windowed stateful op).
    "stream_funnel_depth" -> { (s, d) =>
      val none = Long.MaxValue
      val st = EventStream.funnelState(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("t_signup")).as("ts"), min(col("t_view")).as("tv"),
          min(col("t_click")).as("tc"), min(col("t_purchase")).as("tp"))
      val s1 = st("ts") =!= none
      val s2 = s1 && st("tv") =!= none && st("tv") > st("ts")
      val s3 = s2 && st("tc") =!= none && st("tc") > st("tv")
      val s4 = s3 && st("tp") =!= none && st("tp") > st("tc")
      st.agg(count(lit(1)).as("n_users"),
        sum(when(s1, 1L).otherwise(0L)).as("n_signup"),
        sum(when(s2, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(s3, 1L).otherwise(0L)).as("n_clicked"),
        sum(when(s4, 1L).otherwise(0L)).as("n_purchased"))
    },

    // Streaming per-window percentiles: the approx_percentile sketch
    // lives in the streaming window state (mergeable across
    // micro-batches like count/sum). Verdicts are RANK-validity checks,
    // not value-distance: the sketch returns an actual element of the
    // window (nearest-rank family), so with tiny per-hour windows its
    // value can sit a whole order-statistic gap from the INTERPOLATED
    // exact percentile — rank position is the property the sketch
    // actually guarantees (error <= eps*n; exact at gate sizes). Each
    // streamed quantile must have rank within +-1 of its target in the
    // window's value multiset; exact interpolated percentiles ride
    // along as the hash-compared payload.
    "stream_hourly_quantiles" -> { (s, d) =>
      val streamed = EventStream.hourlyQuantiles(s, d)
      val ev = graft.Tables.t(s, d, "events")
        .select(date_trunc("hour", col("ts")).as("hour"), col("value"))
      def rankOk(item: Int, q: Double) = {
        val aqv = col("aq").getItem(item)
        val le = sum(when(col("value") <= aqv, 1L).otherwise(0L))
        val lt = sum(when(col("value") < aqv, 1L).otherwise(0L))
        (le >= floor(lit(q) * count(lit(1))).cast("long") - 1) &&
          (lt <= ceil(lit(q) * count(lit(1))).cast("long") + 1)
      }
      ev.join(streamed, Seq("hour"))
        .groupBy(col("hour"))
        .agg(expr("percentile(value, array(0.5, 0.95))").as("eq"),
          count(lit(1)).as("n"),
          rankOk(0, 0.5).as("p50_ok"), rankOk(1, 0.95).as("p95_ok"))
        .select(col("hour"),
          round(col("eq").getItem(0), 4).as("exact_p50"),
          round(col("eq").getItem(1), 4).as("exact_p95"),
          col("n"), col("p50_ok"), col("p95_ok"))
        .orderBy(col("hour"))
    },

    "stream_dedup_pairs" -> { (s, d) =>
      EventStream.dedupPairs(s, d).orderBy(col("user_id"), col("event_type"))
    },

    // Watermark lateness semantics, MEASURED and pinned (no other
    // stream gate stages late data, so a policy change would go
    // unseen): a 10-day-stale poisoned file arrives after the watermark
    // passed, and Spark's best-effort zone still aggregates it (probed:
    // the late batch ran with wm = max-1h and its rows built fresh
    // groups) — the oracle is the batch answer over on-time UNION late,
    // so an engine-version change in lateness policy fails loudly here.
    "stream_late_policy" -> { (s, d) =>
      EventStream.lateDataAgg(s, d).orderBy(col("hour"), col("event_type"))
    },

    // ...and the production admission-fence pattern: an explicit
    // partition-lower-bound filter ahead of the watermark. Its honest
    // guarantee is exactly scoped: rows BELOW the bound drop
    // deterministically (late duplicates of an earlier partition), while
    // in-bound late arrivals are legitimate data and admit — the oracle
    // replays that split precisely, so both halves of the fence contract
    // are pinned.
    "stream_late_fenced" -> { (s, d) =>
      EventStream.lateDataAggFenced(s, d)
        .orderBy(col("hour"), col("event_type"))
    },

    // Stream-static dimension enrichment: the broadcast snapshot join
    // every production stream runs (stateless per batch — no store, no
    // watermark), against the batch join+agg oracle.
    "stream_static_enrich" -> { (s, d) =>
      EventStream.staticEnrichAgg(s, d).orderBy(col("c_mktsegment"))
    },

    // Ingest-time URL dedup: canonicalization + stateful dropDuplicates
    // on the canonical spelling, in-stream. The oracle derives the
    // expected distinct canonical set DIRECTLY from the event-id
    // residues (the batch construction the url-curation gates pin), so
    // a match proves the streaming path canonicalized and deduped
    // exactly like batch — the exactly-once contract.
    "stream_url_dedup" -> { (s, d) =>
      EventStream.urlDedup(s, d).orderBy(col("canon_url"))
    },

    // Streamed per-window HLL distinct users vs batch-exact: the sketch
    // must land within max(5%, 3) of exact in EVERY one of the 720
    // windows. The absolute floor is 3, not 1: Spark's HLL++ is
    // dense-only (no sparse/exact small-range mode), so ~10-user windows
    // carry a small deterministic absolute wobble (max observed across
    // all windows at sf0.01: 2) that no rsd dial removes; 5% governs as
    // soon as windows carry monitoring-relevant cardinalities.
    "stream_hourly_distinct" -> { (s, d) =>
      val streamed = EventStream.hourlyDistinct(s, d)
      graft.Tables.t(s, d, "events")
        .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
        .join(streamed, Seq("hour"))
        .groupBy(col("hour"), col("n_users_est"))
        .agg(count_distinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .select(col("hour"), col("n_users"), col("n"),
          (abs(col("n_users_est") - col("n_users")) <=
            greatest(ceil(col("n_users") * 0.05).cast("long"), lit(3L)))
            .as("est_ok"))
        .orderBy(col("hour"))
    },

    // Streaming converter: landing dir -> ORC table via writeStream; the
    // aggregate over the converted table must equal the batch answer on
    // the source (conversion exactly-once + lossless).
    "conv_stream_orc" -> { (s, d) =>
      val base = ConverterQueries.tmp(d, "stream_orc") + "/" + java.util.UUID.randomUUID()
      EventStream.streamToOrc(s, d, base)
      graft.sinks.OrcSink.read(s, s"$base/events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), graft.Tables.dsumr(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Streaming CDC apply loop: base customer exported to ORC, three
    // ordered change batches landed as files, each micro-batch merged
    // last-writer-wins and swapped in crash-safely. The batch-3 update
    // REPLACES batch-1's value for the same keys (row replacement, not
    // increment), batch-2 deletes a disjoint key class, inserts land at
    // key+2000000 — so the oracle can state the final table closed-form.
    "conv_cdc_stream" -> { (s, d) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val base = ConverterQueries.tmp(d, "cdc_stream") + "/" + java.util.UUID.randomUUID()
      val cols = Seq("c_custkey", "c_mktsegment", "c_acctbal")
      val cust = t(s, d, "customer").select(cols.map(col): _*)
      graft.sinks.OrcSink.write(cust, base, "customer")
      val chDir = s"$base/changes"
      new java.io.File(chDir).mkdirs()
      val ch = ConverterQueries.cdcChange(cust) _
      val batches = Seq(
        ch(col("c_custkey") % 7 === 0, col("c_acctbal") + 50.0, 0, "U", 1L),
        ch(col("c_custkey") % 7 === 1, col("c_acctbal"), 0, "D", 2L),
        ch(col("c_custkey") % 7 === 0, col("c_acctbal") + 75.0, 0, "U", 3L)
          .unionByName(ch(col("c_custkey") % 7 === 2, lit(9.99), 2000000L, "I", 3L)))
      // land each batch as ONE flat file with strictly increasing mtime
      // and name: the file source applies oldest-first, and the CDC
      // contract requires in-order application across batches
      val t0 = System.currentTimeMillis() - 600000L
      batches.zipWithIndex.foreach { case (b, i) =>
        val staging = s"$base/stage$i"
        b.coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val landed = new java.io.File(chDir, f"batch_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, landed.toPath)
        landed.setLastModified(t0 + i * 2000L)
      }
      val changeSchema = StructType(cust.schema.fields ++ Seq(
        StructField("__op", StringType), StructField("__seq", LongType)))
      EventStream.cdcApply(s, chDir, changeSchema, base, "customer",
        keyCols = Seq("c_custkey"), checkpointDir = s"$base/_checkpoint")
      graft.sinks.OrcSink.read(s, s"$base/customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          dsumr(col("c_acctbal")).as("sum_bal"),
          sum(col("c_custkey")).as("sum_key"))
        .orderBy(col("c_mktsegment"))
    },

    // Streaming ingest dedup: the "new batch" (every 10th doc PLUS
    // planted re-crawls — corpus docs re-landing under fresh ids, which
    // guarantee the anti-join is exercised at every sf regardless of
    // whatever natural dups the fixture happens to contain) streams
    // through a stream-static anti-join against the standing corpus
    // fingerprints; only unseen docs reach the sink. Exactly-once
    // contract: the surviving set must equal the batch anti-join —
    // every planted re-crawl dropped, every unduplicated doc kept.
    "stream_ingest_dedup" -> { (s, d) =>
      def docs = t(s, d, "documents")
      EventStream.ingestDedup(s, stageKey = s"${d}_ingest_dedup",
          batch = () => docs.filter(col("doc_id") % 10 === 0)
            .unionByName(docs
              .filter(col("doc_id") % 97 === 1 && col("doc_id") % 10 =!= 0)
              .withColumn("doc_id", col("doc_id") + 1000000)),
          corpus = docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },

    "stream_click_error_join" -> { (s, d) =>
      // aggregate the joined pairs in batch from the sink snapshot (one
      // stateful operator per streaming query keeps Append semantics clean)
      EventStream.clickErrorJoin(s, d)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // LEFT OUTER stream-stream join: the null-padded rows only emit at
    // watermark-driven state eviction (the hard half of outer streaming
    // joins) — the sentinel harness forces that eviction deterministically
    // and the batch LEFT JOIN oracle must agree exactly.
    "stream_left_join" -> { (s, d) =>
      EventStream.clickErrorLeftJoin(s, d)
        .agg(count(lit(1)).as("n_rows"),
          count(col("click_id")).as("n_matched"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // FULL OUTER stream-stream join: null-padded rows must emit on BOTH
    // sides at watermark eviction (unmatched errors AND unmatched clicks
    // — click state evicts once the watermark passes click_ts + window).
    // The batch FULL JOIN oracle must agree exactly.
    "stream_full_join" -> { (s, d) =>
      EventStream.clickErrorFullJoin(s, d)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("err_id").isNotNull && col("click_id").isNotNull, 1L)
            .otherwise(0L)).as("n_matched"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_err_unmatched"),
          sum(when(col("err_id").isNull, 1L).otherwise(0L)).as("n_click_unmatched"),
          countDistinct(col("user_id")).as("n_users"))
    },

    "multimodal_bytes" -> { (s, d) =>
      Multimodal.toMultimodal(t(s, d, "documents"))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.kind").as("kind"))
        .orderBy(col("doc_id"))
    },

    // Frame-sampling plumbing: per-doc frame counts + sampled byte totals
    // are pure arithmetic over payload sizes, so the oracle mirrors the
    // stub sampler exactly (window slicing stands in for codec keyframes).
    "multimodal_frames" -> { (s, d) =>
      val mm = Multimodal.toMultimodal(t(s, d, "documents"))
      Multimodal.sampleFrames(s, mm, frameBytes = 256, maxFrames = 8)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(octet_length(col("frame")).cast("long")).as("bytes_sampled"))
        .orderBy(col("doc_id"))
    },

    // The feature extractor's integer core (exact per-bin byte counts as
    // scalar columns) — hash-checkable in DuckDB via the hex-string list
    // comprehension below. The float normalization on top is covered by
    // the determinism/unit-mass spec (float32 division would drift in the
    // last ulp across engines).
    "multimodal_features" -> { (s, d) =>
      val mm = Multimodal.toMultimodal(t(s, d, "documents"))
      Multimodal.byteHistogram(s, mm).orderBy(col("doc_id"))
    },

    // REAL codec gate: synthesize a formulaic grayscale PNG per doc (the
    // JRE's own PNG writer), decode it back through the javax.imageio
    // codec in Multimodal.imageDecoder, and emit dimensions + the exact
    // 16-bin histogram of the decoded pixel bytes. PNG is lossless, so
    // the oracle predicts every count analytically from the pixel formula
    // gray(i) = (doc_id*31 + i) mod 256 — if the decode path ever stops
    // reproducing the encoded pixels bit-for-bit, the hash mismatches.
    "multimodal_decode" -> { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = t(s, d, "documents").filter(col("doc_id") < 200).select(col("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val payloads = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        val w = 4 + (id % 5).toInt
        val h = 3 + (id % 7).toInt
        Row(id, Multimodal.synthPng(w, h, i => ((id * 31 + i) % 256).toInt))
      }, schema)
      Multimodal.decodeImageStats(s, payloads).orderBy(col("doc_id"))
    },

    // GIF leg of the real-codec decode (VERDICT r8 named it beside JPEG):
    // GIF's LZW is lossless and the fixture writes an explicit 256-gray
    // palette (no quantization), so — unlike JPEG — the oracle predicts
    // every decoded pixel analytically, the PNG/BMP exactness contract.
    "multimodal_decode_gif" -> { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = t(s, d, "documents").filter(col("doc_id") < 200).select(col("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val payloads = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        val w = 5 + (id % 6).toInt
        val h = 5 + (id % 5).toInt // JRE GIF codec scrambles rows below h=5 (GifSpec pins it)
        Row(id, Multimodal.synthGif(w, h, i => ((id * 17 + 3 * i) % 256).toInt))
      }, schema)
      Multimodal.decodeImageStats(s, payloads).orderBy(col("doc_id"))
    },

    // Perceptual image near-dup gate: three formulaic PNGs per doc id —
    // original, a sparse-pixel "retouch" twin (+8 gray on every 29th
    // pixel; hamming <= 3 measured), and a different-frequency foil —
    // through the REAL PNG codec, dHash fingerprints, pigeonhole-blocked
    // candidate join, exact hamming verify. dHash is brightness-
    // invariant by design, so ids sharing a spatial frequency also pair
    // (deterministic — the oracle replays every pixel, block sum,
    // cross-multiplied comparison and hamming of all 44850 pairs in SQL
    // and must emit the IDENTICAL pair set).
    "multimodal_dhash_pairs" -> { (s, d) =>
      val (_, payloads) = probeTriplets(s, d) { (id, w, h, v) =>
        Multimodal.synthPng(w, h, probePixel(id, v == 2, 0, v == 1))
      }
      Multimodal.dhashPairs(s, payloads, maxDist = 6)
        .orderBy(col("a_id"), col("b_id"))
    },

    // REAL LOSSY-codec gate (JPEG — the dominant web image format): a
    // formulaic horizontal-gradient JPEG per doc through the JRE's own
    // JPEG writer at quality 0.95, decoded back through the
    // javax.imageio path in Multimodal.imageDecoder. JPEG pixels are not
    // analytically predictable (IDCT loss), so this is the measured-
    // verdict pattern: dimensions are exact, and the decoded 16-bin
    // pixel histogram must sit within a pinned L1 tolerance of the
    // analytic gradient histogram (measured deviation 0 at q=0.95 on
    // every fixture; pinned at 96 = headroom of two full columns).
    "multimodal_decode_jpeg" -> { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{ArrayType, BinaryType, LongType, StructField, StructType}
      val ids = t(s, d, "documents").filter(col("doc_id") < 200).select(col("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false),
        StructField("exp", ArrayType(LongType, containsNull = false), nullable = false)))
      val payloads = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        val w = 16 + (id % 9).toInt
        val h = 12 + (id % 7).toInt
        val f = (i: Int) => (i % w) * 255 / math.max(1, w - 1)
        val exp = new Array[Long](16)
        var i = 0
        while (i < w * h) { exp((f(i) & 0xFF) >> 4) += 3; i += 1 }
        Row(id, Multimodal.synthJpeg(w, h, f, 0.95f), exp.toSeq)
      }, schema)
      val stats = Multimodal.decodeImageStats(
        s, payloads.select(col("doc_id"), col("payload")))
      val dev = (0 until 16).map(b => abs(col(s"c$b") - col("exp")(b)))
        .reduce(_ + _)
      stats.join(payloads.select(col("doc_id"), col("exp")), Seq("doc_id"))
        .select(col("doc_id"), col("width"), col("height"),
          (dev <= 96L).as("hist_ok"))
        .orderBy(col("doc_id"))
    },

    // Near-dup detection ACROSS the lossy boundary — the canonical real-
    // world case: the same image saved as PNG and re-encoded as JPEG
    // must pair (dHash rides block means, which JPEG's DCT quantization
    // preserves: worst twin hamming 2 at q=0.95, 5 at q=0.85, measured),
    // while a different-frequency foil must not (min foil hamming 11
    // measured vs maxDist=6). Emits one verdict row per base doc.
    "multimodal_dhash_mixed" -> { (s, d) =>
      val (ids, payloads) = probeTriplets(s, d) { (id, w, h, v) =>
        if (v == 1) Multimodal.synthJpeg(w, h, probePixel(id, false, 0, false), 0.9f)
        else Multimodal.synthPng(w, h, probePixel(id, v == 2, 0, false))
      }
      twinFoilVerdicts(ids, Multimodal.dhashPairs(s, payloads, maxDist = 6))
    },

    // Perceptual VIDEO near-dup gate: three 3-frame GFV1 videos per doc
    // id (original / frame-1-retouched twin / different-frequency foil)
    // — real container demux, real per-frame PNG decode, per-frame
    // dHash, frame-0 pigeonhole candidates, aligned-frame max-hamming
    // verify. The oracle replays every pixel of every frame, the block
    // sums, bits, per-frame hammings and the per-pair max analytically
    // and must emit the identical 114-pair set (100 twins at max
    // hamming 0-4 + 14 structural brightness-relatives, measured).
    "multimodal_video_pairs" -> { (s, d) =>
      val (_, payloads) = probeTriplets(s, d) { (id, w, h, v) =>
        Multimodal.synthVideo((0 until 3).map(f =>
          Multimodal.synthPng(w, h, probePixel(id, v == 2, f, v == 1 && f == 1))))
      }
      Multimodal.videoPairs(s, payloads, maxDist = 6)
        .orderBy(col("a_id"), col("b_id"))
    },

    // REAL-container video near-dup gate: MJPEG-in-AVI — the RIFF
    // container + JPEG codec an actual video corpus contains — through
    // the real demux (LIST-movi walker), real per-frame JPEG decode,
    // per-frame dHash, aligned-frame max-hamming verify. JPEG loss makes
    // pixels non-replayable in SQL, so this is the measured-verdict
    // pattern: the frame-1-retouched twin must pair (worst aligned-frame
    // hamming 5 measured at q=0.9 vs maxDist=6) and the different-
    // frequency foil must not (min hamming 11 measured).
    "multimodal_avi_pairs" -> { (s, d) =>
      val (ids, payloads) = probeTriplets(s, d) { (id, w, h, v) =>
        Multimodal.synthAvi((0 until 3).map(f => Multimodal.synthJpeg(w, h,
          probePixel(id, v == 2, f, v == 1 && f == 1), 0.9f)), w, h)
      }
      twinFoilVerdicts(ids, Multimodal.videoPairs(s, payloads, maxDist = 6))
    },

    // Perceptual audio near-dup gate: three formulaic WAVs per doc id —
    // original (per-frame squared-mix amplitude envelope), a twin with a
    // few frames boosted +3000 (hamming 0-2 measured), and a different-
    // envelope foil (min non-twin hamming 5 measured — clean separation
    // at maxDist=4) — through the REAL WAV codec, envelope fingerprints,
    // pigeonhole-blocked candidates, exact hamming. The oracle replays
    // every sample, frame sum, cross-multiplied comparison and hamming
    // analytically and must emit the identical 100-twin pair set.
    "multimodal_audio_pairs" -> { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = t(s, d, "documents").filter(col("doc_id") < 100).select(col("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val payloads = s.createDataFrame(ids.rdd.flatMap { r =>
        val id = r.getLong(0)
        val n = 390 + (id % 65).toInt
        def amp(f: Long, foil: Boolean, bump: Boolean): Short = {
          val m = if (foil) id * 197 + f * 104729 else id * 131 + f * 7919
          val a = 500 + (m * m) % 14983
          (a + (if (bump && f % 17 == 3) 3000 else 0)).toShort
        }
        def wav(foil: Boolean, bump: Boolean) = Multimodal.synthWav(8000,
          Array.tabulate(n)(i => amp(i.toLong * 65 / n, foil, bump)))
        Seq(Row(id, wav(foil = false, bump = false)),
          Row(id + 1000L, wav(foil = false, bump = true)),
          Row(id + 2000L, wav(foil = true, bump = false)))
      }, schema)
      Multimodal.audioPairs(s, payloads, maxDist = 4)
        .orderBy(col("a_id"), col("b_id"))
    },

    // REAL audio-codec gate: synthesize a formulaic mono 16-bit PCM WAV
    // per doc (the JRE's own WAV writer), decode it back through the
    // javax.sound.sampled codec in Multimodal.wavDecoder, and emit
    // rate/channels/sample count/exact sample sum. PCM is lossless, so
    // the oracle predicts every value analytically from the sample
    // formula s(i) = ((doc_id*7919 + i*104729) mod 65536) - 32768.
    "multimodal_audio" -> { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = t(s, d, "documents").filter(col("doc_id") < 200).select(col("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val payloads = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        val n = 50 + (id % 17).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (((id * 7919 + i.toLong * 104729) % 65536) - 32768).toShort)
        Row(id, Multimodal.synthWav(8000, samples))
      }, schema)
      Multimodal.decodeAudioStats(s, payloads).orderBy(col("doc_id"))
    },

    // Resolution/aspect-ratio curation — the multimodal sibling of the
    // text quality gates: synthesize a formulaic PNG per doc, decode it
    // through the REAL javax.imageio codec, and bucket by the DECODED
    // aspect ratio with a min-pixel keep rule (the "drop tiny images,
    // balance portrait/landscape" step of every image-corpus pipeline).
    // PNG dims are exact, so the oracle predicts every bucket
    // analytically from the dimension formulas — if the codec ever
    // misreports dimensions, counts shift and the hash mismatches.
    "multimodal_resolution_buckets" -> { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = t(s, d, "documents").filter(col("doc_id") < 300).select(col("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val payloads = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        val w = 4 + (id % 9).toInt
        val h = 4 + (id % 6).toInt
        Row(id, Multimodal.synthPng(w, h, i => ((id * 17 + i) % 256).toInt))
      }, schema)
      val aspect = col("width").cast("double") / col("height")
      Multimodal.decodeImageStats(s, payloads)
        .select(col("doc_id"), col("width"), col("height"))
        .withColumn("bucket",
          when(aspect >= 1.2, "wide").when(aspect <= 0.8, "tall")
            .otherwise("near_square"))
        .withColumn("keep", col("width") * col("height") >= 40)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_images"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("width") * col("height")).as("px_sum"))
        .orderBy(col("bucket"))
    })

  def oracles: Map[String, String] = Map(
    // decoded dims == encoded dims (PNG is exact), so every bucket is
    // predictable from the dimension formulas alone
    "multimodal_resolution_buckets" ->
      """WITH s AS (
        | SELECT doc_id, 4 + doc_id % 9 AS w, 4 + doc_id % 6 AS h
        | FROM documents WHERE doc_id < 300),
        |b AS (
        | SELECT doc_id, w, h,
        |  CASE WHEN CAST(w AS DOUBLE) / h >= 1.2 THEN 'wide'
        |       WHEN CAST(w AS DOUBLE) / h <= 0.8 THEN 'tall'
        |       ELSE 'near_square' END AS bucket,
        |  w * h >= 40 AS keep
        | FROM s)
        |SELECT bucket, COUNT(*) AS n_images,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(w * h) AS BIGINT) AS px_sum
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // The three ordered CDC batches collapse to a closed form: %7==0
    // keys end at base+75 (batch 3 replaces batch 1's row), %7==1 keys
    // are deleted, %7==2 keys gain an insert at key+2000000 with 9.99.
    "conv_cdc_stream" ->
      """WITH f AS (
        | SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 75.0
        |       ELSE c_acctbal END AS c_acctbal
        | FROM customer WHERE c_custkey % 7 != 1
        | UNION ALL
        | SELECT c_custkey + 2000000, c_mktsegment, 9.99
        | FROM customer WHERE c_custkey % 7 = 2)
        |SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal,
        | CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM f GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // batch replay of the stream-static anti-join: md5 fingerprints of
    // whitespace-normalized text; the batch = every 10th doc + planted
    // re-crawls (corpus docs under shifted ids, all of which must drop).
    // NOT EXISTS, not NOT IN: a NULL fingerprint would make NOT IN
    // return zero rows while Spark's left_anti keeps novel docs (same
    // reasoning as the dedup_incremental oracle)
    "stream_ingest_dedup" ->
      """WITH n AS (
        | SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        | FROM documents),
        |batch AS (
        | SELECT doc_id, fp FROM n WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 1000000, fp FROM n
        | WHERE doc_id % 97 = 1 AND doc_id % 10 != 0),
        |corpus AS (SELECT DISTINCT fp FROM n WHERE doc_id % 10 != 0)
        |SELECT doc_id, fp FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,

    "stream_hourly_agg" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // The batch q28 oracle verbatim: native session windows must merge
    // to exactly the gaps-and-islands sessions.
    "stream_session_window" ->
      """WITH e AS (
        | SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |b AS (
        | SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM e),
        |s AS (
        | SELECT user_id, SUM(brk) OVER (PARTITION BY user_id ORDER BY us) AS sess
        | FROM b),
        |c AS (SELECT user_id, sess, COUNT(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        | CAST(MAX(n) AS BIGINT) AS max_session_events
        |FROM c GROUP BY user_id""".stripMargin,

    // The batch q42 oracle verbatim (same sorted-list fold in DuckDB).
    "stream_ewma" ->
      """WITH e AS (
        | SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  event_id
        | FROM events),
        |l AS (
        | SELECT user_id, list(value ORDER BY us, event_id) AS xs
        | FROM e GROUP BY user_id)
        |SELECT user_id, CAST(len(xs) AS BIGINT) AS n,
        | ROUND(list_reduce(xs, (acc, x) -> 0.2*x + (1 - 0.2)*acc), 6)
        |  AS ewma_r
        |FROM l ORDER BY user_id""".stripMargin,

    // The batch q34 oracle verbatim: the streamed first-touch state must
    // reduce to the identical ordered-funnel summary.
    "stream_funnel_depth" ->
      """WITH f AS (
        | SELECT user_id,
        |  MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
        |  MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
        |  MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
        |  MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
        | FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        | CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        | CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
        | CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
        |      AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
        | CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
        |      AND t_click > t_view AND t_purchase > t_click
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased
        |FROM f""".stripMargin,

    // Exact per-hour percentiles recomputed; the streamed sketch's
    // tolerance verdicts pinned true (q29 pattern).
    "stream_hourly_quantiles" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        | ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
        | ROUND(quantile_cont(value, 0.95), 4) AS exact_p95,
        | COUNT(*) AS n,
        | true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Exact fields replayed; the streamed-HLL tolerance verdict pinned.
    "stream_hourly_distinct" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        | COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n, true AS est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_session_counts" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |g AS (
        | SELECT user_id,
        |  CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) IS NULL
        |        OR epoch_us(tsu) - epoch_us(lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu)) > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM e)
        |SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id""".stripMargin,

    // Sliding windows as SQL: each event belongs to the two 1-hour windows
    // starting at floor30(ts) and floor30(ts)-30min (integer-µs floor math
    // so both engines bucket identically).
    "stream_sliding_agg" ->
      """WITH e AS (
        | SELECT CAST(ts AS TIMESTAMP) AS tsu, event_type, value FROM events),
        |slid AS (
        | SELECT make_timestamp((epoch_us(tsu) // 1800000000) * 1800000000 - k.k * 1800000000) AS w_start,
        |        event_type, value
        | FROM e, (SELECT 0 AS k UNION ALL SELECT 1) k)
        |SELECT w_start, event_type, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM slid GROUP BY 1, 2""".stripMargin,

    "multimodal_bytes" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | 'text/plain' AS kind
        |FROM documents""".stripMargin,

    "multimodal_frames" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT doc_id, nb,
        |        LEAST(CAST(CEIL(nb / 256.0) AS BIGINT), 8) AS n_frames
        |      FROM m)
        |SELECT doc_id, n_frames, LEAST(nb, n_frames * 256) AS bytes_sampled
        |FROM f WHERE n_frames > 0""".stripMargin,

    // Byte histogram via list comprehension over the hex dump: byte i's
    // high nibble is the hex digit at (1-based) position 2i+1, so each bin
    // counts its digit at odd positions. Exact integers — hash-identical
    // to the Spark mapPartitions histogram.
    "multimodal_features" -> {
      val bins = (0 until 16).map { b =>
        val digit = Integer.toHexString(b).toUpperCase
        s"CAST(len(list_filter(range(0, n_bytes), i -> substr(h, CAST(2*i+1 AS INT), 1) = '$digit')) AS BIGINT) AS c$b"
      }.mkString(",\n ")
      s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS h,
         | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents)
         |SELECT doc_id, n_bytes,
         | $bins
         |FROM m""".stripMargin
    },

    // The decoded-PNG pixel stream is fully predicted by the synthesis
    // formula: pixel i of doc d is gray level (d*31 + i) mod 256 in all
    // three RGB channels, so bin b's count is 3x the count of pixel
    // indexes whose gray level has high nibble b.
    "multimodal_decode" -> {
      val bins = (0 until 16).map { b =>
        s"CAST(3 * COUNT(*) FILTER (WHERE nib = $b) AS BIGINT) AS c$b"
      }.mkString(",\n ")
      s"""WITH px AS (
         | SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
         | FROM documents WHERE doc_id < 200),
         |e AS (
         | SELECT doc_id, w, h, unnest(generate_series(0, w*h - 1)) AS i
         | FROM px),
         |v AS (SELECT doc_id, w, h, ((doc_id*31 + i) % 256) // 16 AS nib FROM e)
         |SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
         | CAST(MAX(h) AS BIGINT) AS height,
         | $bins
         |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // Same full analytic pixel replay as the PNG leg — GIF through the
    // explicit-palette fixture is lossless, so bin counts are exact.
    "multimodal_decode_gif" -> {
      val bins = (0 until 16).map { b =>
        s"CAST(3 * COUNT(*) FILTER (WHERE nib = $b) AS BIGINT) AS c$b"
      }.mkString(",\n ")
      s"""WITH px AS (
         | SELECT doc_id, 5 + doc_id % 6 AS w, 5 + doc_id % 5 AS h
         | FROM documents WHERE doc_id < 200),
         |e AS (
         | SELECT doc_id, w, h, unnest(generate_series(0, w*h - 1)) AS i
         | FROM px),
         |v AS (SELECT doc_id, w, h, ((doc_id*17 + 3*i) % 256) // 16 AS nib FROM e)
         |SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
         | CAST(MAX(h) AS BIGINT) AS height,
         | $bins
         |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // JPEG is lossy, so the oracle predicts the exact dimensions and pins
    // the measured-tolerance histogram verdict true (see the query
    // comment for the measured headroom).
    "multimodal_decode_jpeg" ->
      """SELECT doc_id, CAST(16 + doc_id % 9 AS BIGINT) AS width,
        | CAST(12 + doc_id % 7 AS BIGINT) AS height, TRUE AS hist_ok
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    // MJPEG-in-AVI verdicts: real RIFF demux + lossy JPEG frames, so the
    // oracle pins the measured twin/foil verdicts (see query comment).
    "multimodal_avi_pairs" ->
      """SELECT doc_id, TRUE AS twin_paired, FALSE AS foil_paired
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    // PNG-vs-JPEG near-dup verdicts: the JPEG re-encode of each image
    // must pair with its PNG original, the different-frequency foil must
    // not (both margins measured; see the query comment).
    "multimodal_dhash_mixed" ->
      """SELECT doc_id, TRUE AS twin_paired, FALSE AS foil_paired
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    // Full analytic replay of the dHash pipeline: every pixel from the
    // synthesis formulas, 9x8 block sums with integer floor boundaries,
    // cross-multiplied mean comparisons (exact integers, no division),
    // row-major bitstrings, hamming over all pairs — the emitted pair
    // set must match the codec-decoded Spark path exactly.
    "multimodal_dhash_pairs" ->
      """WITH base AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
        |imgs AS (
        | SELECT id, id AS img_id, 0 AS v FROM base
        | UNION ALL SELECT id, id + 1000, 1 FROM base
        | UNION ALL SELECT id, id + 2000, 2 FROM base),
        |dims AS (SELECT img_id, id, v, 18 + id % 7 AS w, 16 + id % 5 AS h
        |         FROM imgs),
        |e AS (SELECT img_id, id, v, w, h,
        |  unnest(generate_series(0, w*h - 1)) AS i FROM dims),
        |px AS (
        | SELECT img_id, w, h, i,
        |  CASE v
        |   WHEN 0 THEN (i*(37 + id % 13) + id*31) % 256
        |   WHEN 1 THEN (i*(37 + id % 13) + id*31 +
        |                CASE WHEN i % 29 = 0 THEN 8 ELSE 0 END) % 256
        |   ELSE (i*(101 + id % 17) + id*53) % 256 END AS g
        | FROM e),
        |cells AS (
        | SELECT img_id, ((i // w) * 8) // h AS cy, ((i % w) * 9) // w AS cx,
        |  SUM(g) AS s, COUNT(*) AS c
        | FROM px GROUP BY 1, 2, 3),
        |bits AS (
        | SELECT l.img_id, l.cy, l.cx,
        |  CASE WHEN l.s * r.c > r.s * l.c THEN '1' ELSE '0' END AS bit
        | FROM cells l JOIN cells r
        |   ON l.img_id = r.img_id AND l.cy = r.cy AND r.cx = l.cx + 1
        | WHERE l.cx < 8),
        |hs AS (SELECT img_id, string_agg(bit, '' ORDER BY cy, cx) AS dh
        |       FROM bits GROUP BY img_id),
        |pr AS (SELECT a.img_id AS a_id, a.dh AS adh, b.img_id AS b_id,
        |        b.dh AS bdh
        |       FROM hs a JOIN hs b ON a.img_id < b.img_id),
        |pe AS (SELECT a_id, b_id, adh, bdh,
        |        unnest(generate_series(1, 64)) AS p FROM pr),
        |hp AS (SELECT a_id, b_id,
        |        CAST(SUM(CASE WHEN substr(adh, p, 1) != substr(bdh, p, 1)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |       FROM pe GROUP BY 1, 2)
        |SELECT a_id, b_id, hamming FROM hp
        |WHERE hamming <= 6 ORDER BY a_id, b_id""".stripMargin,

    // Full analytic replay of the video pipeline: pixels of all three
    // frames, block sums, bits, per-frame hammings, per-pair max.
    "multimodal_video_pairs" ->
      """WITH base AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
        |imgs AS (
        | SELECT id, id AS vid, 0 AS v FROM base
        | UNION ALL SELECT id, id + 1000, 1 FROM base
        | UNION ALL SELECT id, id + 2000, 2 FROM base),
        |dims AS (SELECT vid, id, v, 18 + id % 7 AS w, 16 + id % 5 AS h
        |         FROM imgs),
        |vf AS (SELECT vid, id, v, w, h, unnest([0, 1, 2]) AS f FROM dims),
        |e AS (SELECT vid, id, v, w, h, f,
        |  unnest(generate_series(0, w*h - 1)) AS i FROM vf),
        |px AS (
        | SELECT vid, f, w, h, i,
        |  CASE WHEN v = 2
        |   THEN (i*(101 + id % 17) + id*53 + f*29) % 256
        |   ELSE (i*(37 + id % 13) + id*31 + f*29 +
        |         CASE WHEN v = 1 AND f = 1 AND i % 29 = 0
        |              THEN 8 ELSE 0 END) % 256
        |  END AS g
        | FROM e),
        |cells AS (
        | SELECT vid, f, ((i // w) * 8) // h AS cy, ((i % w) * 9) // w AS cx,
        |  SUM(g) AS s, COUNT(*) AS c
        | FROM px GROUP BY 1, 2, 3, 4),
        |bits AS (
        | SELECT l.vid, l.f, l.cy, l.cx,
        |  CASE WHEN l.s * r.c > r.s * l.c THEN '1' ELSE '0' END AS bit
        | FROM cells l JOIN cells r
        |   ON l.vid = r.vid AND l.f = r.f AND l.cy = r.cy AND r.cx = l.cx + 1
        | WHERE l.cx < 8),
        |hs AS (SELECT vid, f, string_agg(bit, '' ORDER BY cy, cx) AS dh
        |       FROM bits GROUP BY vid, f),
        |pr AS (SELECT a.vid AS a_id, b.vid AS b_id, a.f AS f,
        |        a.dh AS adh, b.dh AS bdh
        |       FROM hs a JOIN hs b ON a.vid < b.vid AND a.f = b.f),
        |pe AS (SELECT a_id, b_id, f, adh, bdh,
        |        unnest(generate_series(1, 64)) AS p FROM pr),
        |hf AS (SELECT a_id, b_id, f,
        |        SUM(CASE WHEN substr(adh, p, 1) != substr(bdh, p, 1)
        |             THEN 1 ELSE 0 END) AS hd
        |       FROM pe GROUP BY 1, 2, 3),
        |hp AS (SELECT a_id, b_id, CAST(MAX(hd) AS BIGINT) AS max_hamming
        |       FROM hf GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(3 AS BIGINT) AS n_frames, max_hamming
        |FROM hp WHERE max_hamming <= 6 ORDER BY a_id, b_id""".stripMargin,

    // Full analytic replay of the audio-fingerprint pipeline: every
    // sample from the envelope formulas, 65-frame integer loudness sums,
    // cross-multiplied mean comparisons, bitstrings, all-pairs hamming.
    "multimodal_audio_pairs" ->
      """WITH base AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
        |imgs AS (
        | SELECT id, id AS aid, 0 AS v FROM base
        | UNION ALL SELECT id, id + 1000, 1 FROM base
        | UNION ALL SELECT id, id + 2000, 2 FROM base),
        |dims AS (SELECT aid, id, v, 390 + id % 65 AS n FROM imgs),
        |e AS (SELECT aid, id, v, n,
        |  unnest(generate_series(0, n - 1)) AS i FROM dims),
        |sm AS (
        | SELECT aid, (i * 65) // n AS f,
        |  CASE WHEN v = 2
        |   THEN 500 + ((id*197 + ((i*65)//n)*104729)
        |               * (id*197 + ((i*65)//n)*104729)) % 14983
        |   ELSE 500 + ((id*131 + ((i*65)//n)*7919)
        |               * (id*131 + ((i*65)//n)*7919)) % 14983
        |        + CASE WHEN v = 1 AND ((i*65)//n) % 17 = 3
        |               THEN 3000 ELSE 0 END
        |  END AS s
        | FROM e),
        |fr AS (SELECT aid, f, SUM(abs(s)) AS es, COUNT(*) AS c
        |       FROM sm GROUP BY 1, 2),
        |bits AS (
        | SELECT l.aid, l.f,
        |  CASE WHEN l.es * r.c > r.es * l.c THEN '1' ELSE '0' END AS bit
        | FROM fr l JOIN fr r ON l.aid = r.aid AND r.f = l.f + 1
        | WHERE l.f < 64),
        |hs AS (SELECT aid, string_agg(bit, '' ORDER BY f) AS h
        |       FROM bits GROUP BY aid),
        |pr AS (SELECT a.aid AS a_id, a.h AS ah, b.aid AS b_id, b.h AS bh
        |       FROM hs a JOIN hs b ON a.aid < b.aid),
        |pe AS (SELECT a_id, b_id, ah, bh,
        |        unnest(generate_series(1, 64)) AS p FROM pr),
        |hp AS (SELECT a_id, b_id,
        |        CAST(SUM(CASE WHEN substr(ah, p, 1) != substr(bh, p, 1)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |       FROM pe GROUP BY 1, 2)
        |SELECT a_id, b_id, hamming FROM hp
        |WHERE hamming <= 4 ORDER BY a_id, b_id""".stripMargin,

    // The decoded PCM stream is fully predicted by the synthesis formula.
    "multimodal_audio" ->
      """WITH d AS (
        | SELECT doc_id, 50 + doc_id % 17 AS n
        | FROM documents WHERE doc_id < 200),
        |e AS (
        | SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(1 AS BIGINT) AS channels,
        | CAST(MAX(n) AS BIGINT) AS n_samples,
        | CAST(SUM((doc_id*7919 + i*104729) % 65536 - 32768) AS BIGINT) AS sum_samples
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // streaming first-occurrence dedup on key columns == batch DISTINCT
    "stream_dedup_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "stream_url_dedup" ->
      s"""SELECT DISTINCT ${LlmQueries.canonUrlSql("event_id")} AS canon_url
         |FROM events ORDER BY canon_url""".stripMargin,

    "stream_static_enrich" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // on-time UNION the deterministic late set (event_id % 20, -10 days,
    // +10000 poison) — the measured best-effort-aggregation semantics
    "stream_late_policy" ->
      """WITH u AS (
        | SELECT ts, event_type, value FROM events
        | UNION ALL
        | SELECT ts - INTERVAL 10 DAY AS ts, event_type, value + 10000 AS value
        | FROM events WHERE event_id % 20 = 0)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM u GROUP BY 1, 2""".stripMargin,

    // on-time UNION only the late rows the fence ADMITS (shifted ts
    // still >= the partition lower bound) — below-bound rows are
    // guaranteed dropped, in-bound late arrivals are data
    "stream_late_fenced" ->
      """WITH u AS (
        | SELECT ts, event_type, value FROM events
        | UNION ALL
        | SELECT ts - INTERVAL 10 DAY AS ts, event_type, value + 10000 AS value
        | FROM events
        | WHERE event_id % 20 = 0
        |   AND ts - INTERVAL 10 DAY >= (SELECT min(ts) FROM events))
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM u GROUP BY 1, 2""".stripMargin,

    "conv_stream_orc" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    // outer stream-stream join == the batch LEFT JOIN over the same data
    "stream_left_join" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, event_type
        | FROM events),
        |j AS (
        | SELECT err.user_id, err.event_id AS err_id, clk.event_id AS click_id
        | FROM (SELECT * FROM e WHERE event_type = 'error') err
        | LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') clk
        |   ON err.user_id = clk.user_id
        |  AND clk.tsu <= err.tsu
        |  AND clk.tsu > err.tsu - INTERVAL 5 MINUTE)
        |SELECT COUNT(*) AS n_rows, COUNT(click_id) AS n_matched,
        | CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j""".stripMargin,

    // full outer stream-stream join == the batch FULL JOIN over the data
    "stream_full_join" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, event_type
        | FROM events),
        |j AS (
        | SELECT COALESCE(err.user_id, clk.user_id) AS u,
        |        err.event_id AS err_id, clk.event_id AS click_id
        | FROM (SELECT * FROM e WHERE event_type = 'error') err
        | FULL JOIN (SELECT * FROM e WHERE event_type = 'click') clk
        |   ON err.user_id = clk.user_id
        |  AND clk.tsu <= err.tsu
        |  AND clk.tsu > err.tsu - INTERVAL 5 MINUTE)
        |SELECT COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN err_id IS NOT NULL AND click_id IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        | CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_err_unmatched,
        | CAST(SUM(CASE WHEN err_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_unmatched,
        | CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
        |FROM j""".stripMargin,

    // stream-stream join == the batch join over the same data
    "stream_click_error_join" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, event_type
        | FROM events)
        |SELECT COUNT(*) AS n_pairs,
        | CAST(COUNT(DISTINCT err.user_id) AS BIGINT) AS n_users
        |FROM e err JOIN e clk
        |  ON err.event_type = 'error' AND clk.event_type = 'click'
        | AND err.user_id = clk.user_id
        | AND clk.tsu <= err.tsu
        | AND clk.tsu > err.tsu - INTERVAL 5 MINUTE""".stripMargin)
}
