package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Staging
import graft.Tables._
import graft.operators.{CountMin, Dedup, GlobalIds, NgramLm, Profile, Retrieval, Similarity, TextAnalysis, UrlCuration}

/** LLM training-data pipeline operators under the correctness gate.
  *
  * SQL-expressible operators (token stats, quality, lang-ID, exact dedup,
  * n-gram Jaccard, embedding cosine) carry DuckDB oracles whose arithmetic
  * mirrors the Spark expressions term-for-term. Hash-based operators carry
  * DERIVED oracles: the ANN probes gate on deterministic
  * epsilon-recall-vs-brute-force verdicts, the MinHash funnel gates on
  * set-equality with the exact all-pairs Jaccard answer (full recall at
  * the gate dials, measured), and the SimHash probes run in portable
  * MD5-hash mode so DuckDB recomputes every signature from scratch. (The
  * sketch gates in AnalyticsQueries use the same verdict pattern, so NO
  * gate is rows-only.) Planted-duplicate ScalaTest specs cover the
  * operator dials the gates don't exercise.
  */
object LlmQueries {

  /** Pinned BPE merges table: learned once from the sf0.01 documents
    * corpus by `graft.BpeTrain` (BpeLearner.learnMerges, numMerges = 48,
    * maxWords = 100000, deterministic count-desc/pair-asc tie-break) and
    * frozen here, the way a production pipeline pins its tokenizer
    * vocabulary. The learned subwords are corpus-real ("join", "hash",
    * "column", "customer", "vector", "order"...), so the gate exercises
    * genuine multi-level merge cascades (e.g. v+ector <- e+ctor <- ct+or
    * <- c+t). */
  val PinnedBpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"), ("s", "mall"),
    ("g", "e"), ("l", "ow"), ("mer", "ge"), ("s", "low"), ("c", "t"),
    ("ct", "or"), ("d", "er"), ("e", "ctor"), ("or", "der"),
    ("v", "ector"))

  /** EXHAUSTIVE merges table: training continued past 48 until the pair
    * supply ran dry at 89 merges — at that point every pre-token in the
    * closed synthetic vocabulary is a single symbol, so 89 is the
    * deepest cascade this corpus admits (a production corpus with an
    * open vocabulary would support the usual 32k-100k; the learner's
    * only stop conditions are numMerges and pair exhaustion). Learned by
    * the same `graft.BpeTrain` run (numMerges = 512, maxWords = 100000,
    * count-desc/pair-asc tie-break) and frozen. The deep gates replay
    * all 89 ranks in SQL, exercising multi-level cascades ~2x deeper
    * than the 48-merge table (which stays pinned for the original
    * gates' cross-round comparability). */
  val PinnedBpeMergesDeep: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"),
    ("in", "e"), ("l", "ine"), ("a", "b"), ("ab", "l"),
    ("abl", "e"), ("at", "a"), ("d", "ata"), ("t", "able"),
    ("u", "p"), ("a", "g"), ("ag", "g"), ("a", "lu"),
    ("alu", "e"), ("v", "alue"), ("e", "y"), ("k", "ey"),
    ("a", "m"), ("e", "am"), ("r", "eam"), ("st", "ream"),
    ("d", "ow"), ("in", "dow"), ("w", "indow"), ("par", "k"),
    ("s", "park"), ("g", "r"), ("gr", "o"), ("gro", "up"),
    ("par", "t"), ("b", "i"), ("bi", "g"), ("or", "t"),
    ("s", "ort"), ("er", "y"), ("q", "u"), ("qu", "ery"),
    ("a", "st"), ("f", "ast"), ("h", "e"), ("t", "he"),
    ("d", "up"))

  /** Serve BM25 from the per-sf-dir staged index (built once — the
    * corpus scan a search deployment pays at index-build time). Shared
    * by the serve gate and the hybrid-serve bench row. */
  def bm25Served(s: SparkSession, d: String, k: Int): DataFrame = {
    val idx = ConverterQueries.tmp(d, "bm25_index")
    ConverterQueries.stageOnce(idx) {
      graft.operators.Retrieval.buildBm25Index(t(s, d, "documents"), idx)
    }
    graft.operators.Retrieval.bm25Serve(s, idx,
      graft.operators.Retrieval.PinnedQueries, k)
  }

  /** Per-sf-dir staged near-dup signature index (catalog table —
    * writeBucketed drops and recreates, so a fresh JVM rebuilds cleanly
    * over a stale warehouse dir). Corpus side = doc_id % 10 != 0,
    * matching the incremental screening gates. */
  private def nearDupIndexFor(s: SparkSession, d: String): String =
    Staging.once(s"neardup_idx|$d") {
      val tbl = s"graft_neardup_idx_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Dedup.buildNearDupIndex(
        t(s, d, "documents").filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", tbl, k = 32, shingleSize = 5, bands = 8)
      tbl
    }

  private def editIndexFor(s: SparkSession, d: String): String =
    Staging.once(s"edit_idx|$d") {
      val tbl = s"graft_edit_idx_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Dedup.buildEditIndex(
        t(s, d, "customer").filter(col("c_custkey") < 300)
          .select(col("c_custkey").as("id"), col("c_name")),
        "id", "c_name", tbl, q = 2, maxDistBound = 2)
      tbl
    }

  /** Per-sf-dir staged PERSISTENT IVF index (bucketed catalog table on
    * the cell key; built once from the frozen hybrid centroids, which it
    * stages first). */
  private def ivfIndexFor(s: SparkSession, d: String): String =
    Staging.once(s"ivf_idx|$d") {
      val tbl = s"graft_ivf_idx_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.buildIvfIndex(t(s, d, "embeddings"), "vec_id", "embedding",
        tbl, hybridCentroidsFor(s, d))
      tbl
    }

  /** Planted-drift fixture for the recluster gate. PRE-drift corpus:
    * 16 tight clusters in dims 0..31 (1.0 at dims {2a, 2a+1},
    * a = vec_id % 16), small jitter, and EXACTLY zero mass in dims
    * 32..63. POST-drift corpus: all signal moves to dims 32..63
    * (8 clusters, 1.0 on the 4-dim block {32+4c .. 35+4c},
    * c = vec_id % 8) plus a ranking-noise channel there, with only
    * tiny routing noise left in dims 0..31. Centroids trained
    * pre-drift have zero components where the drifted signal lives, so
    * post-drift assignment under them is routing noise — same-cluster
    * neighbors scatter uniformly across the 16 stale cells (expected
    * per-neighbor hit rate ~ nProbe/16) — while centroids retrained
    * post-drift recover the block structure and full recall.
    * Deterministic end-to-end: every value derives from vec_id
    * arithmetic. */
  private def driftFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = t(s, d, "embeddings")
    // Deterministic pseudo-noise channels from vec_id arithmetic. The
    // CRITICAL property is that the ROUTING channel (dims 0..31, the
    // only dims stale centroids have mass in — decides which stale cell
    // a post-drift vector lands in) and the RANKING channel (dims
    // 32..63 — decides which same-cluster neighbors are a query's true
    // top-k) use INDEPENDENT multipliers: were they correlated, the
    // top-ranked neighbors would co-locate with the query under stale
    // routing and stale recall would NOT collapse (measured — deriving
    // both from the fixture embedding made the stale serve pass).
    // xxhash64-based noise, NOT a linear-congruential progression: an
    // LCG's per-dim step is constant, which leaves arithmetic structure
    // in the routing channel (adjacent dims differ by a constant) and
    // measurably skews the stale cell histogram ~5:1; the hash gives
    // i.i.d.-grade noise per (salt, vec_id, dim)
    def noise(salt: Int)(j: Column): Column =
      pmod(xxhash64(lit(salt), col("vec_id"), j), lit(9973L))
        .cast("double") / 9973.0 - 0.5
    val route = noise(1) _
    val rank = noise(2) _
    val preJit = noise(3) _
    val a = pmod(col("vec_id"), lit(16)).cast("int")
    val pre = emb.select(col("vec_id"),
      concat(
        transform(sequence(lit(0), lit(31)), j =>
          lit(0.05) * preJit(j) +
            when(j === a * 2 || j === a * 2 + 1, 1.0).otherwise(0.0)),
        transform(sequence(lit(32), lit(63)), _ => lit(0.0))).as("embedding"))
    val c = pmod(col("vec_id"), lit(8)).cast("int")
    val post = emb.select(col("vec_id"),
      concat(
        transform(sequence(lit(0), lit(31)), j => lit(0.05) * route(j)),
        transform(sequence(lit(32), lit(63)), j =>
          lit(0.25) * rank(j) +
            when(j >= c * 4 + 32 && j < c * 4 + 36, 1.0).otherwise(0.0)))
        .as("embedding"))
    (pre, post)
  }

  /** Per-sf-dir staged drift-maintenance pair: the STALE persisted IVF
    * index (pre-drift centroids routing the post-drift corpus — the
    * state a standing index is in after the distribution shifted under
    * it) plus, iff the KS assignment-confidence monitor fires, the
    * RECLUSTERED index (centroids retrained on a bounded post-drift
    * sample, catalog re-routed in one shuffle by
    * [[Similarity.reclusterIvfIndex]]). Returns (staleTable,
    * servingTable, staleCents, servingCents, fired). */
  private def ivfDriftFor(s: SparkSession, d: String)
      : (String, String, Seq[Seq[Double]], Seq[Seq[Double]], Boolean) =
    Staging.once(s"ivf_drift|$d") {
      val key = d.replaceAll("[^A-Za-z0-9]", "_")
      val (pre, post) = driftFrames(s, d)
      val staleCents = Similarity.trainIvfCentroids(pre, "vec_id",
        "embedding", nCentroids = 16, lloydIters = 2)
      val staleTbl = s"graft_ivf_stale_$key"
      Similarity.buildIvfIndex(post, "vec_id", "embedding", staleTbl,
        staleCents)
      val fired = Similarity.ivfAssignmentDrift(pre, post, "vec_id",
        "embedding", staleCents).head.getDouble(0) >= 0.5
      if (fired) {
        // refreshed width matches the DRIFTED modality count (8 blocks):
        // reclustering adapts the index to the new structure, it doesn't
        // replay the stale geometry
        val freshCents = Similarity.trainIvfCentroids(post, "vec_id",
          "embedding", nCentroids = 8, lloydIters = 2)
        val freshTbl = s"graft_ivf_fresh_$key"
        Similarity.reclusterIvfIndex(s, staleTbl, freshTbl, freshCents)
        (staleTbl, freshTbl, staleCents, freshCents, true)
      } else (staleTbl, staleTbl, staleCents, staleCents, false)
    }

  /** Drops catalog table `tbl` and its warehouse dir, so a streamed
    * index rebuilds cleanly over state a killed process left behind. */
  private def dropStreamedIndex(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + s"/$tbl")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Per-sf-dir STREAMED IVF index: three embedding batch files staged
    * into a landing dir, each appended to the standing index by the
    * foreachBatch ingest loop under the frozen centroids. Rebuilt
    * cleanly once per JVM (drop table + fresh checkpoint), so stale
    * warehouse/checkpoint state from a killed process self-heals. */
  private def ivfStreamIndexFor(s: SparkSession, d: String): String =
    Staging.once(s"ivf_stream|$d") {
      val tbl = s"graft_ivf_stream_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      dropStreamedIndex(s, tbl)
      val (landing, ckpt) = docBatchLandingFor(s, d, "ivf_ingest", lit(true),
        table = "embeddings", idCol = "vec_id")
      graft.streaming.EventStream.ivfIngestApply(s, landing, tbl,
        hybridCentroidsFor(s, d), ckpt)
      tbl
    }

  /** Per-sf-dir STREAMED near-dup signature index: three corpus doc
    * batches staged into a landing dir, each signatured and appended to
    * the standing band-bucketed index by the foreachBatch ingest loop —
    * the MinHash member of the streamed-index trio (BM25 / IVF /
    * near-dup). Same clean-slate discipline as [[ivfStreamIndexFor]]. */
  private def minhashStreamIndexFor(s: SparkSession, d: String): String =
    Staging.once(s"minhash_stream|$d") {
      val tbl = s"graft_minhash_stream_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      dropStreamedIndex(s, tbl)
      val (landing, ckpt) = docBatchLandingFor(s, d, "minhash_ingest",
        col("doc_id") % 10 =!= 0)
      graft.streaming.EventStream.minhashIngestApply(s, landing, tbl, ckpt,
        k = 32, shingleSize = 5, bands = 8)
      tbl
    }

  /** Stage `nBatches` batch files of `table` (split by `batchOf(idCol)`,
    * filtered by `rowFilter`) into a per-sf landing dir for the
    * streaming gates; staged once per (d, subdir). The CHECKPOINT path
    * is wiped on every call so each run re-processes the same
    * micro-batches deterministically. Returns (landingDir,
    * checkpointDir). */
  private def docBatchLandingFor(s: SparkSession, d: String, subdir: String,
                                 rowFilter: Column,
                                 batchOf: Column => Column =
                                   c => pmod(c, lit(3)),
                                 nBatches: Int = 3,
                                 table: String = "documents",
                                 idCol: String = "doc_id"): (String, String) = {
    val key = d.replaceAll("[^A-Za-z0-9.]", "_")
    val base = java.nio.file.Paths.get(s"/tmp/graft_stream/$key/$subdir")
    val landing = Staging.once(s"landing|$d/$subdir") {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      val l = base.resolve("landing")
      java.nio.file.Files.createDirectories(l)
      val rows = t(s, d, table).filter(rowFilter)
      for (i <- 0 until nBatches) {
        val stage = base.resolve(s".stage-$i")
        rows.filter(batchOf(col(idCol)) === i)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          l.resolve(s"batch-$i.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
      }
      l.toString
    }
    val ckpt = base.resolve("ckpt")
    org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    (landing, ckpt.toString)
  }
  private def driftLandingFor(s: SparkSession, d: String): (String, String) =
    docBatchLandingFor(s, d, "ks_drift", lit(true))

  /** Frozen IVF centroids for the hybrid-serve gate: trained once per
    * sf dir (deterministic Lloyd, same dials as the ann serve rows) —
    * index build happens at staging time, never inside a served query. */
  private[graft] def hybridCentroidsFor(s: SparkSession, d: String): Seq[Seq[Double]] =
    Staging.once(s"hybrid_centroids|$d") {
      Similarity.trainIvfCentroids(t(s, d, "embeddings"), "vec_id",
        "embedding", nCentroids = 16, lloydIters = 2)
    }

  /** DuckDB recomputation of the BPE merge cascade. Encoding: every
    * symbol is wrapped `§sym§` (each token carries its OWN delimiters, so
    * consuming a pair never eats a neighbour's boundary and one global
    * leftmost-non-overlapping `replace` per merge is exactly the
    * rank-order merge pass); pre-tokens are joined with `¶` so no merge
    * crosses a pre-token boundary. Both markers are non-ASCII and the
    * corpus is ASCII-only (verified), so they cannot collide with data.
    * Token count = half the § count; distinct tokens unwrap via regex.
    * The shared CTE chain ends in `bc(doc_id, source, lang, n_tokens, s)`
    * — per-doc BPE token counts plus the merged symbol string — reused
    * by the per-doc count gate, the BPE-aware packing gate, and the
    * fertility gate. */
  private def bpeCtes: String = bpeCtesFor(PinnedBpeMerges)

  private def bpeCtesFor(merges: Seq[(String, String)]): String = {
    val S = "§" // section sign: per-symbol delimiter
    val B = "¶" // pilcrow: pre-token boundary
    def esc(s: String) = s.replace("'", "''")
    val wrapped =
      s"array_to_string(list_transform(" +
        s"regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]+'), " +
        s"t -> regexp_replace(t, '(.)', '$S\\1$S', 'g')), '$B')"
    val cascade = merges.foldLeft("s0") { case (acc, (x, y)) =>
      s"replace($acc, '$S${esc(x)}$S$S${esc(y)}$S', '$S${esc(x)}${esc(y)}$S')"
    }
    s"""w AS (SELECT doc_id, source, lang, $wrapped AS s0 FROM documents),
       |m AS (SELECT doc_id, source, lang, $cascade AS s FROM w),
       |bc AS (SELECT doc_id, source, lang,
       | CAST((length(s) - length(replace(s, '$S', ''))) // 2 AS BIGINT) AS n_tokens,
       | s FROM m)""".stripMargin
  }

  /** DuckDB replay of the BM25 pipeline (shared by the lexical gate and
    * the hybrid-fusion gate): VALUES-pinned queries, the corpus-wide
    * normalization/tokenization, Lucene's always-positive idf, per-term
    * contributions rounded to 6 then decimal-summed and rounded to 4,
    * rank by (score DESC, doc_id). Ends in the CTE
    * `lex(query_id, doc_id, rank, score)` capped at `k`. */
  private def bm25Ctes(k: Int): String = {
    val values = Retrieval.PinnedQueries
      .map { case (i, q) => s"($i, '${q.replace("'", "''")}')" }
      .mkString(", ")
    s"""q(query_id, qtext) AS (VALUES $values),
       |qt AS (SELECT DISTINCT query_id,
       |  unnest(string_split(regexp_replace(trim(lower(qtext)), '\\s+', ' ', 'g'), ' ')) AS term
       | FROM q),
       |tok0 AS (SELECT doc_id,
       |  unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS term
       | FROM documents),
       |tok AS (SELECT doc_id, term FROM tok0 WHERE len(term) > 0),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT AVG(dl) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n_docs FROM dl),
       |btf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
       |dfq AS (SELECT term, COUNT(*) AS df_t FROM btf GROUP BY 1),
       |sc AS (
       | SELECT qt.query_id, btf.doc_id,
       |  ROUND(CAST(SUM(CAST(ROUND(
       |    ln(1 + (st.n_docs - dfq.df_t + 0.5) / (dfq.df_t + 0.5)) *
       |    btf.tf * (1.2 + 1) /
       |    (btf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)),
       |   6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS score
       | FROM btf JOIN qt USING (term) JOIN dfq USING (term)
       |  JOIN dl USING (doc_id), st
       | GROUP BY 1, 2),
       |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score FROM (
       | SELECT query_id, doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank, score
       | FROM sc) WHERE rank <= $k)""".stripMargin
  }

  /** Full two-round PRF replay: round 1 = the proven BM25 chain capped
    * at `fbDocs`; expansion-term mining (feedback tf × idf, 6dp rounding,
    * term-asc tie-break, original terms excluded via NOT EXISTS); round 2
    * = the same BM25 arithmetic over the UNION of original and expansion
    * terms. The oracle derives the expansion set itself — a Spark-side
    * term-selection bug cannot hide behind a replayed list. */
  private def prfOracleSql(k: Int, fbTerms: Int, fbDocs: Int): String =
    s"""WITH ${bm25Ctes(fbDocs)},
       |fb AS (SELECT query_id, doc_id FROM lex),
       |cand AS (SELECT fb.query_id, tok.term, COUNT(*) AS ftf
       |  FROM tok JOIN fb USING (doc_id) GROUP BY 1, 2),
       |cdf AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tok
       |  WHERE term IN (SELECT DISTINCT term FROM cand) GROUP BY 1),
       |esc AS (SELECT c.query_id, c.term,
       |   ROUND(c.ftf * ln(1 + (st.n_docs - cdf.df_t + 0.5) /
       |     (cdf.df_t + 0.5)), 6) AS escore
       |  FROM cand c JOIN cdf USING (term), st
       |  WHERE NOT EXISTS (SELECT 1 FROM qt
       |    WHERE qt.query_id = c.query_id AND qt.term = c.term)),
       |ex AS (SELECT query_id, term FROM (
       |  SELECT query_id, term,
       |   ROW_NUMBER() OVER (PARTITION BY query_id
       |     ORDER BY escore DESC, term) AS rn
       |  FROM esc) WHERE rn <= $fbTerms),
       |qt2 AS (SELECT query_id, term FROM qt
       |        UNION SELECT query_id, term FROM ex),
       |btf2 AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |  WHERE term IN (SELECT DISTINCT term FROM qt2) GROUP BY 1, 2),
       |dfq2 AS (SELECT term, COUNT(*) AS df_t FROM btf2 GROUP BY 1),
       |sc2 AS (
       | SELECT qt2.query_id, btf2.doc_id,
       |  ROUND(CAST(SUM(CAST(ROUND(
       |    ln(1 + (st.n_docs - dfq2.df_t + 0.5) / (dfq2.df_t + 0.5)) *
       |    btf2.tf * (1.2 + 1) /
       |    (btf2.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)),
       |   6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS score
       | FROM btf2 JOIN qt2 USING (term) JOIN dfq2 USING (term)
       |  JOIN dl USING (doc_id), st
       | GROUP BY 1, 2),
       |lex2 AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  rank, score FROM (
       | SELECT query_id, doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank, score
       | FROM sc2) WHERE rank <= $k)
       |SELECT query_id, doc_id, rank, score FROM lex2
       |ORDER BY query_id, rank""".stripMargin

  /** Unrolled greedy-MMR replay: one (m_i, s_i) CTE pair per step —
    * remaining candidates score lambda*rel - (1-lambda)*max-sim against
    * the selected-so-far union, round to 6dp, argmax with doc_id
    * tie-break. Interpolated doubles (lambda, 1-lambda) print at full
    * precision so both engines parse the identical IEEE value. */
  private def mmrOracleSql(k: Int, lambda: Double, shortlist: Int,
                           nQueries: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < $nQueries),
       |cand AS (
       | SELECT query_id, doc_id, rel, v FROM (
       |  SELECT q.query_id, e.vec_id AS doc_id,
       |   ROUND(list_cosine_similarity(q.v, e.v), 4) AS rel, e.v,
       |   ROW_NUMBER() OVER (PARTITION BY q.query_id
       |     ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rn
       |  FROM q JOIN e ON e.vec_id != q.query_id)
       | WHERE rn <= $shortlist),
       |m1 AS (SELECT query_id, doc_id, ROUND($lambda * rel, 6) AS mmr, v
       |       FROM cand),
       |s1 AS (SELECT query_id, doc_id, mmr, v FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY mmr DESC, doc_id) AS rn FROM m1) WHERE rn = 1)""".stripMargin
    for (step <- 2 to k) {
      val selParts = (1 until step)
        .map(i => s"SELECT query_id, doc_id, v FROM s$i")
        .mkString(" UNION ALL ")
      sb ++= s""",
         |sel$step AS ($selParts),
         |m$step AS (
         | SELECT c.query_id, c.doc_id,
         |  ROUND($lambda * ANY_VALUE(c.rel)
         |    - ${1.0 - lambda} * MAX(list_cosine_similarity(c.v, s.v)), 6) AS mmr,
         |  ANY_VALUE(c.v) AS v
         | FROM cand c JOIN sel$step s USING (query_id)
         | WHERE NOT EXISTS (SELECT 1 FROM sel$step x
         |   WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)
         | GROUP BY c.query_id, c.doc_id),
         |s$step AS (SELECT query_id, doc_id, mmr, v FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY mmr DESC, doc_id) AS rn FROM m$step) WHERE rn = 1)""".stripMargin
    }
    val finalSel = (1 to k)
      .map(i =>
        s"SELECT query_id, doc_id, CAST($i AS BIGINT) AS rank, mmr FROM s$i")
      .mkString(" UNION ALL ")
    sb ++= s"\nSELECT query_id, doc_id, rank, mmr FROM ($finalSel)\nORDER BY query_id, rank"
    sb.toString
  }

  /** Exact batch-x-corpus Jaccard at full-recall dials — shared by the
    * direct incremental screening gate and its index-served twin. */
  private def incrementalNearOracle: String =
    """WITH n AS (
      | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
      | FROM documents),
      |s AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, GREATEST(length(t) - 4, 1)),
      |   i -> substr(t, i, 5))) AS sh
      | FROM n),
      |d AS (SELECT doc_id, sh, len(sh) AS nsh FROM s),
      |p AS (
      | SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
      |  len(list_intersect(a.sh, b.sh)) AS inter, a.nsh AS na, b.nsh AS nb
      | FROM d a JOIN d b
      |  ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
      |  AND LEAST(a.nsh, b.nsh) >= 0.6 * GREATEST(a.nsh, b.nsh))
      |SELECT batch_id, corpus_id,
      | ROUND(inter / (na + nb - inter), 4) AS jaccard
      |FROM p WHERE inter / (na + nb - inter) >= 0.6
      |ORDER BY jaccard DESC, batch_id, corpus_id LIMIT 100""".stripMargin

  private def bpeOracleSql: String = bpeOracleSqlFor(PinnedBpeMerges)

  private def bpeOracleSqlFor(merges: Seq[(String, String)]): String =
    s"""WITH ${bpeCtesFor(merges)}
       |SELECT doc_id,
       | n_tokens AS n_bpe_tokens,
       | CAST(len(list_distinct(regexp_extract_all(s, '§([^§¶]+)§', 1))) AS BIGINT) AS n_unique_tokens
       |FROM bc""".stripMargin

  private def bpeFertilityOracleFor(merges: Seq[(String, String)]): String =
    s"""WITH ${bpeCtesFor(merges)},
       |ws AS (SELECT doc_id,
       |  CASE WHEN length(regexp_replace(trim(text), '\\s+', ' ', 'g')) = 0 THEN 0
       |       ELSE len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))
       |  END AS n_words
       | FROM documents)
       |SELECT bc.lang, CAST(SUM(bc.n_tokens) AS BIGINT) AS total_bpe,
       | CAST(SUM(ws.n_words) AS BIGINT) AS total_words,
       | ROUND(CAST(SUM(bc.n_tokens) AS DOUBLE) / SUM(ws.n_words), 4) AS fertility
       |FROM bc JOIN ws USING (doc_id)
       |GROUP BY bc.lang ORDER BY bc.lang""".stripMargin

  private def bpePackingOracleSql: String =
    s"""WITH $bpeCtes,
       |c AS (SELECT source, n_tokens,
       |      SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM bc)
       |SELECT source,
       | CAST(COUNT(DISTINCT (cum - n_tokens) // 2048) AS BIGINT) AS n_packs,
       | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM c GROUP BY source""".stripMargin

  /** Deterministic messy-URL decorator for the URL-curation gates: every
    * residue class plants a different canonicalization hazard (mixed-case
    * scheme+host, www., scheme-default vs real ports, utm params in both
    * positions, fragments, trailing slashes). Docs congruent mod 150
    * canonicalize to the SAME url under DIFFERENT messy spellings — the
    * url-dedup signal (150 = lcm of every canon-surviving residue: host
    * %5, path %50, query class %3, id %10, port class %6). */
  private[graft] def messyUrl(docId: Column): Column = concat(
    when(docId % 3 === 0, lit("HTTP"))
      .when(docId % 3 === 1, lit("HTTPS")).otherwise(lit("hTtp")),
    lit("://"),
    when(docId % 4 === 0, lit("WWW.")).when(docId % 4 === 2, lit("www."))
      .otherwise(lit("")),
    lit("h"), (docId % 5).cast("string"), lit(".Example.COM"),
    when(docId % 6 === 0, lit(":80")).when(docId % 6 === 1, lit(":443"))
      .when(docId % 6 === 3, lit(":8080")).otherwise(lit("")),
    lit("/docs/"), (docId % 50).cast("string"),
    when(docId % 2 === 0, lit("/")).otherwise(lit("")),
    when(docId % 3 === 0,
        concat(lit("?utm_source=rss&id="), (docId % 10).cast("string")))
      .when(docId % 3 === 1,
        concat(lit("?id="), (docId % 10).cast("string"),
          lit("&utm_medium=email")))
      .otherwise(lit("")),
    when(docId % 5 === 1, lit("#section-2")).otherwise(lit("")))

  /** DuckDB replay of [[messyUrl]] (single-line fragment — spliced into
    * stripMargin oracle bodies, so it must not carry newlines). */
  private val MessyUrlSql: String =
    "(CASE WHEN doc_id % 3 = 0 THEN 'HTTP' WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'hTtp' END)" +
      " || '://'" +
      " || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' WHEN doc_id % 4 = 2 THEN 'www.' ELSE '' END)" +
      " || 'h' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'" +
      " || (CASE WHEN doc_id % 6 = 0 THEN ':80' WHEN doc_id % 6 = 1 THEN ':443'" +
      " WHEN doc_id % 6 = 3 THEN ':8080' ELSE '' END)" +
      " || '/docs/' || CAST(doc_id % 50 AS VARCHAR)" +
      " || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)" +
      " || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=rss&id=' || CAST(doc_id % 10 AS VARCHAR)" +
      " WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_medium=email'" +
      " ELSE '' END)" +
      " || (CASE WHEN doc_id % 5 = 1 THEN '#section-2' ELSE '' END)"

  /** Independent direct construction of the EXPECTED canonical url (the
    * canon-surviving residues only — scheme class, host, real port, path,
    * de-tracked query), over any integer id expression. */
  private[graft] def canonUrlSql(id: String): String =
    s"(CASE WHEN $id % 3 = 1 THEN 'https' ELSE 'http' END)" +
      s" || '://h' || CAST($id % 5 AS VARCHAR) || '.example.com'" +
      s" || (CASE WHEN $id % 6 = 3 THEN ':8080' ELSE '' END)" +
      s" || '/docs/' || CAST($id % 50 AS VARCHAR)" +
      s" || (CASE WHEN $id % 3 IN (0, 1) THEN '?id=' || CAST($id % 10 AS VARCHAR) ELSE '' END)"

  private val CanonUrlSql: String = canonUrlSql("doc_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> { (s, d) =>
      // normText's regex is the expensive part: materialize it ONCE in its
      // own projection and fan the consumers out from the alias. Inlined,
      // the regex re-evaluates per output column (tokenCount alone
      // references it three times), and CollapseProject keeps this shape
      // because it never duplicates a non-cheap alias used more than once.
      t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.normText(col("text")).as("tn"))
        .select(
          col("doc_id"),
          TextAnalysis.tokenCountNorm(col("tn")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_m"),
          md5(col("tn")).as("fp"),
          TextAnalysis.punctCount(col("text")).as("n_punct"))
        .orderBy(col("doc_id"))
    },

    // Deterministic data-mixing sampler: per-source keep rates decided by
    // a content-hash bucket, so the sample is identical on any cluster
    // size and exactly reproducible by the oracle engine.
    "pipeline_sample_mix" -> { (s, d) =>
      graft.operators.Sampling.stratifiedSample(
          t(s, d, "documents"), "source", col("text"),
          rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"))
    },

    // Temperature-scaled mixture sampling (n_s^T source rebalancing, the
    // mT5/PaLM recipe): per-source rates DERIVED from the data via an
    // exact-decimal normalizer, applied with the md5 content bucket. The
    // oracle recomputes counts, powers, the decimal sum, every rate and
    // threshold, and the exact kept set.
    "pipeline_temperature_mix" -> { (s, d) =>
      graft.operators.Sampling.temperatureSample(
          t(s, d, "documents"), "source", col("text"),
          temperature = 0.5, targetRows = 300L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"))
    },

    // Token-budget mixture fill: each source capped at a target TOKEN
    // count (training mixes are specified in tokens, not documents) by a
    // deterministic greedy fill in content-hash order — the first doc to
    // cross the budget line is kept, then the stratum stops. One window
    // shuffle; the kept set is a reproducible uniform sample of each
    // source, and the oracle replays the identical ROWS-frame prefix sum.
    "pipeline_mixture_budget" -> { (s, d) =>
      graft.operators.Sampling.capTokenBudget(
          t(s, d, "documents"), "source",
          tokensCol = TextAnalysis.tokenCount(col("text")),
          hashOn = col("text"), tieBreak = col("doc_id"),
          budgets = Map("src0" -> 2000L, "src1" -> 1000L, "src2" -> 500L),
          defaultBudget = 300L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("cum_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"))
    },

    // Deterministic train/val/test assignment (80/10/10 by content-hash
    // bucket): same example -> same split on any run/cluster/engine, the
    // reproducibility contract a sample()-based split breaks.
    "pipeline_split" -> { (s, d) =>
      graft.operators.Sampling.trainValTestSplit(
          t(s, d, "documents"), col("text"), trainFrac = 0.8, valFrac = 0.1)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"), col("split"))
    },

    // Efraimidis-Spirakis weighted sampling without replacement, weights
    // proportional to document length: one pass, key = ln(u)/w with u a
    // 52-bit md5 content uniform, top-50 keys win. The oracle reruns the
    // complete draw trajectory (every u, every key, the same top-k), so
    // the selected set is pinned exactly, not statistically.
    "pipeline_weighted_sample" -> { (s, d) =>
      val w = greatest(length(col("text")), lit(1)).cast("double")
      graft.operators.Sampling.weightedSample(
          t(s, d, "documents"),
          concat(col("doc_id"), lit(":"), col("text")), w, col("doc_id"), k = 50)
        .select(col("doc_id"),
          greatest(length(col("text")), lit(1)).cast("long").as("w"))
        .orderBy(col("doc_id"))
    },

    // Per-stratum weighted draws: the best 3 length-weighted picks from
    // EVERY source in one windowed pass (WindowGroupLimit prunes to k
    // per stratum map-side). Oracle reruns each stratum's trajectory.
    "pipeline_weighted_stratum" -> { (s, d) =>
      val w = greatest(length(col("text")), lit(1)).cast("double")
      graft.operators.Sampling.weightedSamplePerStratum(
          t(s, d, "documents"), "source",
          concat(col("doc_id"), lit(":"), col("text")), w, col("doc_id"), k = 3)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    },

    // Sliding-window document chunking (64-token chunks, 16-token
    // overlap): the pre-tokenization step before sequence packing.
    // chunk_text is md5'd so the gate output stays compact; the hash
    // pins every token boundary.
    "pipeline_chunk_docs" -> { (s, d) =>
      graft.operators.TextChunker.chunk(
          t(s, d, "documents"), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 16)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Gopher-style quality-rule signals (repetition / word shape / symbol
    // density) — the per-document filter inputs large-corpus curation
    // applies before training. Pure Column arithmetic, zero shuffle,
    // SQL-mirrored exactly.
    "text_gopher_quality" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
        TextAnalysis.repTokenFrac(col("text")).as("rep_token_frac"),
        // markup/symbol character density over the RAW text
        round((length(col("text")) -
          length(translate(col("text"), "#*>=_~|", ""))).cast("double") /
          greatest(length(col("text")), lit(1)), 4).as("symbol_frac"))
        .orderBy(col("doc_id"))
    },

    // HTML -> text extraction (the step before any quality/dedup pass on
    // crawled pages): docs are wrapped in a deterministic HTML shell
    // (head/title/style/script/comment/entities) and stripped back; the
    // oracle replays every regex with the same RE2 patterns. The title
    // and header survive as text (they are text); code blocks die.
    "text_html_strip" -> { (s, d) =>
      val htmlDoc = concat(
        lit("<html><head><title>Doc </title>"),
        lit("<style>body { color: #fff; }</style>"),
        lit("<script>var x = 1 && 2; if (x < 3) alert('hi');</script>"),
        lit("</head><body><!-- crawler note --><h1>Page "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><br/><div class=\"foot\">&amp; more &lt;tags&gt; &quot;quoted&quot; &#39;s</div></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), htmlDoc.as("html"))
        .select(col("doc_id"),
          length(col("html")).cast("long").as("n_chars_html"),
          regexp_count(col("html"), lit("<[^>]*>")).cast("long").as("n_tags"),
          TextAnalysis.stripHtml(col("html")).as("stripped"))
        .select(col("doc_id"), col("n_chars_html"), col("n_tags"),
          length(col("stripped")).cast("long").as("n_chars_text"),
          md5(col("stripped")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // Shannon entropy quality signals: per-doc character and token
    // entropy in bits (low char entropy = repeated runs/keyboard mash,
    // low token entropy = boilerplate). Terms round 8dp into exact
    // DECIMAL sums — order-independent, oracle replays every term.
    "text_entropy" -> { (s, d) =>
      graft.operators.Entropy.signals(t(s, d, "documents"))
        .orderBy(col("doc_id"))
    },

    // Unicode NFC canonicalization + control-char scrub: the ASCII corpus
    // is decorated with planted decomposed sequences (combining acute /
    // ring / diaeresis), an already-NFC leg (fast-path: changed=false) and
    // a control-character leg, so composition, idempotence and the strip
    // are all exercised. The oracle replays via DuckDB's nfc_normalize
    // (both engines implement UAX #15) + the same RE2 control class.
    "text_normalize" -> { (s, d) =>
      val dec =
        when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" café latte")))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit(" Ångström units")))
          .when(col("doc_id") % 4 === 2,
            concat(col("text"), lit(" déjà vu")))
          .otherwise(concat(col("text"),
            lit(" bell and del chars")))
      t(s, d, "documents").select(col("doc_id"), dec.as("raw"))
        .select(col("doc_id"), col("raw"),
          TextAnalysis.nfc(TextAnalysis.stripControl(col("raw"))).as("norm"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_cp_raw"),
          length(col("norm")).cast("long").as("n_cp_norm"),
          (col("norm") =!= col("raw")).as("changed"),
          md5(col("norm")).as("norm_md5"))
        .orderBy(col("doc_id"))
    },

    // URL canonicalization — the step BEFORE any text pass in every
    // published crawl pipeline (C4 / CCNet / RefinedWeb all start with
    // URL normalization + URL-level dedup + domain caps). Each doc gets a
    // deterministic MESSY url (mixed-case scheme/host, www., default and
    // non-default ports, utm_* params, fragments, trailing slashes) and
    // the codegen'd canonicalizer must reduce it to the one true
    // spelling. The oracle constructs the EXPECTED canonical form
    // independently from the same residues — it verifies the algorithm's
    // output, not a replay of its regexes.
    "text_url_canon" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), messyUrl(col("doc_id")).as("url"))
        .select(col("doc_id"), col("url"),
          UrlCuration.canonicalize(col("url")).as("canon_url"))
        .withColumn("domain", UrlCuration.domainOf(col("canon_url")))
        .orderBy(col("doc_id"))
    },

    // URL-level exact dedup: docs congruent mod 150 carry DIFFERENT messy
    // spellings of the SAME canonical url (the decorations that differ —
    // www/fragment/slash — are exactly the ones canonicalization
    // removes), so the group-by collapses them. Hash-partitioned agg on
    // the canonical string — the same map-side-combine shape as exact
    // text dedup, no skew (residues are uniform).
    "dedup_url" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          UrlCuration.canonicalize(messyUrl(col("doc_id"))).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_dups"))
        .orderBy(col("canon_url"))
    },

    // Per-domain cap (C4's "limit pages per domain" balancing step): keep
    // the first 30 docs per registrable domain in doc_id order. One
    // shuffle: the row_number window and the follow-up group-by share the
    // domain key, so Catalyst reuses the exchange.
    "pipeline_cap_per_domain" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("domain")).orderBy(col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"),
          UrlCuration.domainOf(
            UrlCuration.canonicalize(messyUrl(col("doc_id")))).as("domain"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") <= 30, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") <= 30, col("doc_id"))).as("kept_id_sum"))
        .orderBy(col("domain"))
    },

    // URL blocklist + path-pattern filtering (the remaining URL-curation
    // step: C4 drops pages from a "bad domains" list and pages whose URL
    // matches spam patterns before any text pass). Domain blocklist is a
    // broadcast-sized isin(); the path rule is a codegen'd regex — both
    // fuse with the scan, zero shuffle before the audit agg. Output is
    // the per-source audit a curation run ships: kept / blocked-by-domain
    // / blocked-by-pattern.
    "pipeline_url_blocklist" -> { (s, d) =>
      val canon = UrlCuration.canonicalize(messyUrl(col("doc_id")))
      val blockedDomains = Seq("h2.example.com", "h4.example.com")
      val spamPathRe = "/docs/(13|37|42)(\\?|$)" // exact segment, not prefix
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), canon.as("canon_url"))
        .withColumn("domain", UrlCuration.domainOf(col("canon_url")))
        .withColumn("blocked_domain",
          col("domain").isin(blockedDomains: _*))
        .withColumn("blocked_pattern",
          regexp_count(col("canon_url"), lit(spamPathRe)) > 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("blocked_domain"), 1L).otherwise(0L))
            .as("n_blocked_domain"),
          sum(when(!col("blocked_domain") && col("blocked_pattern"), 1L)
            .otherwise(0L)).as("n_blocked_pattern"),
          sum(when(!col("blocked_domain") && !col("blocked_pattern"), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },

    // Sequence-length bucketing (the dynamic-batching step of training
    // ingestion: group sequences into power-of-two length buckets so a
    // batch pads to its bucket, not the global max). Buckets are a fixed
    // when-chain (16..2048), NOT pow(2, ceil(log2 x)) — log2 is a
    // double-precision landmine at exact powers across engines. Output
    // is all exact BIGINTs: docs, used tokens (truncated at the 2048
    // cap), padded tokens (bucket x docs) — padding waste is their gap.
    "pipeline_length_buckets" -> { (s, d) =>
      val b = col("n_tokens")
      val bucket = when(b <= 16, 16L).when(b <= 32, 32L).when(b <= 64, 64L)
        .when(b <= 128, 128L).when(b <= 256, 256L).when(b <= 512, 512L)
        .when(b <= 1024, 1024L).otherwise(2048L)
      t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("n_tokens"), lit(2048L))).as("sum_tokens_used"),
          (count(lit(1)) * col("bucket")).as("sum_padded"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens_used"),
          col("sum_padded"))
        .orderBy(col("bucket"))
    },

    // Zipf-law fit per source (corpus-health profiling: natural text's
    // term frequencies follow freq ∝ rank^s with s ≈ -1; a source whose
    // slope collapses toward 0 is boilerplate/template spam, one that
    // steepens is vocabulary-starved). Least-squares slope of log2(freq)
    // vs log2(rank) over each source's top-100 terms (row_number with a
    // full (cnt desc, term asc) order — deterministic ties both
    // engines). Float discipline: every log/product term rounds to 8dp
    // into exact DECIMAL sums (the Entropy pattern), and the final slope
    // is one IEEE expression over those exact sums, rounded 4dp.
    "profile_zipf" -> { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(18, 8)
      val counts = t(s, d, "documents")
        .select(col("source"),
          explode(split(TextAnalysis.normText(col("text")), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("cnt").desc, col("term"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 100)
        .select(col("source"),
          round(log2(col("rank").cast("double")), 8).cast(dec).as("x"),
          round(log2(col("cnt").cast("double")), 8).cast(dec).as("y"))
        .select(col("source"), col("x"), col("y"),
          round((col("x") * col("y")).cast("double"), 8).cast(dec).as("xy"),
          round((col("x") * col("x")).cast("double"), 8).cast(dec).as("xx"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_ranks"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
        .select(col("source"), col("n_ranks"),
          round((col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double") /
                col("n_ranks").cast("double")) /
            (col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") /
                col("n_ranks").cast("double")), 4).as("zipf_slope"))
        .orderBy(col("source"))
    },

    // k-anonymity audit (the governance companion to the DP count
    // release): group sizes over a quasi-identifier set — groups smaller
    // than k are re-identification risks a release must suppress or
    // generalize. Exact counts, one shuffle.
    "profile_k_anon" -> { (s, d) =>
      val k = 5L
      t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_exposed_rows"),
          min(col("sz")).as("min_group_size"),
          max(col("sz")).as("max_group_size"))
    },

    // Distinct l-diversity audit (Machanavajjhala et al. 2007 — the
    // follow-up to k-anonymity the privacy literature standardized on:
    // a group can be k-large yet expose everyone if all members share
    // one sensitive value). Same QI grouping as profile_k_anon;
    // sensitive attribute = the account-balance thousand-bucket. All
    // outputs exact BIGINTs over one hash aggregation — same scale
    // shape as the k-anon audit.
    "profile_l_diversity" -> { (s, d) =>
      val l = 3L
      val sens = floor(col("c_acctbal") / 1000).cast("long")
      t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(sens).as("n_sens"), count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n_sens") < l, 1L).otherwise(0L)).as("n_nondiverse"),
          sum(when(col("n_sens") < l, col("sz")).otherwise(0L))
            .as("n_exposed_rows"),
          min(col("n_sens")).as("min_diversity"),
          max(col("n_sens")).as("max_diversity"))
    },

    // Gopher line-repetition rules (Rae et al. 2021 Table A1, shared by
    // MassiveText/RefinedWeb/FineWeb): duplicate-line and
    // duplicate-line-CHARACTER fractions, ellipsis-line and bullet-line
    // fractions, and the published keep thresholds. Pages planted like
    // the C4 gate — a recurring boilerplate line (every 3rd doc) makes
    // real within-page duplicates; every 7th dec gets an ellipsis tail,
    // every 13th a bullet prefix.
    "text_line_quality" -> { (s, d) =>
      val dec = when(col("doc_id") % 3 === 1,
          lit("subscribe to our newsletter for updates today"))
        .when(col("doc_id") % 7 === 2, concat(col("text"), lit("...")))
        .when(col("doc_id") % 13 === 3, concat(lit("- "), col("text")))
        .otherwise(col("text"))
      val pages = t(s, d, "documents")
        .select(floor(col("doc_id") / 4).cast("long").as("page_id"),
          struct(col("doc_id"), dec.as("line")).as("sl"))
        .groupBy(col("page_id"))
        .agg(array_join(transform(array_sort(collect_list(col("sl"))),
          x => x.getField("line")), "\n").as("text"))
      // dials tightened below the published defaults (0.2 dup/ellipsis
      // vs Gopher's 0.3) so the planted rates actually trip the flag at
      // gate scale — the signal fractions are pinned either way
      graft.operators.LineQuality.signals(pages, "page_id", "text",
          maxDupLineFrac = 0.2, maxEllipsisFrac = 0.2)
        .orderBy(col("page_id"))
    },

    // C4 page cleaning (Raffel et al. 2020 §2.2): the corpus has no
    // native line structure, so the gate PLANTS it deterministically —
    // pages of 4 decorated docs, each decoration exercising exactly one
    // published rule (no terminal punctuation / under-5-words /
    // "javascript" line drops; "lorem ipsum" / curly-brace / too-few-
    // retained-lines page drops). The oracle replays decoration, page
    // assembly, every line predicate and the reassembled clean text.
    "text_c4_clean" -> { (s, d) =>
      val decorated = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 97 === 0,
            concat(col("text"), lit(" and lorem ipsum filler.")))
          .when(col("doc_id") % 89 === 3,
            concat(col("text"), lit(" info { config }.")))
          .when(col("doc_id") % 13 === 0,
            concat(array_join(slice(split(col("text"), " "), 1, 3), " "),
              lit(".")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" javascript required.")))
          .when(col("doc_id") % 7 === 2, col("text"))
          .otherwise(concat(col("text"), lit("."))).as("line"))
      val pages = decorated
        .select(floor(col("doc_id") / 4).cast("long").as("page_id"),
          struct(col("doc_id"), col("line")).as("sline"))
        .groupBy(col("page_id"))
        .agg(array_join(transform(array_sort(collect_list(col("sline"))),
          x => x.getField("line")), "\n").as("text"))
      graft.operators.C4Filter.clean(pages, "page_id", "text")
        .select(col("page_id"), col("n_lines"), col("n_kept"),
          col("keep_doc"), md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("page_id"))
    },

    // Corpus heavy hitters: explode tokens -> hash agg (map-side combined)
    // -> top-k without a global sort. The vocabulary-statistics shape every
    // training-data pipeline runs; at 100 TB the only shuffle is the
    // term-keyed partial-aggregated exchange.
    "text_top_terms" -> { (s, d) =>
      val toks = split(TextAnalysis.normText(lower(col("text"))), " ")
      t(s, d, "documents")
        .select(explode(toks).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(25)
    },

    // Snapshot diff between the corpus and a synthetic refresh of it
    // (10%-keys removed, every 7th text revised, every 5th re-added
    // under a shifted id): the dataset-versioning audit. Fingerprints
    // are md5 so the oracle replays the entire classification.
    "pipeline_snapshot_diff" -> { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val after = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.SnapshotDiff.summary(docs, after, "doc_id", Seq("text"))
        .orderBy(col("status"))
    },

    // Temporal split with embargo: train strictly before Jan 20, a
    // 3-day embargo no split may touch, test from Jan 23 — the
    // time-series leakage defense beside the content-hash and cluster
    // splits. Oracle replays boundaries (strict/inclusive per side).
    "pipeline_time_split" -> { (s, d) =>
      graft.operators.Sampling.splitByTime(
          t(s, d, "events"), col("ts"),
          trainEnd = to_timestamp(lit("2024-01-20 00:00:00")),
          testStart = to_timestamp(lit("2024-01-23 00:00:00")))
        .groupBy(col("split"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("first_event"),
          graft.Tables.dsumr(col("value")).as("sum_value"))
        .orderBy(col("split"), col("event_type"))
    },

    // Differentially-private release of per-source counts (Laplace at
    // sensitivity 1, eps=1): the publication step for dataset cards
    // over sensitive corpora. The noise draw is the deterministic
    // md5-uniform through the Laplace inverse CDF, so the oracle
    // replays every draw; n_true rides along for verification only.
    "pipeline_dp_counts" -> { (s, d) =>
      graft.operators.Privacy.dpGroupCounts(t(s, d, "documents"),
          "source", epsilon = 1.0, seed = "graft-r9")
        .orderBy(col("source"))
    },

    // Key-skew audit (the number every salting/AQE decision starts
    // from): per-key count distribution shape + heavy keys over
    // lineitem's order key. Exact percentiles for oracle parity.
    "profile_key_skew" -> { (s, d) =>
      Profile.keySkew(t(s, d, "lineitem"), "l_orderkey", topN = 5)
        .orderBy(col("rk"))
    },

    // Pairwise Jensen-Shannon divergence between source term
    // distributions over the global top-500 support — the corpus drift
    // monitor. Contributions round-12dp and sum as exact DECIMAL, so the
    // oracle replays the entire computation bit-for-bit.
    "text_source_divergence" -> { (s, d) =>
      Profile.termDivergence(t(s, d, "documents"), "source", "text",
          topTerms = 500)
        .orderBy(col("src_a"), col("src_b"))
    },

    // Count-Min frequency estimates for the top-25 terms: the sketch is
    // the depth x width counter RELATION (one bounded-width shuffle to
    // build, union+re-sum to merge), estimates are min-over-rows via a
    // broadcast join. Portable row-salted md5 buckets let the oracle
    // replay every counter exactly — no tolerance band; over_ok pins the
    // sketch's one-sided error guarantee on top.
    "text_countmin" -> { (s, d) =>
      val toks = split(TextAnalysis.normText(lower(col("text"))), " ")
      val terms = t(s, d, "documents").select(explode(toks).as("term"))
        .filter(length(col("term")) >= 3)
      val sk = CountMin.sketch(terms, "term", depth = 4, width = 1024)
      val top = terms.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term")).limit(25)
      CountMin.estimate(sk, top.select(col("term")), "term", depth = 4, width = 1024)
        .join(top, Seq("term"))
        .select(col("term"), col("n_exact"), col("n_est"),
          (col("n_est") >= col("n_exact")).as("over_ok"))
        .orderBy(col("term"))
    },

    "text_quality" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // Per-document distinctive terms by tf-idf: term-keyed partial-agg
    // shuffle for tf, a tiny broadcast doc-frequency side, top-3 per doc.
    // Rank on the ROUNDED score (ties by term) so the ordering is
    // reproducible across engines — raw doubles could flip near-equal
    // ranks on a last-ulp ln() difference.
    "text_tfidf_top" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents") // FULL corpus — the gated
      // configuration exercises the same path the bench and a production
      // run take (tf-idf is linear in tokens; the oracle stays cheap)
      val toks = docs.select(col("doc_id"),
          explode(split(TextAnalysis.normText(lower(col("text"))), " ")).as("term"))
        .filter(length(col("term")) >= 3)
      // localCheckpoint (r18, guide §1.2): tf feeds both the broadcast
      // doc-frequency side and the scored join; exchange reuse does not
      // fire across the broadcast/probe contexts, so without the pin the
      // tokenize + (doc, term) aggregation runs twice per call
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
      val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast("double") / col("df_t")), 4))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          col("term"), col("score"))
        .orderBy(col("doc_id"), col("rk"))
    },

    "text_langid_counts" -> { (s, d) =>
      t(s, d, "documents")
        .groupBy(TextAnalysis.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    },

    // Lexical retrieval: Okapi BM25 (Lucene idf variant) top-10 per
    // pinned query. Corpus never shuffles by query — postings are
    // restricted to the broadcast query vocabulary before the one
    // term-keyed tf exchange; per-term contributions round to 6 places
    // then decimal-sum so ranking is engine-identical.
    "text_bm25_topk" -> { (s, d) =>
      Retrieval.bm25TopK(t(s, d, "documents"), Retrieval.PinnedQueries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Pseudo-relevance-feedback expansion (Rocchio): top-3 feedback docs
    // per pinned query mine 2 expansion terms (feedback-tf × idf, 6dp,
    // term-asc ties), then BM25 re-ranks with the expanded query. The
    // oracle replays BOTH rounds and the term selection itself.
    "retrieval_prf" -> { (s, d) =>
      Retrieval.bm25PrfTopK(t(s, d, "documents"), Retrieval.PinnedQueries,
          k = 10, fbDocs = 3, fbTerms = 2)
        .orderBy(col("query_id"), col("rank"))
    },

    // BM25 SERVE path: top-10 from a prebuilt term-sorted inverted index
    // (staged once per sf dir — index build is the one corpus scan a
    // search deployment pays at build time). Serving scans ZERO corpus
    // bytes: the pushed-down term filter stripe-skips the postings
    // table. Must equal bm25TopK exactly: same oracle.
    "text_bm25_serve" -> { (s, d) =>
      bm25Served(s, d, k = 10).orderBy(col("query_id"), col("rank"))
    },

    // Hybrid retrieval: BM25 lexical top-20 fused with embedding-cosine
    // top-20 (query vector = the embedding whose vec_id equals the
    // query id) by reciprocal-rank fusion, top-10 out. The fusion input
    // is two already-tiny ranked lists, so the hybrid layer adds zero
    // corpus-scale work on top of its two legs.
    "text_hybrid_rrf" -> { (s, d) =>
      Retrieval.hybridTopK(t(s, d, "documents"), t(s, d, "embeddings"),
          Retrieval.PinnedQueries, kIn = 20, kOut = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // The full hybrid SERVING stack under the correctness gate (was
    // bench-only through r6): BM25 from the staged term-sorted index +
    // IVF against frozen centroids + RRF. The three claims, one row per
    // query: (1) lex_md5 pins the served lexical leg EXACTLY — DuckDB
    // replays the identical doc:rank string from the BM25 CTE chain at
    // k=20; (2) vec_recall_ok is the ann-gate epsilon-recall verdict of
    // the served IVF leg vs brute force; (3) fusion_ok replays the RRF
    // arithmetic and ranking from the two leg frames in independent
    // Column expressions and requires the fused top-10 to match row for
    // row — so mis-wired legs, dropped rows, or a broken fusion all red
    // the gate. Each leg is additionally gated on its own full-equality
    // row (text_bm25_serve; ann_ivf_topk's recall family).
    "retrieval_hybrid_serve" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val emb = t(s, d, "embeddings")
      val qIds = Retrieval.PinnedQueries.map(_._1)
      val lex = bm25Served(s, d, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val vecFull = Similarity.ivfTopKServe(emb, "vec_id", "embedding",
        queryIds = c => c.isin(qIds: _*), k = 20,
        centroids = hybridCentroidsFor(s, d))
      val vec = vecFull.select(col("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
      val fused = Retrieval.rrfFuse(Seq(lex, vec), "doc_id", k = 10)

      val lexAgg = lex.groupBy(col("query_id")).agg(
        count(lit(1)).as("lex_rows"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("rank"), col("doc_id")))),
          x => concat(x.getField("doc_id").cast("string"), lit(":"),
            x.getField("rank").cast("string"))), ",")).as("lex_md5"))

      val vecOk = Similarity.recallGate(vecFull,
          Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            queryIds = c => c.isin(qIds: _*), k = 20),
          minHits = 14, eps = 0.02)
        .withColumnRenamed("recall_ok", "vec_recall_ok")

      // independent RRF replay from the leg frames (same rounding
      // contract as the oracle-proven text_hybrid_rrf arithmetic)
      val replayScores = lex.unionByName(vec)
        .withColumn("contrib", round(lit(1.0) / (lit(60) + col("rank")), 6)
          .cast(DecimalType(18, 6)))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(round(sum(col("contrib")).cast("double"), 6).as("score2"))
      val replayTop = replayScores.withColumn("rank2",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("score2").desc, col("doc_id"))).cast("long"))
        .filter(col("rank2") <= 10)
      val fusionOk = fused
        .join(replayTop, Seq("query_id", "doc_id"), "full_outer")
        .groupBy(col("query_id"))
        .agg((count(lit(1)) === sum(when(col("rank") === col("rank2") &&
          col("rrf_score") === col("score2"), 1).otherwise(0))).as("fusion_ok"))

      lexAgg.join(vecOk, Seq("query_id")).join(fusionOk, Seq("query_id"))
        .select(col("query_id"), col("lex_rows"), col("lex_md5"),
          col("vec_recall_ok"), col("fusion_ok"))
        .orderBy(col("query_id"))
    },

    // Incremental index update (the continuous-crawl serving story,
    // pairing with dedup_incremental_near on the ingest side): the
    // standing index is built WITHOUT every 10th doc, then that batch is
    // merged in as an appended term-sorted segment + exact stats
    // extension — zero reads of the standing postings. Serving from the
    // updated index must equal from-scratch BM25 over the FULL corpus:
    // same oracle as text_bm25_topk/serve, which IS the full-rebuild
    // equivalence the contract demands. Both steps stage once (marker
    // written only after the update lands, so a partial staging re-runs).
    "text_bm25_incremental" -> { (s, d) =>
      val idx = ConverterQueries.tmp(d, "bm25_inc_index")
      ConverterQueries.stageOnce(idx) {
        val docs = t(s, d, "documents")
        Retrieval.buildBm25Index(docs.filter(col("doc_id") % 10 =!= 0), idx)
        Retrieval.updateBm25Index(s, idx,
          docs.filter(col("doc_id") % 10 === 0))
      }
      Retrieval.bm25Serve(s, idx, Retrieval.PinnedQueries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Streaming index maintenance end-to-end: every 10th doc lands in
    // three parquet batch files, a file-source stream applies each as
    // one appended segment (maxFilesPerTrigger=1 → three micro-batches
    // through Retrieval.updateBm25Index), and serving the maintained
    // index must equal from-scratch BM25 over the full corpus — the
    // same full-rebuild oracle as the batch-incremental gate, now
    // proving the streaming apply loop preserves it across multiple
    // segments. Staged once; the marker lands only after the stream
    // drains, so a partial staging re-runs from scratch.
    "stream_bm25_ingest" -> { (s, d) =>
      val idx = ConverterQueries.tmp(d, "bm25_stream_index")
      ConverterQueries.stageOnce(idx) {
        val docs = t(s, d, "documents")
        Retrieval.buildBm25Index(docs.filter(col("doc_id") % 10 =!= 0), idx)
        val landing = ConverterQueries.tmp(d, "bm25_stream_landing")
        // three round-robin files = three micro-batches; ids disjoint
        // from the base index and each other by construction
        docs.filter(col("doc_id") % 10 === 0).repartition(3)
          .write.mode("overwrite").parquet(landing)
        graft.streaming.EventStream.bm25IngestApply(s, landing, idx,
          checkpointDir = s"$landing-ckpt")
      }
      Retrieval.bm25Serve(s, idx, Retrieval.PinnedQueries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Deterministic global training-order shuffle: order by a seeded
    // hash of the key — reproducible across runs and cluster sizes with
    // zero RNG state. Top-20 here is a TakeOrdered probe; a full
    // materialization composes with OrcSink.writeSorted on the hash
    // (range exchange, no driver sort).
    "pipeline_seeded_shuffle" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          md5(concat(lit("graft-shuffle-42:"), col("doc_id"))).as("shuffle_key"))
        .orderBy(col("shuffle_key"))
        .limit(20)
    },

    // Decontamination SURGERY (the GPT-3-appendix remedy): every 10th
    // doc plays the benchmark; contaminated spans are CUT from the rest
    // of the corpus rather than dropping whole docs. The scrubbed text
    // is md5'd so the oracle verifies the exact surgical result.
    "pipeline_decontaminate_scrub" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.scrubContaminated(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", spanTokens = 8)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_removed"))
        .orderBy(col("doc_id"))
    },

    // Incremental NEAR-dup screening: every 10th doc plays the "new
    // batch", the rest the standing corpus; batch docs near-duplicating
    // a corpus doc are flagged with the exact Jaccard. Same dials as
    // dedup_minhash_full (measured full recall at gate scale), so the
    // oracle is the exact batch-x-corpus answer.
    "dedup_incremental_near" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.incrementalNearDup(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", k = 32, shingleSize = 5, bands = 8,
          threshold = 0.6)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("batch_id"), col("corpus_id"))
        .limit(100)
    },

    // Same screening answer SERVED from the persistent signature index:
    // the corpus's banded signatures live in a band-hash-bucketed
    // catalog table (built once per sf dir — the artifact a deployment
    // keeps), the candidate join plans exchange-free on the corpus side,
    // and the batch is the only scanned text. Must equal the direct
    // batch-vs-corpus computation — same oracle as
    // dedup_incremental_near.
    "dedup_incremental_serve" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val tbl = nearDupIndexFor(s, d)
      Dedup.nearDupServe(s, tbl,
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", k = 32, shingleSize = 5, bands = 8,
          threshold = 0.6)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("batch_id"), col("corpus_id"))
        .limit(100)
    },

    // The full curation decision, composed: GPT-3-style NB classifier
    // keep AND Gopher repetition/word-length bounds AND CCNet-style
    // perplexity cap (dials calibrated to this corpus so every component
    // actually discriminates). One plan — the signals join doc-keyed on
    // already-reduced per-doc frames, so composition adds no
    // corpus-scale work beyond its three component scans.
    "pipeline_quality_ensemble" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val cls = graft.operators.QualityClassifier.score(
          docs, "doc_id", "text",
          positive = col("source").isin("src0", "src1", "src2"))
        .select(col("doc_id"), col("keep").as("cls_keep"))
      val gopher = docs.select(col("doc_id"),
        TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
        TextAnalysis.repTokenFrac(col("text")).as("rep_token_frac"))
      val kn = NgramLm.score(docs, NgramLm.train(
          docs.filter(col("source").isin("src0", "src1", "src2"))))
        .select(col("doc_id"), col("ppl"))
      cls.join(gopher, "doc_id").join(kn, "doc_id")
        .select(col("doc_id"), col("cls_keep"),
          (col("rep_token_frac") <= 0.6).as("rep_ok"),
          (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
            .as("len_ok"),
          (col("ppl") <= 36.0).as("ppl_ok"))
        .withColumn("keep_final",
          col("cls_keep") && col("rep_ok") && col("len_ok") && col("ppl_ok"))
        .orderBy(col("doc_id"))
    },

    // DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    // importance weights against the curated sources, deterministic
    // top-50. The hash is portable (md5 hex prefix mod 4096) so the
    // oracle recomputes every bucket id; the per-bucket log-ratio table
    // broadcasts and the corpus sees one (doc, bucket)-keyed exchange.
    "pipeline_dsir_select" -> { (s, d) =>
      graft.operators.Dsir.select(t(s, d, "documents"),
          isTarget = col("source").isin("src0", "src1", "src2"), n = 50)
        .orderBy(col("rank"))
    },

    // Bigram-LM perplexity filter (the CCNet recipe, KenLM order
    // dropped to 2 so the oracle can replay the estimator exactly):
    // interpolated Kneser-Ney trained on the curated sources src0-2,
    // every doc scored by mean bigram log-prob + perplexity. Model
    // tables broadcast; the instance stream reduces doc-keyed without
    // ever shuffling at (doc, bigram) width.
    "text_kn_bigram" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val model = NgramLm.train(
        docs.filter(col("source").isin("src0", "src1", "src2")))
      NgramLm.score(docs, model).orderBy(col("doc_id"))
    },

    // CCNet perplexity bucketing (Wenzek et al. 2020): per-language
    // head/middle/tail terciles of KN-bigram perplexity under the
    // curated-source model — the published crawl-grading recipe. Cuts
    // collapse to #langs rows and broadcast; the oracle recomputes the
    // full KN replay, the tercile cuts and every assignment.
    "pipeline_ppl_buckets" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val model = NgramLm.train(
        docs.filter(col("source").isin("src0", "src1", "src2")))
      NgramLm.pplBuckets(docs, model, "lang").orderBy(col("doc_id"))
    },

    // Per-language score calibration (language-fair curation): raw quality
    // scores are not comparable across languages (length/punct/case
    // heuristics favor some scripts), so one global threshold skews the
    // language mix of the selected corpus. Calibrate per language onto the
    // percentile scale — percent_rank over (lang) ordered by (quality,
    // doc_id), a deterministic total order — and keep each language's top
    // quintile: the same retention rate per language by construction.
    // Scale: one lang-keyed exchange; the per-language sort parallelizes
    // across languages, and the rank IS the threshold (no second pass to
    // find per-language cutoffs). For a single dominant language at 100 TB
    // swap the exact rank for approx_percentile cutoffs (q21/q29 pattern).
    "pipeline_score_calibrate" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))
      scored.withColumn("pct", round(percent_rank().over(w), 6))
        .filter(col("pct") >= 0.8)
        .orderBy(col("doc_id"))
    },

    // IR evaluation harness: recall@10 / MRR / nDCG@10 of the BM25 run
    // against a deterministic conjunctive-containment gold set (doc is
    // relevant iff it contains EVERY query term). The oracle replays the
    // whole BM25 ranking, the gold derivation, and every metric term.
    "retrieval_metrics" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val run = Retrieval.bm25TopK(docs, Retrieval.PinnedQueries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val gold = Retrieval.containsAllGold(docs, Retrieval.PinnedQueries)
      Retrieval.evalMetrics(run, gold, k = 10).orderBy(col("query_id"))
    },

    // Hard-negative mining (DPR-style): per query, the top-BM25 docs NOT
    // in the gold set — the standard embedding-model training-data op.
    // Gold here is the STRICT adjacent-phrase rule (each query's first
    // two terms contiguous), so the adjacency-blind BM25 top-20 contains
    // genuine negatives to mine (~25 gold docs of 500 per query).
    "retrieval_negatives" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val run = Retrieval.bm25TopK(docs, Retrieval.PinnedQueries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val padded = concat(lit(" "),
        TextAnalysis.normText(lower(col("text"))), lit(" "))
      // r19 (guide §1.2): ONE corpus normText pass instead of one per
      // query — the tiny (query_id, phrase) set explodes as a literal
      // against the padded text computed once per doc; the contains
      // predicate per (query, doc) is unchanged.
      val qarr = array(Retrieval.PinnedQueries.map { case (qid, q) =>
        val ph = q.toLowerCase(java.util.Locale.ROOT).trim
          .split("\\s+").take(2).mkString(" ")
        struct(lit(qid).as("query_id"), lit(s" $ph ").as("ph"))
      }: _*)
      val gold = docs.select(col("doc_id"), padded.as("t"))
        .select(col("doc_id"), col("t"), explode(qarr).as("q"))
        .filter(col("t").contains(col("q.ph")))
        .select(col("q.query_id").as("query_id"), col("doc_id"))
      Retrieval.hardNegatives(run, gold, k = 5)
        .orderBy(col("query_id"), col("neg_rank"))
    },

    // Per-source dataset card (the documentation artifact a published
    // corpus ships): docs, exact token totals/means, length quartiles,
    // exact-duplicate fraction and language mix per source — composed in
    // ONE plan (a single groupBy(source) over per-doc derived columns;
    // the tokenize/fingerprint/lang projections are shared, so the card
    // costs one corpus scan + one source-keyed exchange).
    "pipeline_dataset_card" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          TextAnalysis.normText(col("text")).as("tn"))
        .select(col("source"), col("n_chars"),
          size(split(col("tn"), " ")).cast("long").as("n_tokens"),
          md5(col("tn")).as("fp"),
          TextAnalysis.langId(col("tn")).as("lang"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4)
            .as("mean_tokens"),
          round(expr("percentile(n_chars, 0.25)"), 1).as("p25_chars"),
          round(expr("percentile(n_chars, 0.5)"), 1).as("p50_chars"),
          round(expr("percentile(n_chars, 0.75)"), 1).as("p75_chars"),
          round(countDistinct(col("fp")).cast("double") / count(lit(1)), 4)
            .as("distinct_frac"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .orderBy(col("source"))
    },

    // Min-K%-Prob membership signal (Shi et al. 2024): per-doc mean of
    // the lowest 20% of bigram log-probs under the curated-source KN
    // model — the LM-side contamination leg (memorized text lacks a
    // surprising low-prob tail). Same model as text_kn_bigram.
    "text_min_k_prob" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val model = NgramLm.train(
        docs.filter(col("source").isin("src0", "src1", "src2")))
      NgramLm.minKProb(docs, model, k = 0.2).orderBy(col("doc_id"))
    },

    // Unigram LM quality score (the CCNet-style proxy for LM-perplexity
    // filtering): mean per-token log-probability under the corpus's own
    // unigram distribution — low scores flag unnatural token streams.
    // Per-token log-probs are rounded to 6 places BEFORE the exact
    // decimal sum, so the aggregate is order-independent and
    // engine-identical (the raw double sum would drift with aggregation
    // order). Scored per token INSTANCE against the broadcast
    // corpus-frequency side and reduced doc-keyed — the token stream
    // never shuffles at (doc, term) width (decimal sums commute over tf
    // multiplicity, so values are unchanged); the only wide-ish exchange
    // is the vocabulary-sized frequency aggregation.
    "text_unigram_logprob" -> { (s, d) =>
      val toks = t(s, d, "documents").select(col("doc_id"),
        explode(split(TextAnalysis.normText(lower(col("text"))), " ")).as("term"))
      val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
      val total = cf.agg(sum(col("cf")).as("n_total"))
      toks.join(broadcast(cf), "term")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(round(
          sum(round(log(col("cf") / col("n_total")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")
            / count(lit(1)), 4).as("mean_logprob"),
          count(lit(1)).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // Quality-classifier curation (the GPT-3 recipe): binary Naive Bayes
    // over unigrams trained to separate a curated seed (sources src0-2
    // stand in for WebText/books/Wikipedia) from the rest of the crawl,
    // then every document scored by its tf-weighted mean token log-odds.
    // Train + score are deterministic smoothing arithmetic, so the oracle
    // recomputes the whole pipeline — counts, smoothing, rounding, the
    // decimal order-independent mean — from scratch in SQL.
    "text_quality_classifier" -> { (s, d) =>
      graft.operators.QualityClassifier.score(
          t(s, d, "documents"), "doc_id", "text",
          positive = col("source").isin("src0", "src1", "src2"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signal over word 2-grams: the fraction of a
    // document's 2-grams occupied by its most frequent one. Explode ->
    // (doc, gram) partial-agg -> per-doc max/total; the only shuffle is the
    // gram-keyed exchange with map-side combine. Docs with <2 tokens have no
    // 2-grams and drop out (matching the oracle's unnest), so the per-doc
    // division is never 0/0.
    "text_dup_ngrams" -> { (s, d) =>
      val toks = split(TextAnalysis.normText(lower(col("text"))), " ")
      val n = greatest(size(toks) - 1, lit(0))
      val grams = zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
        (a, b) => concat_ws(" ", a, b))
      t(s, d, "documents")
        .select(col("doc_id"), explode(grams).as("gram"))
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_2grams"), max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_2grams"), col("top_count"),
          round(col("top_count").cast("double") / col("n_2grams"), 4)
            .as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // Full Gopher repetition-rule family (Rae et al. 2021 Table A1):
    // top-{2,3,4}-gram char fractions (overlap-blind, the published
    // accounting) plus duplicated-5-gram char coverage via token-space
    // interval union — see operators/Repetition. The oracle recomputes
    // every column from scratch with the identical window-function
    // formulation (1-based positions; the interval math is
    // shift-invariant).
    "text_repetition_full" -> { (s, d) =>
      graft.operators.Repetition.signals(t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // True byte-level BPE over the pinned merges table (gate_def v2 —
    // replaces the round-1..4 regexp stand-in): pre-token split, bytes as
    // initial symbols, the 48 learned merges applied in rank order by the
    // native BpeEncode expression. The oracle replays the identical merge
    // cascade in SQL as a chain of string replaces over a wrapped-symbol
    // encoding (see bpeOracleSql), so every count is a real cross-engine
    // recomputation, not a pinned constant.
    "text_bpe_tokens" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.BpeEncode.bpeTokens(col("text"), PinnedBpeMerges).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_bpe_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_unique_tokens"))
        .orderBy(col("doc_id"))
    },

    // Heavy hitters via the mergeable Misra-Gries summary (completes the
    // sketch trio beside HLL distinct q24 and quantiles q29): top-10
    // corpus terms with the sketch's estimate checked against exact
    // counts. At k=256 >= the closed vocabulary the summary never
    // decrements, so the estimates are exact and deterministic — the
    // verdict the oracle pins; the k < vocab error bound is spec-tested.
    "text_heavy_hitters" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents")
        .select(explode(split(TextAnalysis.normText(lower(col("text"))), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val mg = toks.agg(graft.functions.FreqItemsAgg.freqItems(col("term"), 256).as("m"))
        .select(explode(col("m")).as(Seq("term", "est")))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      // top-10 via orderBy().limit() so the global ordering plans as
      // TakeOrderedAndProject (per-partition heaps, driver merge) — an
      // unpartitioned rank-<=10 window would move EVERY distinct term to
      // one partition, unbounded on an open-vocab corpus. Rank is then
      // assigned inside the already-10-row frame (the Dsir.topNByDsir
      // pattern), where the window is trivially bounded.
      val top10 = exact.orderBy(col("n").desc, col("term")).limit(10)
      top10.withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("term"))).cast("long"))
        .join(mg, Seq("term"), "left")
        .select(col("rank"), col("term"), col("n"),
          (col("est") === col("n")).as("mg_exact"))
        .orderBy(col("rank"))
    },

    // Tokenizer fertility (tokens-per-word per language) — the standard
    // tokenizer-evaluation metric: how many BPE tokens the pinned merge
    // table spends per whitespace word, split by language. High
    // fertility on a language flags a vocabulary that undertrained on
    // it. Integer sums, one final division.
    "text_bpe_fertility" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          size(graft.functions.BpeEncode.bpeTokens(col("text"), PinnedBpeMerges))
            .cast("long").as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).as("n_words"))
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe")).as("total_bpe"),
          sum(col("n_words")).as("total_words"),
          round(sum(col("n_bpe")).cast("double") / sum(col("n_words")), 4)
            .as("fertility"))
        .orderBy(col("lang"))
    },

    // Deep-cascade variants over the EXHAUSTIVE 89-merge table (every
    // in-vocabulary pre-token collapses to a single token): the encoder
    // and the oracle's replace-chain replay run ~2x more ranks than the
    // 48-merge gates, exercising the deepest cascade this closed
    // vocabulary admits. Fertility approaches the per-word pre-token
    // floor — the saturation diagnostic for a fully-trained vocabulary.
    "text_bpe_tokens_deep" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.BpeEncode.bpeTokens(col("text"), PinnedBpeMergesDeep)
            .as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_bpe_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_unique_tokens"))
        .orderBy(col("doc_id"))
    },

    "text_bpe_fertility_deep" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          size(graft.functions.BpeEncode.bpeTokens(col("text"), PinnedBpeMergesDeep))
            .cast("long").as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).as("n_words"))
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe")).as("total_bpe"),
          sum(col("n_words")).as("total_words"),
          round(sum(col("n_bpe")).cast("double") / sum(col("n_words")), 4)
            .as("fertility"))
        .orderBy(col("lang"))
    },

    // PII scan + scrub: emails / IPv4 / dashed phones counted and
    // redacted with typed markers. The synthetic corpus carries no PII,
    // so the gate PLANTS it deterministically (by doc_id class) and the
    // operator must find exactly the planted instances — the scrubbed
    // text is md5'd so the redaction itself is hash-verified.
    "text_pii_scrub" -> { (s, d) =>
      val planted = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com now")))
          .when(col("doc_id") % 7 === 1,
            concat(col("text"), lit(" from 10.0."), col("doc_id") % 256,
              lit(".1 logged")))
          .when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" call 555-123-4567")))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.piiEmailCount(col("text")).cast("long").as("n_email"),
          TextAnalysis.piiIpv4Count(col("text")).cast("long").as("n_ip"),
          TextAnalysis.piiPhoneCount(col("text")).cast("long").as("n_phone"),
          md5(TextAnalysis.scrubPii(col("text"))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },

    "dedup_exact_docs" -> { (s, d) =>
      Dedup.exactDedupGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("fp"))
    },

    // Cross-source exact-duplicate matrix (the exact counterpart of the
    // q41 theta-sketch overlap): the corpus has no native cross-source
    // duplicates, so every 13th doc is PLANTED as a re-post under a
    // doc_id-derived DIFFERENT source (the +7 shift dodges the fixture's
    // own source = src(doc_id % 20) rule); the oracle replays planting, fingerprints,
    // and the full pair matrix.
    "dedup_cross_source" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val reposts = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          concat(lit("src"), ((col("doc_id") + 7) % 20).cast("string")).as("source"))
      val all = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(reposts)
      Dedup.crossStratumOverlap(all, "source", "text")
        .orderBy(col("src_a"), col("src_b"))
    },

    // Paragraph-level dedup: the corpus has no native line structure, so
    // the gate PLANTS it deterministically — pages of 5 docs joined with
    // newlines (the planted exact-dup docs thereby become repeated
    // paragraphs across pages). paragraphDedup must keep exactly each
    // paragraph's (page, position)-first occurrence and rebuild pages;
    // the oracle replays split + keep-first + reassembly and both sides
    // md5 the rebuilt page text.
    "dedup_paragraphs" -> { (s, d) =>
      val pages = t(s, d, "documents")
        .select(floor(col("doc_id") / 5).cast("long").as("page_id"),
          struct(col("doc_id"), col("text")).as("sdoc"))
        .groupBy(col("page_id"))
        .agg(array_join(transform(array_sort(collect_list(col("sdoc"))),
          x => x.getField("text")), "\n").as("text"))
      Dedup.paragraphDedup(pages, "page_id", "text")
        .select(col("page_id"), col("n_paras"), col("n_kept"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("page_id"))
    },

    // Exact-substring pass: pairs sharing a full 8-token window, via a
    // window-hash equi-join (never all-pairs). Oracle joins the literal
    // span text where Spark joins its xxhash64 — identical answers
    // because the hash only stands in for span equality.
    "dedup_span_exact" -> { (s, d) =>
      Dedup.spanPairs(t(s, d, "documents"), "doc_id", "text", spanTokens = 8)
        .orderBy(col("a_id"), col("b_id"))
    },

    // N-gram benchmark decontamination (every 10th doc stands in for the
    // held-out set): corpus docs sharing any exact 8-token run with a
    // benchmark doc. Complements the exact-fingerprint
    // pipeline_contamination gate with the overlap rule production
    // pipelines actually apply.
    "pipeline_contamination_ngram" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.spanContaminated(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", spanTokens = 8)
        .orderBy(col("doc_id"))
    },

    // Bloom-prefiltered decontamination: distributed BloomFilterAggregate
    // build over the benchmark grams, map-side mightContain prefilter on
    // the corpus stream, exact confirm on the survivors. Same oracle SQL
    // as the plain n-gram gate because the answer is EXACTLY equal — the
    // bloom only changes where the work happens, never the result.
    "pipeline_bloom_decontam" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.spanContaminatedBloom(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", spanTokens = 8)
        .orderBy(col("doc_id"))
    },

    // Exact-substring span REMOVAL (the ACL'22 surgery step): duplicated
    // 8-token windows are cut out of every non-keeper doc (keeper = min
    // doc id containing the window), overlapping windows merging into one
    // cut. Gate verifies the full cleaned TEXT of every doc plus the
    // removed-token count. Linear even on boilerplate: occurrences, not
    // pairs, so no maxDf dial exists to mis-set.
    "dedup_span_scrub" -> { (s, d) =>
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 8)
        .orderBy(col("doc_id"))
    },

    // Arbitrary-length exact-substring extraction (Lee et al. ACL'22
    // suffix-array pass, re-expressed as L-gram radix bucketing + island
    // merge — Dedup.duplicateSubstrings). The fixture PLANTS overlaps of
    // varying known lengths well past the span family's n=8: every
    // doc_id % 7 == 3 doc gets a shared boilerplate tail of
    // 12 + doc_id % 40 tokens (nested prefixes, so pairwise overlaps
    // span 12..51 tokens), on top of whatever full-document duplicates
    // the corpus already carries. The oracle rebuilds the same text in
    // SQL and derives maximal duplicated runs independently (window
    // self-join + island grouping over positions) — it verifies the
    // extracted runs' exact extents, lengths, and md5'd text.
    "dedup_substring" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val k = (lit(12) + pmod(col("doc_id"), lit(40))).cast("int")
      val bp = array_join(transform(sequence(lit(1), k),
        i => concat(lit("bp"), i.cast("string"))), " ")
      val planted = docs.withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 3,
          concat(coalesce(col("text"), lit("")), lit(" "), bp))
          .otherwise(col("text")))
      Dedup.duplicateSubstrings(planted, "doc_id", "text2", minTokens = 12)
        .orderBy(col("doc_id"), col("start_pos"))
    },

    // Normalized decontamination with doc-level overlap fractions — the
    // published recipe: both sides lowercased + punctuation-collapsed
    // before 8-gram window hashing, and each corpus doc reports what
    // fraction of its distinct 8-grams hit the benchmark set (flagged at
    // >= 0.2). Complements the exact-mode gate above: a case-variant copy
    // of a benchmark span matches here and not there.
    "pipeline_contamination_norm" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.spanContaminationReport(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", spanTokens = 8, minOverlapFrac = 0.2)
        .orderBy(col("doc_id"))
    },

    // Batch-over-corpus incremental dedup: docs 400+ arrive as the new
    // batch, everything before is the standing corpus; in-batch dup copies
    // and batch docs already present in the corpus are dropped.
    "dedup_incremental" -> { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400), "doc_id", "text")
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },

    "dedup_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(
          t(s, d, "documents").filter(col("doc_id") < 60), "doc_id", "text",
          n = 5, threshold = 0.2)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Fuzzy matching SERVED from the standing gram index: a batch of new
    // names (keys 300-349) screened against the indexed corpus (keys
    // < 300) without rescanning it — the record-linkage ingest shape.
    // Batch prefixes use BATCH-local gram frequencies (prefix-vs-full
    // completeness needs no shared order), corpus strings ride in the
    // index rows, so the join is exchange-free on the corpus side and
    // per-batch cost tracks batch size. Hard equality vs the exact
    // batch-x-corpus all-pairs levenshtein.
    "dedup_fuzzy_serve" -> { (s, d) =>
      val tbl = editIndexFor(s, d)
      Dedup.editDistanceServe(s, tbl,
          t(s, d, "customer")
            .filter(col("c_custkey") >= 300 && col("c_custkey") < 350)
            .select(col("c_custkey").as("id"), col("c_name")),
          "id", "c_name", maxDist = 1, q = 2, maxDistBound = 2)
        .orderBy(col("batch_id"), col("corpus_id"))
    },

    // Jaro-Winkler record linkage over customer names: the native
    // codegen'd expression scored all-pairs under the enforced input cap
    // (the bounded verifier; blocking composes separately at scale).
    // Hard equality vs DuckDB's jaro_winkler_similarity — identical
    // parameterization, similarities rounded 5dp before the threshold.
    "dedup_jw_names" -> { (s, d) =>
      Dedup.jaroWinklerPairs(
          t(s, d, "customer").filter(col("c_custkey") < 300)
            .select(col("c_custkey").as("id"), col("c_name")),
          "id", "c_name", minSim = 0.97)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Fuzzy (edit-distance) self-join over customer names: Ed-Join q-gram
    // prefix filter -> length filter -> exact levenshtein verify. At
    // these dials (maxDf=1000 > the 300-name gram frequencies) nothing
    // drops from the index, so the funnel's completeness proof applies
    // and the output must EQUAL the oracle's exact all-pairs levenshtein
    // — a hard-equality gate on a fuzzy join, not a verdict.
    "dedup_fuzzy_names" -> { (s, d) =>
      Dedup.editDistancePairs(
          t(s, d, "customer").filter(col("c_custkey") < 300)
            .select(col("c_custkey").as("id"), col("c_name")),
          "id", "c_name", maxDist = 1, q = 2, maxDf = 1000)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Pairs -> clusters: connected components over the near-dup pair graph
    // (alternating large-star/small-star), labeling every doc with its
    // component's min id — the canonical-keeper step between pair
    // generation and the actual drop. Oracle = DuckDB recursive-CTE
    // transitive closure over the SAME pair definition.
    "dedup_clusters" -> { (s, d) =>
      val pairs = Dedup.ngramJaccardPairs(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text",
        n = 5, threshold = 0.25)
      Dedup.connectedComponents(pairs).orderBy(col("id"))
    },

    // Leakage-free split over the SAME bounded pair graph as
    // dedup_clusters: every near-dup cluster hashes as one unit (by its
    // component-min representative), so no pair can straddle train and
    // test. The oracle replays clusters (recursive CTE), representative
    // fill, and the md5-bucket split thresholds — row equality proves
    // the no-leakage property, since the oracle derives splits from the
    // clusters by construction.
    "pipeline_leakfree_split" -> { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.25)
      graft.operators.Sampling.leakFreeSplit(docs, "doc_id", pairs,
          trainFrac = 0.8, valFrac = 0.1)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // Same pair graph FORCED through the distributed large-star/small-star
    // path (smallGraphEdges = 0 disables the union-find cutover): both
    // regimes must produce identical component-min labels at gate scale,
    // proven against the same recursive-CTE oracle — the sf0.01 graphs
    // otherwise sit under the 1M-edge dial and only specs would cover the
    // shuffle-only path a 100 TB corpus actually runs.
    "dedup_clusters_dist" -> { (s, d) =>
      val pairs = Dedup.ngramJaccardPairs(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text",
        n = 5, threshold = 0.25)
      Dedup.connectedComponents(pairs, smallGraphEdges = 0).orderBy(col("id"))
    },

    // Clusters -> filtered corpus: the end of the dedup funnel. Same pair
    // definition as dedup_clusters; each cluster's min-id doc survives,
    // every other member is dropped, untouched docs pass through.
    "dedup_keep_canonical" -> { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.25)
      Dedup.keepCanonical(docs, pairs, "doc_id")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // Quality-aware canonicalization over the same pair graph: the
    // survivor of each cluster is the LONGEST member (tie -> lowest id)
    // — the keep-the-best-variant policy — instead of keep_canonical's
    // lowest id. Same oracle cluster replay, argmax survivor rule.
    "dedup_keep_best" -> { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.25)
      Dedup.keepBest(docs, pairs, "doc_id",
          length(TextAnalysis.normText(col("text"))))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // One-scan table profile (null/distinct/bounds per column) — the
    // before/after data-quality snapshot of every pipeline stage.
    "profile_documents" -> { (s, d) =>
      Profile.exact(t(s, d, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))
    },

    // Incremental profile refresh: two disjoint half-corpus sketched
    // profiles merged must EQUAL the single-pass profile on every exact
    // monoid field (counts, bounds — hard equality), the merged and
    // direct HLL estimates must agree within 5% (bit-equality is mode-
    // dependent near the coupon->dense promotion threshold), and the
    // merged estimate must sit within 5% of exact.
    "profile_incremental" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val cols = Seq("doc_id", "source", "text")
      val parts = Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
      val merged = Profile.finalizeSketched(
        Profile.mergeSketched(parts.map(Profile.sketched(_, cols))))
      val direct = Profile.finalizeSketched(Profile.sketched(docs, cols))
      val exact = Profile.exact(docs, cols)
        .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
      val m = merged.alias("m")
      val g = direct.alias("g")
      val eq = Seq("n_rows", "n_nulls", "min_v", "max_v")
        .map(f => col(s"m.$f") <=> col(s"g.$f")).reduce(_ && _)
      m.join(g, col("m.col_name") === col("g.col_name"))
        .select(col("m.col_name").as("col_name"),
          col("m.n_distinct_est").as("n_est_m"),
          col("g.n_distinct_est").as("n_est_g"), eq.as("merged_eq_direct"))
        .join(exact, Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          col("merged_eq_direct"),
          (abs(col("n_est_m") - col("n_est_g")).cast("double") / col("n_distinct")
            <= 0.05).as("est_agree"),
          (abs(col("n_est_m") - col("n_distinct")).cast("double") / col("n_distinct")
            <= 0.05).as("est_ok"))
        .orderBy(col("col_name"))
    },

    // Distribution shape beside the bounds/cardinality profile: 20-bin
    // equi-width histogram of the events value column. Bin assignment is
    // a closed-form floor over the same IEEE doubles in both engines, so
    // the oracle replays it bit-for-bit.
    "profile_histogram" -> { (s, d) =>
      Profile.histogram(t(s, d, "events"), "value", bins = 20)
        .orderBy(col("bin"))
    },

    // The 100 TB profile path (HLL++ distinct counts) under the verdict
    // pattern: exact counts beside a deterministic 5%-tolerance check of
    // the approximate profile, pinned true by the oracle (same
    // construction as the q22/q24 sketch gates).
    "profile_documents_approx" -> { (s, d) =>
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val ex = Profile.exact(t(s, d, "documents"), cols)
        .select(col("col_name"), col("n_distinct"))
      val ap = Profile.approx(t(s, d, "documents"), cols)
        .select(col("col_name"), col("n_distinct").as("nd_approx"))
      ex.join(ap, "col_name")
        .select(col("col_name"), col("n_distinct"),
          (abs(col("nd_approx") - col("n_distinct")) <=
            greatest(lit(1.0), col("n_distinct") * 0.05)).as("within_5pct"))
        .orderBy(col("col_name"))
    },

    // Exact cosine radius search (range query): the "everything at least
    // this similar" companion of emb_cosine_topk. Full-result oracle —
    // DuckDB recomputes every cosine and the round-then-compare boundary.
    "emb_cosine_radius" -> { (s, d) =>
      Similarity.bruteForceRadius(t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, minCosine = 0.3)
        .orderBy(col("query_id"), col("neighbor_id"))
    },

    // IVF-probed radius search: candidates from the nProbe nearest cells
    // only (the scale path — each query touches ~nProbe/nCentroids of the
    // corpus), every emitted pair exact, recall measured per query against
    // oracle-green brute force. n_true is exactly derivable, so the oracle
    // pins the true neighborhood size AND the recall verdict.
    "ann_ivf_radius" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nCentroids = 16, lloydIters = 2)
      Similarity.radiusRecallGate(
        Similarity.ivfRadius(emb, "vec_id", "embedding",
          queryIds = _ < 10, minCosine = 0.3, centroids = cents, nProbe = 6),
        Similarity.bruteForceRadius(emb, "vec_id", "embedding",
          queryIds = _ < 10, minCosine = 0.3),
        minRecall = 0.5)
    },

    "dedup_embedding_cosine" -> { (s, d) =>
      Similarity.cosineNearDupPairs(
          t(s, d, "embeddings").filter(col("vec_id") < 200), "vec_id", "embedding",
          threshold = 0.35)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Semantic benchmark overlap (every 10th vector stands in for the
    // held-out suite): corpus vectors whose max cosine against any bench
    // vector reaches 0.35, with the argmax bench id — the embedding leg
    // of decontamination beside the n-gram gates.
    "emb_benchmark_overlap" -> { (s, d) =>
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 500)
      Similarity.semanticContamination(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", threshold = 0.35)
        .orderBy(col("vec_id"))
    },

    // Precision gate for the scale path: LSH candidates -> exact re-score
    // can only MISS pairs, never invent them, so (lsh UNION brute-force)
    // must equal the brute-force answer the DuckDB oracle computes. A
    // false positive from the bucketing or re-scoring surfaces as an
    // extra row -> hash mismatch.
    "dedup_embedding_lsh" -> { (s, d) =>
      val e = t(s, d, "embeddings").filter(col("vec_id") < 200)
      Similarity.lshNearDupPairs(e, "vec_id", "embedding", threshold = 0.35)
        .union(Similarity.cosineNearDupPairs(e, "vec_id", "embedding", threshold = 0.35))
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    },

    // Same construction for MinHash: the verified funnel's output UNION
    // the exact prefix-filtered answer must equal the exact answer
    // (precision = 1 because stage 3 re-computes exact Jaccard; this gate
    // pins that contract against the DuckDB all-pairs oracle).
    "dedup_minhash_precision" -> { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 60)
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
          k = 16, shingleSize = 5, bands = 8, threshold = 0.2)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
        .union(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.2)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard")))
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    },

    // Per-label centroid vectors (cluster statistics): exact decimal sums
    // per (label, dimension) so the centroid is identical on any cluster
    // size — the aggregation pattern for embedding rollups.
    "emb_label_centroids" -> { (s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(round(sum(col("v").cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
          .as("centroid"))
        .filter(col("dim") < 8) // bounded output; full vector same pattern
        .orderBy(col("label"), col("dim"))
    },

    "emb_cosine_topk" -> { (s, d) =>
      Similarity.bruteForceTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          queryIds = _ < 10, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // int8 scalar quantization (the 4x embedding-store shrink for
    // corpus-scale ANN): the affine code math is identical IEEE double
    // arithmetic in both engines, so DuckDB recomputes every code and the
    // gate hash-matches code sums exactly; the reconstruction-error bound
    // (<= scale/2 per element, by construction) rides along as a pinned
    // verdict.
    "emb_quantize_int8" -> { (s, d) =>
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 500)
      val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      val orig = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val dq = Similarity.dequantize(col("codes"), col("q_min"), col("q_scale"))
      q.join(orig, "vec_id")
        .select(
          col("vec_id"),
          size(col("codes")).cast("long").as("n_dims"),
          round(col("q_min"), 6).as("q_min_r"),
          expr("aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)").as("codes_sum"),
          (array_max(zip_with(dq, col("v"), (a, b) => abs(a - b)))
            <= col("q_scale") * 0.5000001 + lit(1e-12)).as("recon_ok"))
        .orderBy(col("vec_id"))
    },

    // Composed curation pipeline — the operators chained the way a real
    // training-data run uses them: quality gate -> length gate -> exact
    // dedup -> corpus stats. One declarative plan; Catalyst fuses the
    // filters into the scan and the dedup is a single hash aggregation.
    "pipeline_curate_corpus" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.5 && col("n_tokens") >= 20)
      docs.groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), min(col("n_tokens")).as("n_tokens"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          min(col("keep_id")).as("first_doc"))
    },

    // Data-mixing cap: keep the top-N highest-quality docs per source
    // (window top-k per group — the standard source-balancing step).
    "pipeline_cap_per_source" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      t(s, d, "documents")
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(dec(col("quality"))), 4).cast("double").as("sum_quality"))
        .orderBy(col("source"))
    },

    // Token-budget sequence packing: running token count per source
    // (ordered by doc_id), packed greedily into 2048-token bins — the
    // deterministic prefix-sum formulation of training-sequence packing.
    "pipeline_token_packing" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack", expr("(cum - n_tokens) div 2048"))
        .groupBy(col("source"))
        .agg(countDistinct(col("pack")).as("n_packs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("source"))
    },

    // Sequence packing by the REAL tokenizer's counts: what the
    // whitespace-count packing above approximates, a training pipeline
    // does with its BPE vocabulary — per-source greedy prefix-sum bins of
    // 2048 BPE tokens (same native BpeEncode pass as text_bpe_tokens, so
    // pack boundaries match what the training run sees).
    "pipeline_token_packing_bpe" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      t(s, d, "documents")
        .withColumn("n_tokens",
          size(graft.functions.BpeEncode.bpeTokens(col("text"), PinnedBpeMerges))
            .cast("long"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack", expr("(cum - n_tokens) div 2048"))
        .groupBy(col("source"))
        .agg(countDistinct(col("pack")).as("n_packs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("source"))
    },

    // Contamination check: exact-fingerprint overlap between the corpus
    // and a held-out set (every 10th doc stands in for the benchmark).
    "pipeline_contamination" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      val bench = docs.filter(col("doc_id") % 10 === 0)
        .select(col("fp").as("bench_fp")).distinct()
      docs.join(bench, col("fp") === col("bench_fp"), "left_semi")
        .agg(count(lit(1)).as("n_contaminated"),
          countDistinct(col("fp")).as("n_distinct_contaminated"))
    },

    // PII-style scrubbing: digit runs replaced with a placeholder;
    // reports how many docs changed and the scrubbed byte volume.
    "text_scrub" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("scrubbed", regexp_replace(col("text"), "[0-9]+", "<NUM>"))
        .agg(
          sum(when(col("scrubbed") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
          sum(length(col("scrubbed")).cast("long")).cast("long").as("total_chars"))
    },

    // MinHash recall gate: at k=32 single-row bands (miss probability
    // (1-j)^32 <= 0.08% per true pair at j=0.2) the funnel achieves FULL
    // recall on this corpus slice — verified by measurement at
    // sf0.01/sf0.1 — so its output must equal the exact all-pairs Jaccard
    // answer, which DuckDB computes independently. Complements
    // dedup_minhash_precision (which pins precision via union-with-exact):
    // together the two directions pin the funnel's output set exactly.
    "dedup_minhash_pairs" -> { (s, d) =>
      Dedup.minhashVerifiedPairs(
          t(s, d, "documents").filter(col("doc_id") < 60), "doc_id", "text",
          k = 32, shingleSize = 5, bands = 32, threshold = 0.2)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
    },

    // Unbounded MinHash over the whole documents table — the scale probe
    // the bench runs at sf0.1 (LSH join cost grows with corpus, not n²).
    // At threshold 0.6 the banding (8 bands x 4 rows) misses zero true
    // pairs on this corpus (measured at sf0.001/0.01/0.1), so the top-100
    // gate is equality against DuckDB's exact size-prefiltered all-pairs
    // Jaccard.
    "dedup_minhash_full" -> { (s, d) =>
      Dedup.minhashVerifiedPairs(
          t(s, d, "documents"), "doc_id", "text",
          k = 32, shingleSize = 5, bands = 8, threshold = 0.6)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
        .limit(100)
    },

    // Unbounded SimHash over the whole documents table — the scale probe
    // the bench runs at sf0.1. Native one-pass signatures; the candidate
    // join buckets on 16-bit signature slices, so expected candidates are
    // ~blocks * N²/2^16 for near-uniform signatures — a 16k-fold reduction
    // over all-pairs, not a linear guarantee (wider slices = fewer
    // candidates = lower recall headroom: the blocks dial).
    // blocks=4 > maxDistance=3 keeps the pigeonhole completeness
    // guarantee, so the emitted set is EXACTLY {pairs with hamming <= 3} —
    // and with the portable MD5 token hash the oracle recomputes every
    // signature from scratch in DuckDB: a full cross-engine hash gate.
    "dedup_simhash_full" -> { (s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
          maxDistance = 3, blocks = 4, portable = true)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("hamming"), col("a_id"), col("b_id"))
        .limit(100)
    },

    "dedup_simhash_near" -> { (s, d) =>
      // blocks=16 (4-bit slices) > maxDistance=15 => detection is COMPLETE
      // for the requested radius (pigeonhole guarantee), not best-effort —
      // the output is the full set {pairs with hamming <= 15}, which the
      // oracle independently derives by recomputing portable-mode
      // signatures in SQL.
      Dedup.simhashPairs(
          t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text",
          maxDistance = 15, blocks = 16, portable = true)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
    },

    // Quantized ANN quality gate: brute-force top-k over the DEQUANTIZED
    // int8 embeddings must recover the float top-5 for every query
    // (5/5 hits within 0.01 score slack — measured exactly 5/5 at
    // sf0.001/0.01/0.1). This is the end-to-end proof that the 4x-smaller
    // embedding store preserves ranking quality.
    "ann_int8_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val deq = Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("vec_id"),
          Similarity.dequantize(col("codes"), col("q_min"), col("q_scale"))
            .as("embedding"))
      Similarity.recallGate(
        Similarity.bruteForceTopK(deq, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 5, eps = 0.01)
    },

    // ANN probes, gated on recall vs the oracle-green brute-force: the
    // gate emits (query_id, recall_ok) where recall_ok = "the approximate
    // top-5 contains >= 4 neighbors within 0.02 of exact top-5 score
    // quality" (epsilon-recall@5 >= 0.8). With a fixed seed the
    // approximate result is deterministic, so the oracle pins recall_ok =
    // true for every query id — a hard gate, not a rows-only probe. The
    // floor holds with measured headroom at sf0.001/0.01/0.1 (min hits 4/5
    // at every scale for both probes); a regression in the banding/probing
    // logic (or a nondeterminism bug) flips rows to false and reds the
    // gate.
    "ann_lsh_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.recallGate(
        Similarity.lshTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, tables = 8, nBits = 3),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.02)
    },

    "ann_ivf_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.recallGate(
        Similarity.ivfTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.02)
    },

    // Serving from the PERSISTENT IVF index (the ANN counterpart of
    // text_bm25_serve): the cell-bucketed catalog table is staged once,
    // the probe's cell filter prunes index buckets, zero corpus-embedding
    // scans in the serve — same frozen centroids, same epsilon-recall
    // verdict vs oracle-green brute force as the in-memory IVF gates.
    "ann_ivf_index_serve" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = hybridCentroidsFor(s, d)
      Similarity.recallGate(
        Similarity.ivfIndexServe(s, ivfIndexFor(s, d), emb, "vec_id",
          "embedding", queryIds = _ < 10, k = 5, centroids = cents,
          nProbe = 4),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.02)
    },

    // Drift-triggered index MAINTENANCE (the acting half of the KS
    // monitor): a planted distribution shift leaves the persisted IVF
    // index routing the post-drift corpus with PRE-drift centroids —
    // same-cluster neighbors scatter across stale cells and recall
    // collapses below the floor. The assignment-confidence KS statistic
    // fires (>= 0.5), centroids retrain on a bounded post-drift sample,
    // and reclusterIvfIndex re-routes the standing catalog in one
    // shuffle; serving from the refreshed index recovers the floor on
    // the SAME queries. The gate pins all three verdicts per query:
    // drift fired, stale serve fails the floor, refreshed serve meets it.
    // eps = 0 (exact-threshold recall), deliberately: the planted
    // clusters bunch all in-cluster cosines within ~0.02, so an epsilon
    // slack would count EVERY stray in-cluster candidate as a hit and
    // mask the stale index's candidate-set collapse (measured).
    "ann_ivf_recluster" -> { (s, d) =>
      val (staleTbl, freshTbl, staleCents, freshCents, fired) =
        ivfDriftFor(s, d)
      val (_, post) = driftFrames(s, d)
      val brute = Similarity.bruteForceTopK(post, "vec_id", "embedding",
        queryIds = _ < 10, k = 10)
      val stale = Similarity.recallGate(
        Similarity.ivfIndexServe(s, staleTbl, post, "vec_id", "embedding",
          queryIds = _ < 10, k = 10, centroids = staleCents, nProbe = 4),
        brute, minHits = 8, eps = 0.0)
        .withColumnRenamed("recall_ok", "stale_ok")
      val fresh = Similarity.recallGate(
        Similarity.ivfIndexServe(s, freshTbl, post, "vec_id", "embedding",
          queryIds = _ < 10, k = 10, centroids = freshCents, nProbe = 4),
        brute, minHits = 8, eps = 0.0)
        .withColumnRenamed("recall_ok", "fresh_ok")
      stale.join(fresh, Seq("query_id"))
        .select(col("query_id"), lit(fired).as("drift_fired"),
          col("stale_ok"), col("fresh_ok"))
        .orderBy(col("query_id"))
    },

    // Streaming ANN ingest: the index is built ENTIRELY by the
    // foreachBatch append loop (three landed embedding batches, frozen
    // centroids) and then served — the continuous-crawl maintenance
    // story for the vector leg, gated on the same epsilon-recall
    // verdict. A lost batch or a double-applied append would change the
    // candidate sets and flip verdicts.
    "stream_ivf_ingest" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cents = hybridCentroidsFor(s, d)
      Similarity.recallGate(
        Similarity.ivfIndexServe(s, ivfStreamIndexFor(s, d), emb, "vec_id",
          "embedding", queryIds = _ < 10, k = 5, centroids = cents,
          nProbe = 4),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.02)
    },

    // Quantized IVF end-to-end (the actual 100 TB serving shape):
    // candidate generation probes cells and scores against the int8
    // index only, float vectors re-join for the exact re-rank of the
    // 3*k-candidate shortlist. Gated on the same deterministic
    // epsilon-recall verdict as the float IVF probe (measured: every
    // query passes the >=4-hit floor at sf0.001/0.01/0.1).
    "ann_ivf_int8_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.recallGate(
        Similarity.ivfTopKInt8(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.02)
    },

    // IVF-PQ end-to-end (IVFADC — the deepest compression tier: 8
    // codebook ints + one norm per index vector instead of 64 doubles):
    // coarse cells bound the candidate scan, ADC scores the candidates
    // against the compressed codes, float vectors re-join only for the
    // exact re-rank of the 60-candidate shortlist. Same deterministic
    // epsilon-recall verdict as the other ANN probes (measured: every
    // query >= 4/5 hits at sf0.001/0.01/0.1 with these dials).
    "ann_ivf_pq_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.recallGate(
        Similarity.ivfTopKPq(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = 4,
          m = 8, ksub = 32, shortlist = 60),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.02)
    },

    // IVFADC + DEEP exact-rescore refine (r13, VERDICT r12 item 4): the
    // standard PQ-then-exact-rerank quality tier above ann_ivf_pq_topk —
    // top-R by ADC with R corpus-scaled at 20% (floor 400, vs topk's 3%),
    // exact cosine rescore, top-k. The refine depth buys a verdict
    // TIGHTER on both axes (minHits 5 vs 4, eps 0.005 vs 0.02). When the
    // shortlist would cover half the corpus the funnel probes ALL cells
    // and degrades to exact search — approximating candidate GENERATION
    // while rescoring most of the corpus is the worst of both worlds
    // (measured: at n=500, 8-probe-of-16 + 80% rescore still missed one
    // true neighbor sitting in an unprobed cell; np=16 is exact).
    // Measured at sf0.001/0.01/0.1 and the sf1 rung: 10/10 queries pass
    // at eps 0.0 with these dials (0.005 pinned for tie headroom).
    "ann_ivf_pq_refine" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val sl = math.max(400L, n * 20 / 100).toInt
      val np = if (2L * sl >= n) 16 else 8
      Similarity.recallGate(
        Similarity.ivfTopKPq(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, nCentroids = 16, nProbe = np,
          m = 8, ksub = 32, shortlist = sl),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 5, eps = 0.005)
    },

    // Random-projection tier (JL lemma): 64-dim vectors projected to 32
    // through a seeded Gaussian matrix, shortlist ranked in projected
    // space (half the candidate-generation bytes), exact float re-rank.
    // eps reflects the projection's distortion at outDim=32 (~1/sqrt(32)
    // ≈ 0.18 1-sigma on near-orthogonal pairs): every returned neighbor
    // must score within 0.10 of the exact 5th-best. Measured at
    // sf0.001/0.01/0.1 with these dials: 5/5 epsilon-hits on every
    // query at every scale (minHits=4 leaves one hit of headroom);
    // tighter eps at this outDim is not honest — the corpus's dense
    // near-ties reorder under projection.
    "ann_rp_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.recallGate(
        Similarity.rpTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, outDim = 32, shortlist = 100),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.10)
    },

    // PCA-projected shortlist + exact re-rank: the data-adaptive sibling
    // of ann_rp_topk — the projection is trained on a bounded id-ordered
    // sample (frozen thereafter, the centroid pattern) and spends its
    // dimensions on the corpus's actual variance directions, so HALF the
    // projected width (16 vs JL's 32) passes a TIGHTER verdict (eps 0.05
    // vs 0.10). Measured at sf0.001/0.01/0.1: 5/5 epsilon-hits on every
    // query at every scale except one 4/5 at sf0.1 (minHits=4 is the
    // floor; eps 0.02 drops to 2/5 at sf0.1 and is not honest).
    "ann_pca_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.recallGate(
        Similarity.pcaTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, outDim = 16, shortlist = 100),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.05)
    },

    // Truncated-dimension (matryoshka) funnel: shortlist on the first 32
    // of 64 coordinates (the standard MRL halving), exact re-rank — the
    // zero-training counterpart of the PCA tier (same epsilon-recall
    // verdict). Dials measured against the isotropic fixture Gaussians:
    // a 16-dim prefix plateaus at 9/10 queries regardless of shortlist
    // (a true MRL embedding front-loads signal; random Gaussians
    // don't), while 32 dims holds 10/10 across the dial range. The
    // shortlist follows the ladder's corpus-scaled law (5% of vectors,
    // floored at 100) rather than a fixed constant — the decay mode
    // SCALING.md documents.
    "ann_truncated_topk" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val sl = math.max(100L, emb.count() * 5 / 100).toInt
      Similarity.recallGate(
        Similarity.truncatedTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5, prefixDims = 32, shortlist = sl),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 5),
        minHits = 4, eps = 0.05)
    },

    // MMR diversified rerank over the brute-force top-20 shortlist:
    // greedy lambda*rel - (1-lambda)*max-sim selection, k=5. The whole
    // trajectory is deterministic (mmr rounded to 6dp before argmax,
    // ties by doc_id), so the oracle replays all five greedy steps as
    // unrolled SQL — a hard equality gate on every pick and its score,
    // not a verdict.
    "ann_mmr_rerank" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val cand = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryIds = _ < 10, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("score").as("rel"))
      Similarity.mmrRerank(cand, emb, "vec_id", "embedding",
          k = 5, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    },

    // SemDeDup (Abbas et al. 2023): k-means cells bound the quadratic
    // pair scan, within-cell cosine >= threshold marks semantic dups,
    // component-min keeps one representative. The gate emits one row per
    // corpus vector with a soundness verdict (dropped => justified by a
    // kept same-cell keeper above threshold; kept => no surviving
    // same-cell near-dup) that the oracle pins true — see
    // Similarity.semDedupGate. Threshold 0.40 sits inside the measured
    // pair-cosine range of the fixture embeddings (max ~0.51 in the
    // 64-dim label-cluster cloud), so the dedup actually fires: drops
    // occur at every SF and a labeling/assignment regression flips rows.
    "dedup_semdedup" -> { (s, d) =>
      Similarity.semDedupGate(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.40, nCentroids = 16)
    },

    // Dense 0..N-1 global example ids in (source, doc_id) order via the
    // partition-offset scheme (graft.operators.GlobalIds) — NO
    // single-partition corpus window anywhere in the plan. sum(gid) per
    // source pins the exact permutation, not just the counts.
    "pipeline_global_ids" -> { (s, d) =>
      GlobalIds.assign(t(s, d, "documents"),
          Seq(col("source"), col("doc_id")), "gid", partitions = 8)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("gid")).as("min_gid"),
          max(col("gid")).as("max_gid"),
          sum(col("gid")).as("sum_gid"))
        .orderBy(col("source"))
    },

    // Aho-Corasick blocklist scrub (graft.functions.AcScrub): six terms
    // over the fixture vocabulary, chosen so matches OVERLAP ("table
    // part" vs "table", "fast sort key" vs "sort key") and the
    // leftmost-longest selection is load-bearing. The oracle replays the
    // same semantics as a longest-first RE2 alternation and derives both
    // the match count and the scrubbed length from two replacement
    // passes — an independent reconstruction, not a replay of the
    // automaton.
    "text_keyword_scrub" -> { (s, d) =>
      val kws = Seq("fast sort key", "table part", "big group",
        "scan slow", "sort key", "table")
      t(s, d, "documents")
        .withColumn("sc",
          graft.functions.AcScrub.scrub(col("text"), kws, "[REDACTED]"))
        .select(col("source"), col("sc.n_matches").as("n_matches"),
          length(col("sc.scrubbed")).as("scrubbed_len"))
        .groupBy(col("source"))
        .agg(sum(col("n_matches")).cast("long").as("total_matches"),
          sum(when(col("n_matches") > 0, 1L).otherwise(0L)).as("docs_hit"),
          sum(col("scrubbed_len")).cast("long").as("scrub_len_sum"))
        .orderBy(col("source"))
    },

    // Nearest-centroid cluster assignment over broadcast seed centroids
    // (every 50th vector) through the compiled NearestCells kernel —
    // map-only, ties by smallest centroid id. The oracle recomputes every
    // (vector, centroid) cosine and replays the argmax.
    "emb_cluster_assign" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.assignClusters(emb, "vec_id", "embedding",
          clusterSeeds(emb))
        .orderBy(col("vec_id"))
    },

    // Cluster-balanced cap (DataComp/DCLM-style curation): first 20
    // members per cluster in id order; one shuffle shared by the window
    // and the audit agg.
    "pipeline_cluster_balance" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.clusterBalance(emb, "vec_id", "embedding",
          clusterSeeds(emb), cap = 20)
        .orderBy(col("cluster_id"))
    },

    // Margin-based bitext/pair mining between the label-0 and label-1
    // embedding sets (Artetxe & Schwenk 2019 "max" strategy, k=4):
    // cosine normalized by the two sides' top-k neighborhood means, best
    // margin per source kept when it clears 1.02. Decimal-exact top-k
    // means make every margin bit-identical to the oracle.
    "emb_bitext_margin" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.marginPairs(
          emb.filter(col("label") === 0 && col("vec_id") < 400),
          emb.filter(col("label") === 1 && col("vec_id") < 400),
          "vec_id", "embedding", k = 4, threshold = 1.02)
        .orderBy(col("src_id"))
    },

    // Flesch Reading Ease (Flesch 1948) — the readability dimension of
    // edu-quality filters. Words/sentences/syllables are exact BIGINTs
    // (marker-diff counting), the formula is the identical
    // left-associated IEEE expression in both engines, so per-doc scores
    // and the threshold buckets are bit-exact with no decimal detour.
    "text_readability" -> { (s, d) =>
      val fre = TextAnalysis.fleschEase(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          TextAnalysis.syllableCount(col("text")).as("n_syllables"),
          TextAnalysis.sentenceCount(col("text")).as("n_sentences"),
          round(fre, 4).as("fre_r"),
          when(fre >= 60, "easy").when(fre >= 30, "standard")
            .otherwise("hard").as("bucket"))
        .orderBy(col("doc_id"))
    },

    // Chat/SFT-format statistics: each doc becomes a deterministic
    // multi-turn conversation (2-4 alternating user/assistant turns
    // carved from its tokens), serialized to REAL JSON, parsed back with
    // from_json, exploded, and validated — the structural pass every
    // SFT-data pipeline runs (turn counts, role-alternation check,
    // per-role token counts, trainable-token fraction for the loss
    // mask). The oracle never parses JSON: it derives every statistic
    // analytically from the chunk-size arithmetic, so the whole
    // build-serialize-parse-explode path is verified, not replayed.
    "pipeline_chat_stats" -> { (s, d) =>
      import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
      val toks = split(TextAnalysis.normText(col("text")), " ")
      val conv = t(s, d, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("k", (lit(2) + col("doc_id") % 3).cast("int"))
        .withColumn("base", expr("n div k"))
        .withColumn("rem", expr("n % k"))
        .withColumn("turns", transform(
          sequence(lit(0), col("k") - 1),
          i => struct(
            when(i % 2 === 0, "user").otherwise("assistant").as("role"),
            array_join(slice(col("toks"),
              (i * col("base") + least(i, col("rem")) + 1).cast("int"),
              (col("base") + when(i < col("rem"), 1).otherwise(0)).cast("int")),
              " ").as("content"))))
        .select(col("doc_id"), to_json(col("turns")).as("conv_json"))
      val schema = ArrayType(StructType(Seq(
        StructField("role", StringType), StructField("content", StringType))))
      val parsed = conv
        .select(col("doc_id"), from_json(col("conv_json"), schema).as("turns"))
        .select(col("doc_id"), size(col("turns")).as("n_turns"),
          posexplode(col("turns")).as(Seq("pos", "turn")))
      parsed
        .groupBy(col("doc_id"), col("n_turns"))
        .agg(
          min(col("turn.role") ===
            when(col("pos") % 2 === 0, "user").otherwise("assistant"))
            .as("roles_ok"),
          sum(when(col("turn.role") === "user",
            TextAnalysis.tokenCount(col("turn.content"))).otherwise(0L))
            .as("user_tokens"),
          sum(when(col("turn.role") === "assistant",
            TextAnalysis.tokenCount(col("turn.content"))).otherwise(0L))
            .as("asst_tokens"))
        .select(col("doc_id"), col("n_turns"), col("roles_ok"),
          col("user_tokens"), col("asst_tokens"),
          round(col("asst_tokens").cast("double") /
            (col("user_tokens") + col("asst_tokens")), 4).as("trainable_frac"))
        .orderBy(col("doc_id"))
    },

    // Embedding-space outlier audit (junk/garbled-content detection):
    // a vector whose best cosine against EVERY cluster centroid stays
    // low sits in no semantic neighborhood — the embedding analogue of
    // the text-quality filters. Reuses the compiled cluster routing
    // (map-only); the 4dp-rounded cosine makes the threshold compare
    // engine-exact.
    "emb_outlier_flags" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.assignClusters(emb, "vec_id", "embedding",
          clusterSeeds(emb))
        .withColumn("is_outlier", col("cosine") < 0.15)
        .orderBy(col("vec_id"))
    },

    // Curriculum ordering (easy-first interleave): docs bucket by Flesch
    // readability, rank within bucket, and the training order round-robins
    // the buckets by rank — positions assigned by the partition-offset
    // GlobalIds operator (the composition is the point: a curriculum
    // shuffle at 100 TB needs the scale-correct id assignment, not a
    // global window). The oracle replays the order as the naive global
    // ROW_NUMBER; sum(pos) pins every position.
    "pipeline_curriculum" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
      val fre = TextAnalysis.fleschEase(col("text"))
      val ranked = t(s, d, "documents")
        .select(col("doc_id"),
          when(fre >= 60, "easy").when(fre >= 30, "standard")
            .otherwise("hard").as("bucket"))
        .withColumn("r", row_number().over(w))
      GlobalIds.assign(ranked, Seq(col("r"), col("bucket")), "pos",
          partitions = 8)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("pos")).as("min_pos"),
          max(col("pos")).as("max_pos"),
          sum(col("pos")).as("sum_pos"))
        .orderBy(col("bucket"))
    },

    // Pointwise mutual information between marker terms and sources —
    // the feature-selection table under every hashed-feature quality
    // classifier (which terms characterize which source). One corpus
    // scan (terms explode from an array literal), then two windows over
    // the 6x20-row frame derive n_t / N; no collect, no cross join.
    // ln() of a ratio of exact-integer-derived doubles is
    // bit-reproducible cross-engine at the 6dp rounding.
    "profile_term_pmi" -> { (s, d) =>
      val terms = Seq("table", "query", "window", "spark", "data", "customer")
      val padded = concat(lit(" "), TextAnalysis.normText(col("text")), lit(" "))
      val cells = t(s, d, "documents")
        .select(col("source"), padded.as("pt"))
        .select(col("source"), explode(array(terms.map(tm =>
          struct(lit(tm).as("term"),
            (instr(col("pt"), s" $tm ") > 0).as("has"))): _*)).as("c"))
        .groupBy(col("c.term").as("term"), col("source"))
        .agg(sum(when(col("c.has"), 1L).otherwise(0L)).as("n_ts"),
          count(lit(1)).as("n_s"))
      val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      cells
        .withColumn("n_t", sum(col("n_ts")).over(wTerm))
        .withColumn("n", sum(col("n_s")).over(wTerm))
        .select(col("term"), col("source"), col("n_ts"),
          when(col("n_ts") === 0, lit(null).cast("double"))
            .otherwise(round(log(
              (col("n_ts").cast("double") * col("n")) /
                (col("n_t") * col("n_s"))), 6)).as("pmi_r"))
        .orderBy(col("term"), col("source"))
    },

    // Two-sample Kolmogorov-Smirnov distance between quality-score
    // distributions — the distribution-drift statistic a pipeline
    // monitors between sources/snapshots. ECDFs evaluated on the merged
    // distinct-score grid (a bounded aggregate: quality is 4dp in [0,1]),
    // D = max |F1 - F2| with the smallest argmax score as witness. All
    // fractions are exact-integer divisions — bit-identical cross-engine.
    "profile_ks_drift" -> { (s, d) =>
      // r19 (guide §1.2): ONE corpus qualityScore pass instead of three.
      // Every KS block's left/right predicates are functions of `source`
      // alone, so the blocks all reduce over a pinned (q, source) count
      // grid — bounded by construction (4dp scores × #sources), the same
      // reference-grid shape the streaming drift monitors pin. Summing
      // the grid's per-(q, source) counts under the same predicates is
      // exactly the former per-doc count (integer sums, any order).
      val grid = t(s, d, "documents")
        .select(col("source"), TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("q"), col("source")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      def ks(label: String, left: Column, right: Column): DataFrame = {
        val u = grid.filter(left || right)
          .groupBy(col("q"))
          .agg(sum(when(left, col("n")).otherwise(0L)).as("c1"),
            sum(when(right, col("n")).otherwise(0L)).as("c2"))
        Profile.ksStatistic(u)
          .select(lit(label).as("pair"), col("ks_d"), col("argmax_q"))
      }
      ks("src0|src1", col("source") === "src0", col("source") === "src1")
        .unionByName(ks("src0|src19",
          col("source") === "src0", col("source") === "src19"))
        .unionByName(ks("low|high",
          regexp_extract(col("source"), "src(\\d+)", 1).cast("int") < 10,
          regexp_extract(col("source"), "src(\\d+)", 1).cast("int") >= 10))
        .orderBy(col("pair"))
    },

    // The IVF-funnel bitext miner on SEPARABLE data — the production
    // setting (true translation pairs are embedding near-duplicates,
    // far above the noise floor): each source vector gets a planted
    // translation (a 0.95/0.05 blend with its neighbor), and the
    // cell-bucketed candidate join + candidate-set margins must recover
    // the full planted alignment with no false pairs (measured exact at
    // every SF with nProbe=4 of 16 cells). On NON-separable isotropic
    // noise the margin band near 1.0 is statistically fragile — that
    // regime is the exact operator's (emb_bitext_margin's) job; the
    // funnel gate proves the scale path finds what is actually there.
    "emb_bitext_margin_engine" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val src = emb.filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val next = emb.select((col("vec_id") - 1).as("vec_id"),
        col("embedding").cast("array<double>").as("nv"))
      val tgt = src.join(next, "vec_id")
        .select((col("vec_id") + 10000L).as("vec_id"),
          zip_with(col("embedding"), col("nv"),
            (a, b) => a * 0.95 + b * 0.05).as("embedding"))
      Similarity.marginPairsIvf(src, tgt, "vec_id", "embedding",
          k = 4, threshold = 1.1,
          centroids = hybridCentroidsFor(s, d), nProbe = 4)
        .select(col("src_id"), col("tgt_id"))
        .orderBy(col("src_id"))
    },

    // Vocabulary coverage curve (tokenizer/vocab sizing): cumulative
    // token-mass coverage of the top-k terms — the Zipf-head curve a
    // vocab-size decision reads. Top-k is a TakeOrderedAndProject (never
    // a global sort), the corpus total is a 1-row broadcast, and the
    // cumulative window runs over the LIMITED k-row frame only. Exact
    // integer fractions; the oracle replays the whole curve.
    "text_vocab_coverage" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("term"))
      val toks = t(s, d, "documents")
        .select(explode(split(TextAnalysis.normText(col("text")), " "))
          .as("term"))
        .filter(length(col("term")) > 0)
      val top = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(20)
      val total = toks.agg(count(lit(1)).as("total"))
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_frac",
          round(sum(col("cnt")).over(
            w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            / col("total"), 6))
        .select(col("rank"), col("term"), col("cnt"), col("cum_frac"))
        .orderBy(col("rank"))
    },

    // PCA whitening (Su et al. 2021): project to the top-8 variance
    // directions and scale each by 1/sqrt(lambda) — the post-processing
    // that repairs anisotropic embedding spaces before cosine retrieval.
    // The gate verifies the TRANSFORM'S DEFINING PROPERTY end-to-end:
    // the whitened covariance must be the identity (unit diagonal up to
    // the (n-1)/n sample factor, ~zero off-diagonals). Verdict
    // tolerances sit orders of magnitude above float noise, so the
    // booleans are partition-stable; the training sample covers the
    // whole fixture corpus at every SF, making the property exact.
    "emb_whitening" -> { (s, d) =>
      val k = 8
      val emb = t(s, d, "embeddings")
      val (mean, comps, eig) = Similarity.trainPcaWhitening(
        emb, "vec_id", "embedding", outDim = k)
      val w = Similarity.whitenProject(emb, "vec_id", "embedding",
        mean, comps, eig)
      def el(i: Int) = element_at(col("embedding"), i + 1)
      val aggExprs =
        (for { i <- 0 until k; j <- i until k }
          yield avg(el(i) * el(j)).as(s"m_${i}_$j")) ++
          (0 until k).map(i => avg(el(i)).as(s"a_$i"))
      val pairs = for { i <- 0 until k; j <- i until k } yield {
        val cov = col(s"m_${i}_$j") - col(s"a_$i") * col(s"a_$j")
        val ok =
          if (i == j) abs(cov - 1.0) <= 0.02 else abs(cov) <= 0.005
        struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj"), ok.as("ok"))
      }
      w.agg(aggExprs.head, aggExprs.tail: _*)
        .select(explode(array(pairs: _*)).as("p"))
        .select(col("p.di").as("di"), col("p.dj").as("dj"),
          col("p.ok").as("ok"))
        .orderBy(col("di"), col("dj"))
    },

    // Per-dimension embedding statistics — the dead/rogue-dimension QA
    // audit an embedding pipeline runs on every model swap (a dimension
    // with ~zero variance wastes index bytes; one with outsized variance
    // dominates unnormalized distances). One posexplode, exact decimal
    // sums (squares rounded to 8dp first — the Entropy pattern — so the
    // variance is bit-identical on any partitioning and to the oracle's
    // replay), flags computed on the ROUNDED values.
    "emb_dim_stats" -> { (s, d) =>
      val n = count(lit(1))
      val sx = sum(col("v").cast("decimal(18,8)")).cast("double")
      val sx2 = sum(round(col("v") * col("v"), 8).cast("decimal(18,8)"))
        .cast("double")
      t(s, d, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(n.as("n"),
          round(sx / n, 6).as("mean_r"),
          round((sx2 - sx * sx / n) / (n - 1), 6).as("var_r"))
        .withColumn("dead", col("var_r") < 0.0001)
        .withColumn("rogue", col("var_r") > 1.0)
        .orderBy(col("dim"))
    },

    // Streaming cluster-balanced admission (the online DataComp cap):
    // embedding batches land in order; each routes through the compiled
    // centroid kernel and admits per cluster only up to cap 25 minus
    // earlier batches' admissions — the cap state is a #clusters-sized
    // driver map. The oracle replays the assignment AND the cumulative
    // admission arithmetic per (batch, cluster).
    "stream_cluster_route" -> { (s, d) =>
      val (landing, ckpt) = docBatchLandingFor(s, d, "cluster_route", lit(true),
        table = "embeddings", idCol = "vec_id")
      val emb = t(s, d, "embeddings")
      graft.streaming.EventStream.clusterRouteApply(s, landing,
          clusterSeeds(emb), cap = 25, ckpt)
        .orderBy(col("batch_id"), col("cluster_id"))
    },

    // PMI collocation mining (the word2phrase/collocation-extraction
    // step of phrase-aware tokenization): bigram PMI over positional
    // unigram/bigram probabilities, min-count 30, top-15 ranked on the
    // ROUNDED score (ties by words) so the cut is engine-exact. One
    // bigram explode; unigram table and the two totals broadcast.
    "text_collocations" -> { (s, d) =>
      val toks = split(TextAnalysis.normText(col("text")), " ")
      val docs = t(s, d, "documents").select(toks.as("toks"))
        .filter(size(col("toks")) >= 2)
      val uniToks = docs.select(explode(col("toks")).as("w"))
      val uni = uniToks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val nu = uniToks.agg(count(lit(1)).as("nu"))
      val bi = docs.select(explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("x"),
            element_at(col("toks"), i + 1).as("y")))).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
      val b = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      val nb = bi.agg(count(lit(1)).as("nb"))
      b.join(broadcast(uni.select(col("w").as("x"), col("cw").as("cx"))), "x")
        .join(broadcast(uni.select(col("w").as("y"), col("cw").as("cy"))), "y")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .filter(col("cxy") >= 30)
        .withColumn("pmi_r", round(log(
          (col("cxy").cast("double") / col("nb")) /
            ((col("cx").cast("double") / col("nu")) *
              (col("cy").cast("double") / col("nu")))), 6))
        .orderBy(col("pmi_r").desc, col("x"), col("y")).limit(15)
        .select(col("x"), col("y"), col("cxy"), col("pmi_r"))
    },

    // Language-ID confusion matrix: the deterministic marker classifier
    // against the labeled lang column — the audit every langid deploy
    // ships with. The oracle replays the full marker arithmetic joint
    // with the labels.
    "text_lang_confusion" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },

    // Decontaminate-at-ingest: each landed corpus batch is screened for
    // exact 8-gram overlap with the benchmark suite (every 10th doc)
    // before admission — contamination stopped at the door, the
    // placement production pipelines use. The oracle replays every
    // span/batch membership with direct string n-grams; any screening
    // regression shifts a count or an id sum.
    "stream_decontam_gate" -> { (s, d) =>
      val (landing, ckpt) = docBatchLandingFor(s, d, "decontam",
        col("doc_id") % 10 =!= 0)
      val bench = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
      graft.streaming.EventStream.decontamIngestApply(s, landing, bench,
          spanTokens = 8, ckpt)
        .orderBy(col("batch_id"))
    },

    // Streaming per-ingest-batch drift monitor: each of three staged doc
    // batches is KS-tested against the full-corpus quality reference by
    // the foreachBatch loop — the crawl-delivery alerting pass. Every
    // batch's D and witness point must equal the batch replay (oracle:
    // three KS blocks with left = the batch's members, right = the whole
    // corpus), so the streaming monitor is answer-preserving.
    "stream_ks_drift" -> { (s, d) =>
      val (landing, ckpt) = driftLandingFor(s, d)
      val ref = t(s, d, "documents")
        .select(TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("q")).agg(count(lit(1)).as("c2"))
      graft.streaming.EventStream.qualityDriftApply(s, landing, ref, ckpt)
        .orderBy(col("batch_id"))
    },

    // COMPOSED streaming curation — the at-ingest monitors chained into
    // ONE pipeline over the same micro-batches (decontam gate -> URL
    // dedup vs standing index -> KS drift audit -> per-source admission
    // caps), gated on the batch-composed replay: the r10 batch
    // composition gate (pipeline_curate_v2) caught a bug its
    // per-operator gates missed, so the streaming side gets the same
    // treatment. URLs use a corpus-scaled generator (full doc id in the
    // path), NOT messyUrl: that generator's canonical space is 150
    // classes, which a 3-batch split exhausts by batch 1 and the
    // pipeline degenerates (measured: zero survivors past batch 0 at
    // sf0.1). Duplicate url keys are planted instead: doc_id%10==7 maps
    // to the key 151 earlier (a CROSS-batch dup, exercising the
    // standing index), doc_id%10==4 to the key 3 earlier (a WITHIN-batch
    // dup, exercising the keep-first window), and doc_id%10==1 (>=305)
    // to the key 305 earlier — 151%3=1 and 305%3=2, so every key
    // k%10==6 recurs in THREE distinct micro-batches: the 3rd+
    // occurrence is what catches a state index that re-appends
    // already-seen keys (the r11 ADVICE fanout bug was invisible while
    // every url capped at 2 occurrences).
    "stream_curate" -> { (s, d) =>
      // BENCH runs time ONE corpus-sized micro-batch (the deployment
      // shape: larger, fewer triggers) instead of the gate's three-batch
      // split — the 3-batch fixture mostly times checkpoint latency
      // (~4 s/batch of Structured Streaming bookkeeping), not the
      // operator. The correctness gate (Verify) keeps 3 batches: the
      // cross-batch standing-index laws only exist with >= 3.
      val benchMode = sys.props.get("graft.bench").contains("1")
      val (landing, ckpt) =
        if (benchMode) docBatchLandingFor(s, d, "curate_bench",
          col("doc_id") % 10 =!= 0, batchOf = c => lit(0), nBatches = 1)
        else docBatchLandingFor(s, d, "curate",
          col("doc_id") % 10 =!= 0)
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val ref = docs
        .select(TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("q")).agg(count(lit(1)).as("c2"))
      val urlOf: Column => Column = c => {
        val k = when(c % 10 === 7 && c >= 151, c - 151)
          .when(c % 10 === 4, c - 3)
          .when(c % 10 === 1 && c >= 305, c - 305)
          .otherwise(c)
        concat(
          when(k % 3 === 0, lit("HTTP")).when(k % 3 === 1, lit("HTTPS"))
            .otherwise(lit("hTtp")),
          lit("://"),
          when(k % 4 === 0, lit("WWW.")).otherwise(lit("")),
          lit("site"), (k % 5).cast("string"), lit(".Example.COM"),
          when(k % 6 === 1, lit(":443")).otherwise(lit("")),
          lit("/docs/"), k.cast("string"),
          when(k % 2 === 0, lit("/")).otherwise(lit("")),
          when(k % 3 === 0, lit("?utm_source=rss")).otherwise(lit("")))
      }
      graft.streaming.EventStream.curateIngestApply(s, landing, bench, ref,
          urlOf = urlOf, spanTokens = 8, capPerSource = 12, ckpt)
        .orderBy(col("batch_id"), col("source"))
    },

    // Declarative expectation suite over the TPC-H tables (the Deequ
    // architecture: all row-local checks fold into ONE aggregate over ONE
    // scan per table; uniqueness is one hash agg; referential integrity
    // a broadcast/shuffled anti-join — see Expectations.scala). Two
    // checks are deliberately tight so BOTH verdict polarities carry
    // real counts: the 300k price ceiling (thousands of genuine
    // violations) and the million-row floor on lineitem (exact
    // shortfall). All metrics are BIGINT violation counts — hash-exact.
    "profile_expectations" -> { (s, d) =>
      import graft.operators.Expectations._
      val orders = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val lineitem = t(s, d, "lineitem")
      check("orders", orders, Seq(
          NotNull("o_orderkey"),
          Unique(Seq("o_orderkey")),
          InSet("o_orderstatus", Seq("O", "F", "P")),
          InRange("o_totalprice", 0.0, 300000.0),
          MatchesRegex("o_orderpriority", "^[1-5]-[A-Z ]+$"),
          ForeignKey("o_custkey", customer, "c_custkey"),
          RowCountAtLeast(1000)))
        .unionAll(check("lineitem", lineitem, Seq(
          Unique(Seq("l_orderkey", "l_linenumber")),
          InRange("l_quantity", 1.0, 50.0),
          InRange("l_discount", 0.0, 0.1),
          // orders is fact-sized: take the shuffled anti-join leg
          ForeignKey("l_orderkey", orders, "o_orderkey",
            broadcastRef = false),
          RowCountAtLeast(1000000))))
        .orderBy(col("tbl"), col("check_name"))
    },

    // Link-graph centrality, the web-graph quality signal crawl-scale
    // curation attaches to documents (Graph.pageRankFixedPoint). Edges =
    // the per-user page-transition graph mined from the event stream
    // (lag over (ts, event_id) within each user; self-loops dropped);
    // the operator takes the undirected closure. Ranks are BIGINT
    // micro-units computed with integer div/mul only, so the result is
    // bit-identical on any partitioning and the oracle replays all five
    // iterations in integer SQL and hash-compares exactly — no float
    // tolerance anywhere.
    "graph_pagerank" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("page"))
      val edges = ev
        .select(lag(col("page"), 1).over(w).as("src"), col("page").as("dst"))
        .where(col("src").isNotNull && col("src") =!= col("dst"))
      graft.operators.Graph.pageRankFixedPoint(edges, "src", "dst",
          iters = 5)
        .orderBy(col("rank_fp").desc, col("node"))
    },

    // Streaming ingest into the versioned snapshot table: three document
    // micro-batches land as three atomic append commits (txn-stamped),
    // then the WHOLE ingest replays against a fresh checkpoint — the
    // exactly-once verdict pins that the replay recognized its own
    // commits and appended NOTHING (n_versions still 3). The change feed
    // of the middle commit must equal the middle batch exactly; final
    // table content is oracle-replayed from the raw documents table.
    "stream_table_ingest" -> { (s, d) =>
      import graft.sinks.SnapshotTable
      val (landing, ckpt) = docBatchLandingFor(s, d, "table_ingest",
        col("doc_id") % 10 =!= 0)
      val key = d.replaceAll("[^A-Za-z0-9.]", "_")
      val tableDir = s"/tmp/graft_stream/$key/table_ingest/table"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tableDir))
      graft.streaming.EventStream.tableIngestApply(s, landing, tableDir,
        ckpt, appId = "stream_table_ingest")
      val vsFirst = SnapshotTable.versions(s, tableDir).size
      val ckpt2 = ckpt + "_replay"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt2))
      graft.streaming.EventStream.tableIngestApply(s, landing, tableDir,
        ckpt2, appId = "stream_table_ingest")
      val vsSecond = SnapshotTable.versions(s, tableDir).size
      val changes = SnapshotTable.changesSince(s, tableDir, 1L, Some(2L))
        .agg(count(lit(1)).as("changes_n"),
          sum(col("doc_id")).as("changes_sum_id"))
      SnapshotTable.read(s, tableDir)
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          sum(col("n_chars")).as("sum_chars"))
        .crossJoin(changes)
        .withColumn("n_versions", lit(vsFirst.toLong))
        .withColumn("replay_noop", lit(vsSecond == vsFirst))
    },

    // Round-10 operators composed the way a real curation run chains
    // them (the v2 of pipeline_curate_corpus): readability gate ->
    // blocklist scrub -> exact dedup (fingerprint keep-first) -> dense
    // global ids -> per-source audit. One declarative plan: the
    // readability regexes and the Aho-Corasick automaton fuse into the
    // scan, the dedup is one hash aggregation, the ids add one range
    // shuffle — nothing quadratic anywhere.
    "pipeline_curate_v2" -> { (s, d) =>
      val kws = Seq("fast sort key", "table part", "big group",
        "scan slow", "sort key", "table")
      val fre = TextAnalysis.fleschEase(col("text"))
      val scr = graft.functions.AcScrub.scrub(col("text"), kws, "[REDACTED]")
      val kept = t(s, d, "documents")
        .filter(fre >= 30) // drop the 'hard' tail
        .select(col("doc_id"), col("source"),
          scr.getField("n_matches").as("n_matches"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val dedup = kept
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("source"), col("doc_id")).as("source"),
          min_by(col("n_matches"), col("doc_id")).as("n_matches"))
      GlobalIds.assign(dedup, Seq(col("source"), col("doc_id")), "gid",
          partitions = 8)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_matches")).cast("long").as("total_matches"),
          sum(col("gid")).as("sum_gid"))
        .orderBy(col("source"))
    },

    // Streamed near-dup index: the corpus's banded MinHash signatures
    // were appended batch-by-batch by the foreachBatch ingest loop (the
    // MinHash member of the streamed-index trio); serving the standard
    // screening probe against it must equal the direct batch-vs-corpus
    // computation — the same oracle as dedup_incremental_near, so
    // streaming maintenance is proven answer-preserving, not just
    // runnable.
    "stream_minhash_ingest" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val tbl = minhashStreamIndexFor(s, d)
      Dedup.nearDupServe(s, tbl,
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", k = 32, shingleSize = 5, bands = 8,
          threshold = 0.6)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("batch_id"), col("corpus_id"))
        .limit(100)
    })

  /** Seed centroids for the cluster gates: every 50th vector, collected
    * driver-side (bounded: #centroids rows — the K side of k-means). */
  private def clusterSeeds(emb: DataFrame): Seq[(Long, Seq[Double])] =
    emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .toIndexedSeq

  // the distributed-path probe must satisfy the SAME transitive-closure
  // oracle as the union-find path — identical labels is the contract
  /** DuckDB replay of graph_pagerank: rebuild the transition edges, the
    * undirected closure, and all five fixed-point iterations in BIGINT
    * arithmetic (DuckDB `//` floor division == Spark's `div` on the
    * nonnegative values here). The iterations are generated, not
    * hand-unrolled, so the oracle provably applies the SAME recurrence
    * five times. */
  private val PageRankOracleSql: String = {
    def iter(cur: String, prev: String): String =
      s"""$cur AS (
         |  SELECT u.dst AS node,
         |         p.tele + (85 * SUM(r.rank_fp // g.outdeg)) // 100 AS rank_fp
         |  FROM und u
         |  JOIN deg g ON u.src = g.src
         |  JOIN $prev r ON r.node = u.src
         |  CROSS JOIN p
         |  GROUP BY u.dst, p.tele)""".stripMargin
    val its = (1 to 5)
      .map(i => iter(s"i$i", if (i == 1) "r0" else s"i${i - 1}"))
      .mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
       |  FROM events),
       |tr AS (
       |  SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |           AS src,
       |         page AS dst
       |  FROM ev),
       |e0 AS (SELECT DISTINCT src, dst FROM tr
       |       WHERE src IS NOT NULL AND src <> dst),
       |und AS (SELECT src, dst FROM e0
       |        UNION SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM und GROUP BY src),
       |p AS (SELECT 1000000000000 // COUNT(*) AS r0,
       |             (15 * (1000000000000 // COUNT(*))) // 100 AS tele
       |      FROM deg),
       |r0 AS (SELECT src AS node, p.r0 AS rank_fp FROM deg CROSS JOIN p),
       |$its
       |SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp
       |FROM i5 ORDER BY rank_fp DESC, node""".stripMargin
  }

  /** Each expectation's violation count recomputed as independent DuckDB
    * SQL (FILTER counts, HAVING-based duplicate excess, NOT IN for the
    * anti-joins), then the pass verdicts derived from the counts. */
  private val ExpectationsOracleSql: String =
    """WITH raw AS (
      | SELECT 'orders' AS tbl, 'not_null(o_orderkey)' AS check_name,
      |  CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
      |    AS violations FROM orders
      | UNION ALL
      | SELECT 'orders', 'unique(o_orderkey)',
      |  CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
      |  (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
      |   HAVING COUNT(*) > 1)
      | UNION ALL
      | SELECT 'orders', 'in_set(o_orderstatus)',
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
      |    AND o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) FROM orders
      | UNION ALL
      | SELECT 'orders', 'in_range(o_totalprice)',
      |  CAST(COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL
      |    AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)) AS BIGINT)
      |  FROM orders
      | UNION ALL
      | SELECT 'orders', 'matches_regex(o_orderpriority)',
      |  CAST(COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL
      |    AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'))
      |    AS BIGINT) FROM orders
      | UNION ALL
      | SELECT 'orders', 'foreign_key(o_custkey->c_custkey)',
      |  CAST(COUNT(*) AS BIGINT) FROM orders
      |  WHERE o_custkey IS NOT NULL
      |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)
      | UNION ALL
      | SELECT 'orders', 'row_count_at_least(1000)',
      |  CAST(GREATEST(1000 - COUNT(*), 0) AS BIGINT) FROM orders
      | UNION ALL
      | SELECT 'lineitem', 'unique(l_orderkey,l_linenumber)',
      |  CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
      |  (SELECT COUNT(*) AS c FROM lineitem
      |   GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
      | UNION ALL
      | SELECT 'lineitem', 'in_range(l_quantity)',
      |  CAST(COUNT(*) FILTER (WHERE l_quantity IS NOT NULL
      |    AND (l_quantity < 1.0 OR l_quantity > 50.0)) AS BIGINT)
      |  FROM lineitem
      | UNION ALL
      | SELECT 'lineitem', 'in_range(l_discount)',
      |  CAST(COUNT(*) FILTER (WHERE l_discount IS NOT NULL
      |    AND (l_discount < 0.0 OR l_discount > 0.1)) AS BIGINT)
      |  FROM lineitem
      | UNION ALL
      | SELECT 'lineitem', 'foreign_key(l_orderkey->o_orderkey)',
      |  CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  WHERE l_orderkey IS NOT NULL
      |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      | UNION ALL
      | SELECT 'lineitem', 'row_count_at_least(1000000)',
      |  CAST(GREATEST(1000000 - COUNT(*), 0) AS BIGINT) FROM lineitem)
      |SELECT tbl, check_name, violations, violations = 0 AS passed
      |FROM raw ORDER BY tbl, check_name""".stripMargin

  /** Gates whose oracle is, byte for byte, another gate's: the same
    * answer reached by a different path. (gate, gate whose oracle it
    * reuses). */
  private val sharedOracles: Seq[(String, String)] = Seq(
    // the served, incrementally updated and stream-appended BM25 indexes
    // must each reproduce from-scratch BM25 over the whole corpus
    "text_bm25_serve" -> "text_bm25_topk",
    "text_bm25_incremental" -> "text_bm25_topk",
    "stream_bm25_ingest" -> "text_bm25_topk",
    // every ANN tier (JL/PCA/truncated shortlists, IVF, int8, PQ, the
    // persisted and the stream-built index) pins the same deterministic
    // recall verdict
    "ann_rp_topk" -> "ann_lsh_topk",
    "ann_pca_topk" -> "ann_lsh_topk",
    "ann_truncated_topk" -> "ann_lsh_topk",
    "ann_ivf_topk" -> "ann_lsh_topk",
    "ann_int8_topk" -> "ann_lsh_topk",
    "ann_ivf_index_serve" -> "ann_lsh_topk",
    "stream_ivf_ingest" -> "ann_lsh_topk",
    "ann_ivf_int8_topk" -> "ann_lsh_topk",
    "ann_ivf_pq_topk" -> "ann_lsh_topk",
    "ann_ivf_pq_refine" -> "ann_lsh_topk",
    // candidate funnels (minhash-verified UNION exact, the full-recall
    // minhash pairs, embedding LSH) must collapse to exactly the exact
    // answer; the bloom prefilter + exact confirm returns exactly the
    // exact-join contamination answer
    "dedup_minhash_precision" -> "dedup_ngram_jaccard",
    "dedup_minhash_pairs" -> "dedup_ngram_jaccard",
    "dedup_embedding_lsh" -> "dedup_embedding_cosine",
    "pipeline_bloom_decontam" -> "pipeline_contamination_ngram")

  def oracles: Map[String, String] =
    baseOracles ++ sharedOracles.map { case (g, src) => g -> baseOracles(src) } +
      ("dedup_clusters_dist" -> baseOracles("dedup_clusters")) +
      ("graph_pagerank" -> PageRankOracleSql) +
      ("profile_expectations" -> ExpectationsOracleSql) +
      ("stream_table_ingest" ->
        """WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 <> 0)
          |SELECT COUNT(*) AS n,
          | CAST(SUM(doc_id) AS BIGINT) AS sum_id,
          | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          | (SELECT COUNT(*) FROM docs WHERE doc_id % 3 = 2) AS changes_n,
          | (SELECT CAST(SUM(doc_id) AS BIGINT) FROM docs
          |   WHERE doc_id % 3 = 2) AS changes_sum_id,
          | CAST(3 AS BIGINT) AS n_versions,
          | TRUE AS replay_noop
          |FROM docs""".stripMargin) +
      // the ensemble decision composes the three component oracles as
      // subqueries — each is individually gate-proven, so a mismatch
      // here isolates to the composition itself
      // tercile cuts + assignment over the gate-proven KN replay (the
      // q21/dataset-card gates pin percentile == quantile_cont; both
      // sides round cuts to 6dp over round-4 ppl)
      ("pipeline_ppl_buckets" ->
        s"""WITH k AS (${baseOracles("text_kn_bigram")}),
           |j AS (SELECT k.doc_id, d.lang, k.ppl
           |      FROM k JOIN documents d USING (doc_id)),
           |c AS (SELECT lang,
           |        ROUND(quantile_cont(ppl, 0.3333333333333333), 6) AS t1,
           |        ROUND(quantile_cont(ppl, 0.6666666666666666), 6) AS t2
           |      FROM j GROUP BY lang)
           |SELECT j.doc_id, j.lang, j.ppl,
           | CASE WHEN j.ppl <= c.t1 THEN 'head'
           |      WHEN j.ppl <= c.t2 THEN 'middle' ELSE 'tail' END AS bucket
           |FROM j JOIN c USING (lang) ORDER BY j.doc_id""".stripMargin) +
      ("pipeline_quality_ensemble" ->
        s"""SELECT a.doc_id, a.keep AS cls_keep,
           | g.rep_token_frac <= 0.6 AS rep_ok,
           | g.mean_word_len >= 3.0 AND g.mean_word_len <= 10.0 AS len_ok,
           | k.ppl <= 36.0 AS ppl_ok,
           | (a.keep AND g.rep_token_frac <= 0.6
           |  AND g.mean_word_len >= 3.0 AND g.mean_word_len <= 10.0
           |  AND k.ppl <= 36.0) AS keep_final
           |FROM (${baseOracles("text_quality_classifier")}) a
           |JOIN (${baseOracles("text_gopher_quality")}) g USING (doc_id)
           |JOIN (${baseOracles("text_kn_bigram")}) k USING (doc_id)
           |ORDER BY a.doc_id""".stripMargin)

  /** Shingle-Jaccard pairs of the first 100 docs (5-char shingles of
    * whitespace-normalized text, Jaccard >= 0.25) and their transitive
    * closure `reach(u, v)` by recursive CTE: the cluster replay the
    * dedup_clusters, pipeline_leakfree_split and dedup_keep_* oracles
    * continue from (each appends its own tail). */
  private val ClusterClosureCtes: String =
    """WITH RECURSIVE n AS (
      | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
      | FROM documents WHERE doc_id < 100),
      |s AS (
      | SELECT DISTINCT doc_id, substr(t, i.i, 5) AS g
      | FROM n, generate_series(1, 600) i(i)
      | WHERE i.i <= GREATEST(length(t) - 4, 1)),
      |ds AS (SELECT doc_id, COUNT(*) AS nsh FROM s GROUP BY 1),
      |ip AS (
      | SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      | FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |p AS (
      | SELECT a_id, b_id FROM ip
      | JOIN ds na ON na.doc_id = a_id
      | JOIN ds nb ON nb.doc_id = b_id
      | WHERE inter / (na.nsh + nb.nsh - inter) >= 0.25),
      |und AS (SELECT a_id AS u, b_id AS v FROM p UNION SELECT b_id, a_id FROM p),
      |reach(u, v) AS (
      | SELECT u, v FROM und
      | UNION
      | SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u)""".stripMargin

  /** CTEs n and s: each document's quality score `q` (the Spark
    * qualityScore replay), keyed by `key` — the grid the KS-drift oracles
    * compare distributions over. */
  private def qualityScoreCtes(key: String): String =
    s"""WITH n AS (
       | SELECT $key, text,
       |  regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
       | FROM documents),
       |s AS (
       | SELECT $key,
       |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |   ROUND(
       |    LEAST(1.0, (CASE WHEN length(t) = 0 THEN 0
       |                ELSE length(t) - length(translate(t, ' ', '')) + 1 END) / 50.0)
       |    * (1.0 - (length(text) - length(translate(text, '.,;:!?', ''))) / length(text))
       |    * (1.0 - (length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))) / length(text)),
       |   4) END AS q
       | FROM n)""".stripMargin

  /** The two-sample KS core of the drift oracles: `counts` selects
    * (q, c1, c2) per grid value; both CDFs run over q and the rows rank
    * by |F1 - F2| (ties to the lowest q), so `rn = 1` is the statistic
    * and its argmax. */
  private def ksRanked(counts: String): String =
    """  ROW_NUMBER() OVER (ORDER BY abs(f1 - f2) DESC, q) AS rn
      | FROM (
      |  SELECT q,
      |   SUM(c1) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
      |    / SUM(c1) OVER () AS f1,
      |   SUM(c2) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
      |    / SUM(c2) OVER () AS f2
      |  FROM (
      |""".stripMargin + counts + """)))
      |WHERE rn = 1""".stripMargin

  private def baseOracles: Map[String, String] = Map(
    "text_stats" ->
      """WITH n AS (SELECT doc_id, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS t FROM documents)
        |SELECT doc_id,
        | CAST(CASE WHEN length(t) = 0 THEN 0
        |      ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT) AS n_tokens,
        | length(text) AS n_chars_m,
        | md5(t) AS fp,
        | CAST(length(text) - length(translate(text, '.,;:!?', '')) AS BIGINT) AS n_punct
        |FROM n""".stripMargin,

    "pipeline_sample_mix" ->
      """WITH s AS (
        | SELECT source, doc_id, substr(md5(text), 1, 4) AS b FROM documents)
        |SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc
        |FROM s
        |WHERE b < CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
        |               WHEN 'src2' THEN '4000' ELSE '1999' END
        |GROUP BY source""".stripMargin,

    // Replays the temperature-mix pipeline end-to-end: source counts,
    // round-8dp powers summed as exact DECIMAL (order-independent
    // normalizer), fixed-association double rates, floor thresholds,
    // and the md5-bucket kept set.
    "pipeline_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |p AS (SELECT source, n, CAST(ROUND(pow(n, 0.5), 8) AS DECIMAL(28,8)) AS p FROM c),
        |tt AS (SELECT SUM(p) AS tot FROM p),
        |r AS (
        | SELECT source,
        |  FLOOR(LEAST(1.0,
        |    300.0 * CAST(p AS DOUBLE) / CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)) * 65536) AS cut
        | FROM p CROSS JOIN tt),
        |s AS (
        | SELECT d.source, d.doc_id FROM documents d JOIN r USING (source)
        | WHERE CAST('0x' || substr(md5(d.text), 1, 4) AS UBIGINT) < cut)
        |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    // split thresholds: floor(0.8*65536)=0xcccc, floor(0.9*65536)=0xe666
    "pipeline_split" ->
      """WITH b AS (
        | SELECT source, doc_id,
        |  CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
        |       WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |SELECT source, split, COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM b GROUP BY 1, 2""".stripMargin,

    // Replays the full Efraimidis-Spirakis trajectory: the same 52-bit
    // md5 uniform, the same ln(u)/w key, the same top-50. Key gaps are
    // orders of magnitude above cross-engine libm ulp differences, so
    // the selected set is deterministic.
    "pipeline_weighted_sample" ->
      """WITH k AS (
        | SELECT doc_id, GREATEST(length(text), 1) AS w,
        |  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 13) AS UBIGINT) + 0.5)
        |    / 4503599627370496.0 AS u
        | FROM documents),
        |s AS (
        | SELECT doc_id, w, ln(u) / w AS es_key FROM k
        | ORDER BY es_key DESC, doc_id LIMIT 50)
        |SELECT doc_id, CAST(w AS BIGINT) AS w FROM s ORDER BY doc_id""".stripMargin,

    // Same E-S key, ranked within each source partition.
    "pipeline_weighted_stratum" ->
      """WITH k AS (
        | SELECT source, doc_id, GREATEST(length(text), 1) AS w,
        |  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 13) AS UBIGINT) + 0.5)
        |    / 4503599627370496.0 AS u
        | FROM documents),
        |r AS (
        | SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY ln(u) / w DESC, doc_id) AS rn
        | FROM k)
        |SELECT source, doc_id FROM r WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin,

    // Identical ROWS-frame prefix sum in hash order; the CASE mirrors the
    // per-stratum budget when-chain.
    "pipeline_mixture_budget" ->
      """WITH n AS (
        | SELECT doc_id, source, text,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, source, substr(md5(text), 1, 4) AS bkt,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |       ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT)
        |   AS n_tok
        | FROM n),
        |c AS (
        | SELECT doc_id, source, n_tok,
        |  SUM(n_tok) OVER (PARTITION BY source ORDER BY bkt, doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM s),
        |k AS (
        | SELECT * FROM c
        | WHERE cum - n_tok < CASE source WHEN 'src0' THEN 2000
        |                                 WHEN 'src1' THEN 1000
        |                                 WHEN 'src2' THEN 500 ELSE 300 END)
        |SELECT source, COUNT(*) AS n_docs, CAST(MAX(cum) AS BIGINT) AS n_tokens,
        | MIN(doc_id) AS first_doc
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_chunk_docs" ->
      """WITH n AS (
        | SELECT doc_id,
        |  string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |c AS (
        | SELECT doc_id, toks, len(toks) AS n,
        |  GREATEST(CAST(CEIL((len(toks) - 16) / 48.0) AS BIGINT), 1) AS nc
        | FROM n),
        |e AS (
        | SELECT doc_id, toks, n, unnest(generate_series(0, nc - 1)) AS chunk_idx
        | FROM c)
        |SELECT doc_id, chunk_idx,
        | LEAST(64, n - chunk_idx * 48) AS n_chunk_tokens,
        | md5(array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_md5
        |FROM e""".stripMargin,

    // BM25 ranking replayed via the shared CTE chain; gold = per-query
    // AND-of-contains over padded normalized text; each DCG/IDCG term
    // rounds 6dp into an exact DECIMAL sum, finals round 6dp after one
    // double division — term-identical to the Spark side.
    "retrieval_metrics" ->
      s"""WITH ${bm25Ctes(10)},
         |norm AS (
         | SELECT doc_id,
         |  ' ' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') || ' ' AS t
         | FROM documents),
         |gold AS (
         | SELECT 0 AS query_id, doc_id FROM norm
         |  WHERE contains(t, ' customer ') AND contains(t, ' order ') AND contains(t, ' window ')
         | UNION ALL SELECT 1, doc_id FROM norm
         |  WHERE contains(t, ' vector ') AND contains(t, ' hash ') AND contains(t, ' join ')
         | UNION ALL SELECT 2, doc_id FROM norm
         |  WHERE contains(t, ' stream ') AND contains(t, ' filter ')
         |   AND contains(t, ' sort ') AND contains(t, ' merge ')
         | UNION ALL SELECT 3, doc_id FROM norm
         |  WHERE contains(t, ' spark ') AND contains(t, ' query ') AND contains(t, ' scan ')),
         |g AS (SELECT query_id, COUNT(*) AS n_gold FROM gold GROUP BY 1),
         |h AS (SELECT l.query_id, l.rank
         |      FROM lex l JOIN gold USING (query_id, doc_id) WHERE l.rank <= 10),
         |pq AS (SELECT query_id, COUNT(*) AS n_hits, MIN(rank) AS first_hit,
         |        SUM(CAST(ROUND(1.0 / log2(rank + 1), 6) AS DECIMAL(18,6))) AS dcg
         |       FROM h GROUP BY 1),
         |i AS (SELECT query_id,
         |        SUM(CAST(ROUND(1.0 / log2(i + 1), 6) AS DECIMAL(18,6))) AS idcg
         |      FROM (SELECT query_id, unnest(generate_series(1, LEAST(n_gold, 10))) AS i FROM g)
         |      GROUP BY 1)
         |SELECT g.query_id, g.n_gold, COALESCE(pq.n_hits, 0) AS n_hits,
         | ROUND(CAST(COALESCE(pq.n_hits, 0) AS DOUBLE) / g.n_gold, 6) AS recall_k,
         | ROUND(COALESCE(1.0 / pq.first_hit, 0), 6) AS mrr,
         | ROUND(COALESCE(CAST(pq.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 0), 6) AS ndcg_k
         |FROM g JOIN i USING (query_id) LEFT JOIN pq USING (query_id)
         |ORDER BY g.query_id""".stripMargin,

    "dedup_cross_source" ->
      """WITH rep AS (
        | SELECT doc_id + 1000000 AS doc_id, text,
        |  'src' || CAST((doc_id + 7) % 20 AS VARCHAR) AS source
        | FROM documents WHERE doc_id % 13 = 0),
        |all_docs AS (
        | SELECT doc_id, text, source FROM documents
        | UNION ALL SELECT doc_id, text, source FROM rep),
        |f AS (
        | SELECT DISTINCT source,
        |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        | FROM all_docs)
        |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Line decoration, page assembly, per-(page, line) occurrence
    // counts, all four fractions and the keep thresholds replayed.
    "text_line_quality" ->
      """WITH dec AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'subscribe to our newsletter for updates today'
        |       WHEN doc_id % 7 = 2 THEN text || '...'
        |       WHEN doc_id % 13 = 3 THEN '- ' || text
        |       ELSE text END AS line
        | FROM documents),
        |pages AS (
        | SELECT CAST(doc_id // 4 AS BIGINT) AS page_id,
        |        string_agg(line, chr(10) ORDER BY doc_id) AS text
        | FROM dec GROUP BY 1),
        |raw AS (SELECT page_id, unnest(string_split(text, chr(10))) AS r FROM pages),
        |n AS (SELECT page_id, regexp_replace(trim(r), '\s+', ' ', 'g') AS ln FROM raw),
        |pl AS (
        | SELECT page_id, ln, COUNT(*) AS cnt, length(ln) AS len,
        |  CASE WHEN ln LIKE '%...' OR ln LIKE '%…' THEN 1 ELSE 0 END AS is_e,
        |  CASE WHEN ln LIKE '- %' OR ln LIKE '* %' OR ln LIKE '• %' THEN 1 ELSE 0 END AS is_b
        | FROM n GROUP BY page_id, ln),
        |agg AS (
        | SELECT page_id, SUM(cnt) AS n_lines, SUM(cnt * len) AS n_chars,
        |  SUM(cnt - 1) AS n_dup, SUM((cnt - 1) * len) AS n_dupc,
        |  SUM(cnt * is_e) AS n_e, SUM(cnt * is_b) AS n_b
        | FROM pl GROUP BY 1)
        |SELECT page_id, CAST(n_lines AS BIGINT) AS n_lines,
        | ROUND(CAST(n_dup AS DOUBLE) / n_lines, 4) AS dup_line_frac,
        | ROUND(CAST(n_dupc AS DOUBLE) / GREATEST(n_chars, 1), 4) AS dup_char_frac,
        | ROUND(CAST(n_e AS DOUBLE) / n_lines, 4) AS ellipsis_frac,
        | ROUND(CAST(n_b AS DOUBLE) / n_lines, 4) AS bullet_frac,
        | (ROUND(CAST(n_dup AS DOUBLE) / n_lines, 4) <= 0.2
        |  AND ROUND(CAST(n_dupc AS DOUBLE) / GREATEST(n_chars, 1), 4) <= 0.2
        |  AND ROUND(CAST(n_e AS DOUBLE) / n_lines, 4) <= 0.2
        |  AND ROUND(CAST(n_b AS DOUBLE) / n_lines, 4) <= 0.9) AS keep_doc
        |FROM agg ORDER BY page_id""".stripMargin,

    // Same RE2 strip chain replayed: script/style/comment blocks, tags,
    // the five entities (ampersand last), whitespace collapse.
    "text_html_strip" ->
      """WITH h AS (
        | SELECT doc_id,
        |  '<html><head><title>Doc </title>' ||
        |  '<style>body { color: #fff; }</style>' ||
        |  '<script>var x = 1 && 2; if (x < 3) alert(''hi'');</script>' ||
        |  '</head><body><!-- crawler note --><h1>Page ' || CAST(doc_id AS VARCHAR) ||
        |  '</h1><p>' || text ||
        |  '</p><br/><div class="foot">&amp; more &lt;tags&gt; &quot;quoted&quot; &#39;s</div></body></html>'
        |   AS html
        | FROM documents),
        |s AS (
        | SELECT doc_id, html,
        |  regexp_replace(trim(
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |     regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'),
        |    '&amp;', '&', 'g')), '\s+', ' ', 'g') AS stripped
        | FROM h)
        |SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_html,
        | CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
        | CAST(length(stripped) AS BIGINT) AS n_chars_text,
        | md5(stripped) AS text_md5
        |FROM s ORDER BY doc_id""".stripMargin,

    // Entropy terms replayed bit-for-bit: identical double division +
    // log2, round-8 into DECIMAL(18,8), decimal-space negation (no -0.0)
    "text_entropy" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS tn
        | FROM documents),
        |cs AS (SELECT doc_id, unnest(string_split(tn, '')) AS s FROM n),
        |cc AS (SELECT doc_id, s, COUNT(*) AS cnt FROM cs WHERE len(s) > 0 GROUP BY 1, 2),
        |ctot AS (SELECT doc_id, SUM(cnt) AS n FROM cc GROUP BY 1),
        |ch AS (
        | SELECT cc.doc_id, CAST(ANY_VALUE(ctot.n) AS BIGINT) AS n_chars_h,
        |  CAST(ROUND(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) / ctot.n
        |    * log2(CAST(cnt AS DOUBLE) / ctot.n), 8) AS DECIMAL(18,8))) * -1, 6) AS DOUBLE)
        |   AS char_entropy
        | FROM cc JOIN ctot USING (doc_id) GROUP BY cc.doc_id),
        |ts AS (SELECT doc_id, unnest(string_split(tn, ' ')) AS s FROM n),
        |tc AS (SELECT doc_id, s, COUNT(*) AS cnt FROM ts WHERE len(s) > 0 GROUP BY 1, 2),
        |ttot AS (SELECT doc_id, SUM(cnt) AS n FROM tc GROUP BY 1),
        |th AS (
        | SELECT tc.doc_id, CAST(ANY_VALUE(ttot.n) AS BIGINT) AS n_tokens_h,
        |  CAST(ROUND(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) / ttot.n
        |    * log2(CAST(cnt AS DOUBLE) / ttot.n), 8) AS DECIMAL(18,8))) * -1, 6) AS DOUBLE)
        |   AS token_entropy
        | FROM tc JOIN ttot USING (doc_id) GROUP BY tc.doc_id)
        |SELECT d.doc_id,
        | COALESCE(ch.n_chars_h, 0) AS n_chars_h,
        | COALESCE(ch.char_entropy, 0.0) AS char_entropy,
        | COALESCE(th.n_tokens_h, 0) AS n_tokens_h,
        | COALESCE(th.token_entropy, 0.0) AS token_entropy
        |FROM documents d LEFT JOIN ch USING (doc_id) LEFT JOIN th USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "pipeline_time_split" ->
      """WITH s AS (
        | SELECT event_id, event_type, value,
        |  CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |       WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-23 00:00:00' THEN 'test'
        |       ELSE 'embargo' END AS split
        | FROM events)
        |SELECT split, event_type, COUNT(*) AS n,
        | MIN(event_id) AS first_event,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Laplace inverse CDF replayed on the same 52-bit md5 uniform.
    "pipeline_dp_counts" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_true FROM documents GROUP BY 1),
        |n AS (
        | SELECT source, n_true,
        |  (CAST('0x' || substr(md5(source || ':graft-r9'), 1, 13) AS UBIGINT) + 0.5)
        |    / 4503599627370496.0 AS u
        | FROM c)
        |SELECT source, n_true,
        | ROUND(n_true + (-1.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
        |  AS dp_count
        |FROM n ORDER BY source""".stripMargin,

    "profile_key_skew" ->
      """WITH c AS (
        | SELECT CAST(l_orderkey AS BIGINT) AS k, COUNT(*) AS cnt
        | FROM lineitem GROUP BY 1),
        |s AS (
        | SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  MAX(cnt) AS max_cnt,
        |  quantile_cont(cnt, 0.5) AS p50_raw,
        |  quantile_cont(cnt, 0.99) AS p99_raw
        | FROM c),
        |tk AS (SELECT k, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, k) AS rk FROM c)
        |SELECT CAST(tk.rk AS BIGINT) AS rk, tk.k AS key, tk.cnt,
        | s.n_keys, s.n_rows,
        | ROUND(s.p50_raw, 4) AS p50_cnt, ROUND(s.p99_raw, 4) AS p99_cnt,
        | ROUND(s.max_cnt / s.p50_raw, 4) AS skew_ratio
        |FROM tk, s WHERE tk.rk <= 5 ORDER BY tk.rk""".stripMargin,

    // BM25 top-20 replayed, phrase gold derived, anti-join + per-query
    // re-rank — negatives pinned exactly.
    "retrieval_negatives" ->
      s"""WITH ${bm25Ctes(20)},
         |norm AS (
         | SELECT doc_id,
         |  ' ' || regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') || ' ' AS t
         | FROM documents),
         |gold AS (
         | SELECT 0 AS query_id, doc_id FROM norm WHERE contains(t, ' customer order ')
         | UNION ALL SELECT 1, doc_id FROM norm WHERE contains(t, ' vector hash ')
         | UNION ALL SELECT 2, doc_id FROM norm WHERE contains(t, ' stream filter ')
         | UNION ALL SELECT 3, doc_id FROM norm WHERE contains(t, ' spark query ')),
         |neg AS (
         | SELECT l.query_id, l.doc_id, l.rank,
         |  ROW_NUMBER() OVER (PARTITION BY l.query_id ORDER BY l.rank) AS neg_rank
         | FROM lex l ANTI JOIN gold g USING (query_id, doc_id))
         |SELECT query_id, CAST(neg_rank AS BIGINT) AS neg_rank, doc_id,
         | CAST(rank AS BIGINT) AS orig_rank
         |FROM neg WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin,

    "text_normalize" ->
      """WITH dec AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text || ' cafe' || chr(769) || ' latte'
        |       WHEN doc_id % 4 = 1
        |        THEN text || ' A' || chr(778) || 'ngstro' || chr(776) || 'm units'
        |       WHEN doc_id % 4 = 2 THEN text || ' d' || chr(233) || 'j' || chr(224) || ' vu'
        |       ELSE text || ' bell' || chr(7) || ' and del' || chr(127) || ' chars'
        |  END AS raw
        | FROM documents),
        |n AS (
        | SELECT doc_id, raw,
        |  nfc_normalize(regexp_replace(raw,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS norm
        | FROM dec)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_cp_raw,
        | CAST(length(norm) AS BIGINT) AS n_cp_norm,
        | (norm <> raw) AS changed, md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin,

    // The messy leg replays the decorator verbatim; the canon leg is an
    // INDEPENDENT direct construction of the expected canonical spelling
    // from the same residues, so the gate verifies what the regex chain
    // produces, not the chain itself.
    "text_url_canon" ->
      s"""WITH u AS (SELECT doc_id, $MessyUrlSql AS url,
         |  $CanonUrlSql AS canon_url FROM documents)
         |SELECT doc_id, url, canon_url,
         | 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS domain
         |FROM u ORDER BY doc_id""".stripMargin,

    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id, $CanonUrlSql AS canon_url FROM documents)
         |SELECT canon_url, MIN(doc_id) AS keep_id,
         | CAST(COUNT(*) AS BIGINT) AS n_dups
         |FROM u GROUP BY canon_url ORDER BY canon_url""".stripMargin,

    // Independent residue derivation: blocked domains h2/h4 are exactly
    // doc_id%5 in (2,4); the spam path segments are doc_id%50 in
    // (13,37,42) — so a hash match proves the canonicalize -> domainOf ->
    // regex chain classified every url correctly.
    "pipeline_url_blocklist" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        | CAST(SUM(CASE WHEN doc_id % 5 IN (2,4) THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked_domain,
        | CAST(SUM(CASE WHEN doc_id % 5 NOT IN (2,4) AND doc_id % 50 IN (13,37,42)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked_pattern,
        | CAST(SUM(CASE WHEN doc_id % 5 NOT IN (2,4) AND doc_id % 50 NOT IN (13,37,42)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_length_buckets" ->
      """WITH n AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) = 0 THEN 0
        |       ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |            - length(translate(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1 END AS BIGINT) AS n_tokens
        | FROM documents),
        |b AS (
        | SELECT n_tokens,
        |  CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |       WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |       WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
        |       WHEN n_tokens <= 1024 THEN 1024 ELSE 2048 END AS bucket
        | FROM n)
        |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        | CAST(SUM(LEAST(n_tokens, 2048)) AS BIGINT) AS sum_tokens_used,
        | CAST(COUNT(*) * bucket AS BIGINT) AS sum_padded
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "profile_zipf" ->
      """WITH tn AS (
        | SELECT source, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |terms AS (
        | SELECT source, u.term AS term FROM tn,
        |  UNNEST(string_split(t, ' ')) AS u(term)
        | WHERE length(u.term) > 0),
        |c AS (SELECT source, term, COUNT(*) AS cnt FROM terms GROUP BY source, term),
        |r AS (SELECT source, cnt,
        |       ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rank
        |      FROM c),
        |p AS (
        | SELECT source,
        |  CAST(ROUND(log2(CAST(rank AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
        |  CAST(ROUND(log2(CAST(cnt AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y
        | FROM r WHERE rank <= 100),
        |q AS (
        | SELECT source, x, y,
        |  CAST(ROUND(CAST(x * y AS DOUBLE), 8) AS DECIMAL(18,8)) AS xy,
        |  CAST(ROUND(CAST(x * x AS DOUBLE), 8) AS DECIMAL(18,8)) AS xx
        | FROM p),
        |a AS (
        | SELECT source, COUNT(*) AS n_ranks,
        |  SUM(x) AS sx, SUM(y) AS sy, SUM(xy) AS sxy, SUM(xx) AS sxx
        | FROM q GROUP BY source)
        |SELECT source, CAST(n_ranks AS BIGINT) AS n_ranks,
        | ROUND((CAST(sxy AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_ranks AS DOUBLE)) /
        |   (CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_ranks AS DOUBLE)), 4)
        |  AS zipf_slope
        |FROM a ORDER BY source""".stripMargin,

    "profile_k_anon" ->
      """WITH g AS (
        | SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
        | FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        | CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        | CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_exposed_rows,
        | CAST(MIN(sz) AS BIGINT) AS min_group_size,
        | CAST(MAX(sz) AS BIGINT) AS max_group_size
        |FROM g""".stripMargin,

    "profile_l_diversity" ->
      """WITH g AS (
        | SELECT c_nationkey, c_mktsegment,
        |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS n_sens,
        |  COUNT(*) AS sz
        | FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        | CAST(SUM(CASE WHEN n_sens < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_nondiverse,
        | CAST(SUM(CASE WHEN n_sens < 3 THEN sz ELSE 0 END) AS BIGINT)
        |   AS n_exposed_rows,
        | CAST(MIN(n_sens) AS BIGINT) AS min_diversity,
        | CAST(MAX(n_sens) AS BIGINT) AS max_diversity
        |FROM g""".stripMargin,

    "pipeline_cap_per_domain" ->
      """WITH u AS (
        | SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS domain
        | FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rn FROM u)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_total,
        | CAST(SUM(CASE WHEN rn <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN rn <= 30 THEN doc_id END) AS BIGINT) AS kept_id_sum
        |FROM r GROUP BY domain ORDER BY domain""".stripMargin,

    // Replays decoration, page assembly, line normalization, every C4
    // line predicate (terminal punct / >=5 words / javascript) and page
    // predicate (>=3 kept lines, lorem ipsum, curly brace), plus the
    // reassembled clean text md5.
    "text_c4_clean" ->
      """WITH dec AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN text || ' and lorem ipsum filler.'
        |       WHEN doc_id % 89 = 3 THEN text || ' info { config }.'
        |       WHEN doc_id % 13 = 0
        |        THEN array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') || '.'
        |       WHEN doc_id % 11 = 0 THEN text || ' javascript required.'
        |       WHEN doc_id % 7 = 2 THEN text
        |       ELSE text || '.' END AS line
        | FROM documents),
        |pages AS (
        | SELECT CAST(doc_id // 4 AS BIGINT) AS page_id,
        |        string_agg(line, chr(10) ORDER BY doc_id) AS text
        | FROM dec GROUP BY 1),
        |n AS (
        | SELECT page_id,
        |  list_transform(string_split(text, chr(10)),
        |    x -> regexp_replace(trim(x), '\s+', ' ', 'g')) AS ls
        | FROM pages),
        |f AS (
        | SELECT page_id, ls,
        |  list_filter(ls, x -> right(x, 1) IN ('.', '!', '?', '"')
        |    AND (CASE WHEN length(x) = 0 THEN 0
        |         ELSE length(x) - length(translate(x, ' ', '')) + 1 END) >= 5
        |    AND NOT contains(lower(x), 'javascript')) AS kept,
        |  len(list_filter(ls, x -> contains(lower(x), 'lorem ipsum'))) > 0 AS has_phrase,
        |  len(list_filter(ls, x -> contains(x, '{') OR contains(x, '}'))) > 0 AS has_brace
        | FROM n)
        |SELECT page_id, CAST(len(ls) AS BIGINT) AS n_lines,
        | CAST(len(kept) AS BIGINT) AS n_kept,
        | (len(kept) >= 3 AND NOT has_phrase AND NOT has_brace) AS keep_doc,
        | md5(array_to_string(kept, chr(10))) AS clean_md5
        |FROM f ORDER BY page_id""".stripMargin,

    "text_gopher_quality" ->
      """WITH n AS (
        | SELECT doc_id, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |x AS (SELECT doc_id, text, t, string_split(t, ' ') AS toks FROM n)
        |SELECT doc_id,
        | ROUND(CAST(length(t) - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS mean_word_len,
        | ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS rep_token_frac,
        | ROUND(CAST(length(text) - length(translate(text, '#*>=_~|', '')) AS DOUBLE)
        |       / GREATEST(length(text), 1), 4) AS symbol_frac
        |FROM x""".stripMargin,

    // DuckDB generate_series(1, 0) is empty (inclusive bounds, start>stop),
    // mirroring the Spark side's zero-length slices for <2-token docs.
    // SUM over BIGINT widens to HUGEINT in DuckDB -> cast back.
    "text_dup_ngrams" ->
      """WITH n AS (
        | SELECT doc_id,
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(toks) - 1),
        |                        i -> toks[i] || ' ' || toks[i + 1])) AS gram
        | FROM n),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        | CAST(SUM(c) AS BIGINT) AS n_2grams,
        | MAX(c) AS top_count,
        | ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT), 4) AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_repetition_full" ->
      """WITH n AS (
        | SELECT doc_id,
        |  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |tok AS (
        | SELECT doc_id, length(norm) AS total_chars, len(toks) AS n_toks,
        |  unnest(generate_series(1, len(toks))) AS pos, toks
        | FROM n),
        |tk AS (
        | SELECT doc_id, total_chars, n_toks, pos,
        |  length(toks[pos]) AS tok_len,
        |  CASE WHEN pos + 1 <= n_toks THEN toks[pos] || ' ' || toks[pos+1] END AS g2,
        |  CASE WHEN pos + 2 <= n_toks THEN toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2] END AS g3,
        |  CASE WHEN pos + 3 <= n_toks THEN toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2] || ' ' || toks[pos+3] END AS g4,
        |  CASE WHEN pos + 4 <= n_toks THEN toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2] || ' ' || toks[pos+3] || ' ' || toks[pos+4] END AS g5,
        |  SUM(length(toks[pos])) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cum
        | FROM tok),
        |t2 AS (
        | SELECT doc_id, ROUND(c * length(gram) / CAST(total_chars AS DOUBLE), 4) AS top2_frac FROM (
        |  SELECT doc_id, total_chars, gram, c,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, length(gram) DESC, gram ASC) AS rk
        |  FROM (SELECT doc_id, total_chars, g2 AS gram, COUNT(*) AS c FROM tk WHERE g2 IS NOT NULL GROUP BY 1, 2, 3))
        | WHERE rk = 1),
        |t3 AS (
        | SELECT doc_id, ROUND(c * length(gram) / CAST(total_chars AS DOUBLE), 4) AS top3_frac FROM (
        |  SELECT doc_id, total_chars, gram, c,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, length(gram) DESC, gram ASC) AS rk
        |  FROM (SELECT doc_id, total_chars, g3 AS gram, COUNT(*) AS c FROM tk WHERE g3 IS NOT NULL GROUP BY 1, 2, 3))
        | WHERE rk = 1),
        |t4 AS (
        | SELECT doc_id, ROUND(c * length(gram) / CAST(total_chars AS DOUBLE), 4) AS top4_frac FROM (
        |  SELECT doc_id, total_chars, gram, c,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, length(gram) DESC, gram ASC) AS rk
        |  FROM (SELECT doc_id, total_chars, g4 AS gram, COUNT(*) AS c FROM tk WHERE g4 IS NOT NULL GROUP BY 1, 2, 3))
        | WHERE rk = 1),
        |occ AS (
        | SELECT doc_id, pos AS s, pos + 5 AS e FROM (
        |  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY doc_id, g5) AS c
        |  FROM tk WHERE g5 IS NOT NULL)
        | WHERE c > 1),
        |isl AS (
        | SELECT doc_id, island, MIN(s) AS is_s, MAX(e) AS is_e FROM (
        |  SELECT doc_id, s, e,
        |   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
        |  FROM (
        |   SELECT doc_id, s, e,
        |    CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END AS brk
        |   FROM (
        |    SELECT doc_id, s, e,
        |     MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |    FROM occ)))
        | GROUP BY 1, 2),
        |dc AS (
        | SELECT i.doc_id,
        |  SUM(e.cum - s.cum + s.tok_len + (i.is_e - i.is_s - 1)) AS dup5_chars
        | FROM isl i
        | JOIN tk s ON s.doc_id = i.doc_id AND s.pos = i.is_s
        | JOIN tk e ON e.doc_id = i.doc_id AND e.pos = i.is_e - 1
        | GROUP BY 1)
        |SELECT b.doc_id,
        | CAST(b.n_toks AS BIGINT) AS n_tokens,
        | COALESCE(t2.top2_frac, 0.0) AS top2_frac,
        | COALESCE(t3.top3_frac, 0.0) AS top3_frac,
        | COALESCE(t4.top4_frac, 0.0) AS top4_frac,
        | CAST(COALESCE(dc.dup5_chars, 0) AS BIGINT) AS dup5_chars,
        | ROUND(CAST(COALESCE(dc.dup5_chars, 0) AS BIGINT) / CAST(b.total_chars AS DOUBLE), 4) AS dup5_frac
        |FROM (SELECT doc_id, len(toks) AS n_toks, length(norm) AS total_chars FROM n) b
        |LEFT JOIN t2 USING (doc_id)
        |LEFT JOIN t3 USING (doc_id)
        |LEFT JOIN t4 USING (doc_id)
        |LEFT JOIN dc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "text_top_terms" ->
      """WITH toks AS (
        | SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS term
        | FROM documents)
        |SELECT term, COUNT(*) AS n FROM toks
        |WHERE length(term) >= 3
        |GROUP BY term
        |ORDER BY n DESC, term
        |LIMIT 25""".stripMargin,

    // Replays the synthetic refresh and the full-outer fingerprint
    // classification.
    "pipeline_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS fa FROM documents),
        |b0 AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 1 THEN text || ' v2' ELSE text END AS text
        | FROM documents WHERE doc_id % 10 <> 0),
        |badd AS (
        | SELECT doc_id + 1000000 AS doc_id, text FROM documents
        | WHERE doc_id % 5 = 0),
        |b AS (
        | SELECT doc_id, md5(text) AS fb FROM
        |  (SELECT * FROM b0 UNION ALL SELECT * FROM badd)),
        |d AS (
        | SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN fa <> fb THEN 'changed'
        |       ELSE 'unchanged' END AS status
        | FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    // Replays the JS-divergence pipeline: top-500 support, per-source
    // probabilities over the restricted support, per-term contributions
    // (same fixed association), round-12dp DECIMAL sums, round-6 final.
    "text_source_divergence" ->
      """WITH toks AS (
        | SELECT source AS src,
        |  unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS term
        | FROM documents),
        |f AS (SELECT src, term FROM toks WHERE length(term) >= 3),
        |support AS (
        | SELECT term FROM (
        |  SELECT term, COUNT(*) AS n FROM f GROUP BY term
        |  ORDER BY n DESC, term LIMIT 500)),
        |cnt AS (
        | SELECT src, term, COUNT(*) AS c FROM f
        | WHERE term IN (SELECT term FROM support) GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(c) AS tot FROM cnt GROUP BY src),
        |grid AS (
        | SELECT t.src, s.term,
        |  CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
        | FROM tot t CROSS JOIN support s
        | LEFT JOIN cnt c ON c.src = t.src AND c.term = s.term),
        |pr AS (
        | SELECT a.src AS src_a, b.src AS src_b, a.p AS pa, b.p AS pb
        | FROM grid a JOIN grid b ON a.term = b.term AND a.src < b.src),
        |contrib AS (
        | SELECT src_a, src_b,
        |  CAST(ROUND((CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END +
        |              CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END) * 0.5, 12)
        |   AS DECIMAL(28,12)) AS ct
        | FROM pr)
        |SELECT src_a, src_b, CAST(ROUND(SUM(ct), 6) AS DOUBLE) AS js
        |FROM contrib GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // Full bit-for-bit replay of the Count-Min counter table and the
    // min-over-rows estimates via the shared portable md5 bucket hash.
    "text_countmin" ->
      """WITH toks AS (
        | SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS term
        | FROM documents),
        |f AS (SELECT term FROM toks WHERE length(term) >= 3),
        |r AS (SELECT unnest(range(0, 4)) AS row),
        |cnt AS (
        | SELECT row,
        |  CAST('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || term), 1, 8) AS UBIGINT) % 1024 AS bucket,
        |  COUNT(*) AS n
        | FROM f CROSS JOIN r GROUP BY 1, 2),
        |top AS (
        | SELECT term, COUNT(*) AS n_exact FROM f GROUP BY term
        | ORDER BY n_exact DESC, term LIMIT 25),
        |est AS (
        | SELECT t.term, MIN(COALESCE(c.n, 0)) AS n_est
        | FROM top t CROSS JOIN r
        | LEFT JOIN cnt c ON c.row = r.row AND c.bucket =
        |  CAST('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || t.term), 1, 8) AS UBIGINT) % 1024
        | GROUP BY t.term)
        |SELECT t.term, t.n_exact, e.n_est, (e.n_est >= t.n_exact) AS over_ok
        |FROM top t JOIN est e USING (term) ORDER BY term""".stripMargin,

    "pipeline_score_calibrate" ->
      """WITH n AS (SELECT doc_id, lang, text,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS t FROM documents),
        |q AS (SELECT doc_id, lang,
        | CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |  ROUND(
        |   LEAST(1.0, (CASE WHEN length(t) = 0 THEN 0
        |               ELSE length(t) - length(translate(t, ' ', '')) + 1 END) / 50.0)
        |   * (1.0 - (length(text) - length(translate(text, '.,;:!?', ''))) / length(text))
        |   * (1.0 - (length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))) / length(text)),
        |  4) END AS quality
        | FROM n),
        |c AS (SELECT doc_id, lang, quality,
        | ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality, doc_id), 6) AS pct
        | FROM q)
        |SELECT doc_id, lang, quality, pct FROM c WHERE pct >= 0.8""".stripMargin,

    "text_quality" ->
      """WITH n AS (SELECT doc_id, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS t FROM documents)
        |SELECT doc_id,
        | CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |  ROUND(
        |   LEAST(1.0, (CASE WHEN length(t) = 0 THEN 0
        |               ELSE length(t) - length(translate(t, ' ', '')) + 1 END) / 50.0)
        |   * (1.0 - (length(text) - length(translate(text, '.,;:!?', ''))) / length(text))
        |   * (1.0 - (length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))) / length(text)),
        |  4) END AS quality
        |FROM n""".stripMargin,

    // tf-idf mirrored term-for-term (DuckDB ln == Spark log, both natural);
    // ranks compare the ROUNDED score so a last-ulp ln() divergence cannot
    // flip near-equal orders
    "text_tfidf_top" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        | FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |ft AS (
        | SELECT doc_id, term, COUNT(*) AS tf FROM tok
        | WHERE length(term) >= 3 GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df_t FROM ft GROUP BY 1),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM n),
        |scored AS (
        | SELECT f.doc_id, f.term,
        |        ROUND(f.tf * ln(CAST(nd.n_docs AS DOUBLE) / d.df_t), 4) AS score
        | FROM ft f JOIN dfreq d ON f.term = d.term, nd),
        |ranked AS (
        | SELECT doc_id, term, score,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        | FROM scored)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, score
        |FROM ranked WHERE rk <= 3""".stripMargin,

    "text_langid_counts" ->
      """WITH n AS (
        | SELECT doc_id, text,
        |        ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g') || ' ' AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, text,
        |  (length(t) - length(replace(t, ' the ', '')))/5 + (length(t) - length(replace(t, ' and ', '')))/5
        |   + (length(t) - length(replace(t, ' is ', '')))/4 + (length(t) - length(replace(t, ' of ', '')))/4 AS en,
        |  (length(t) - length(replace(t, ' el ', '')))/4 + (length(t) - length(replace(t, ' la ', '')))/4
        |   + (length(t) - length(replace(t, ' de ', '')))/4 + (length(t) - length(replace(t, ' y ', '')))/3 AS es,
        |  (length(t) - length(replace(t, ' der ', '')))/5 + (length(t) - length(replace(t, ' und ', '')))/5
        |   + (length(t) - length(replace(t, ' die ', '')))/5 + (length(t) - length(replace(t, ' das ', '')))/5 AS de,
        |  (length(t) - length(replace(t, ' le ', '')))/4 + (length(t) - length(replace(t, ' et ', '')))/4
        |   + (length(t) - length(replace(t, ' les ', '')))/5 + (length(t) - length(replace(t, ' des ', '')))/5 AS fr
        | FROM n)
        |SELECT lang_pred, COUNT(*) AS n FROM (
        | SELECT CASE
        |  WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |  WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |  WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |  WHEN de >= fr AND de > 0 THEN 'de'
        |  WHEN fr > 0 THEN 'fr'
        |  ELSE 'und' END AS lang_pred
        | FROM s)
        |GROUP BY lang_pred""".stripMargin,

    "text_bpe_tokens" -> bpeOracleSql,

    "pipeline_token_packing_bpe" -> bpePackingOracleSql,

    "pipeline_cap_per_source" ->
      """WITH n AS (
        | SELECT doc_id, source, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, source,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |   ROUND(
        |    LEAST(1.0, (CASE WHEN length(t) = 0 THEN 0
        |                ELSE length(t) - length(translate(t, ' ', '')) + 1 END) / 50.0)
        |    * (1.0 - (length(text) - length(translate(text, '.,;:!?', ''))) / length(text))
        |    * (1.0 - (length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))) / length(text)),
        |   4) END AS quality
        | FROM n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn FROM s)
        |SELECT source, COUNT(*) AS n_kept,
        | CAST(ROUND(SUM(CAST(quality AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_quality
        |FROM r WHERE rn <= 3 GROUP BY source""".stripMargin,

    "pipeline_token_packing" ->
      """WITH n AS (
        | SELECT doc_id, source,
        |  CAST(CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) = 0 THEN 0
        |       ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |            - length(translate(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1 END AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT source, n_tokens,
        |      SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM n)
        |SELECT source,
        | CAST(COUNT(DISTINCT (cum - n_tokens) // 2048) AS BIGINT) AS n_packs,
        | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |FROM c GROUP BY source""".stripMargin,

    "pipeline_contamination" ->
      """WITH f AS (
        | SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        | FROM documents),
        |b AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 = 0)
        |SELECT COUNT(*) AS n_contaminated,
        | CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_contaminated
        |FROM f WHERE fp IN (SELECT fp FROM b)""".stripMargin,

    "text_scrub" ->
      """SELECT
        | CAST(SUM(CASE WHEN regexp_replace(text, '[0-9]+', '<NUM>', 'g') != text
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        | CAST(SUM(length(regexp_replace(text, '[0-9]+', '<NUM>', 'g'))) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin,

    "pipeline_curate_corpus" ->
      """WITH n AS (
        | SELECT doc_id, text, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, t,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |       ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT) AS n_tokens,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |   ROUND(
        |    LEAST(1.0, (CASE WHEN length(t) = 0 THEN 0
        |                ELSE length(t) - length(translate(t, ' ', '')) + 1 END) / 50.0)
        |    * (1.0 - (length(text) - length(translate(text, '.,;:!?', ''))) / length(text))
        |    * (1.0 - (length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))) / length(text)),
        |   4) END AS quality
        | FROM n),
        |f AS (SELECT * FROM s WHERE quality >= 0.5 AND n_tokens >= 20),
        |d AS (SELECT md5(t) AS fp, MIN(doc_id) AS keep_id, MIN(n_tokens) AS n_tokens
        |      FROM f GROUP BY 1)
        |SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        | MIN(keep_id) AS first_doc
        |FROM d""".stripMargin,

    "dedup_exact_docs" ->
      """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
        | MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1""".stripMargin,

    // Paragraph keep-first replay: same planted pages, split on newline,
    // ROW_NUMBER over (page, position) per paragraph fingerprint, pages
    // rebuilt from rn=1 survivors in position order and md5'd.
    "dedup_paragraphs" ->
      """WITH pages AS (
        | SELECT doc_id // 5 AS page_id,
        |        string_agg(text, chr(10) ORDER BY doc_id) AS text
        | FROM documents GROUP BY 1),
        |sp AS (SELECT page_id, string_split(text, chr(10)) AS ps FROM pages),
        |e AS (SELECT page_id, unnest(generate_series(1, len(ps))) AS pos, ps FROM sp),
        |p AS (SELECT page_id, pos, ps[pos] AS para FROM e),
        |k AS (SELECT page_id, pos, para,
        |       ROW_NUMBER() OVER (PARTITION BY md5(para)
        |         ORDER BY page_id, pos) AS rn
        |      FROM p)
        |SELECT page_id,
        | CAST(COUNT(*) AS BIGINT) AS n_paras,
        | CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        | md5(COALESCE(string_agg(para, chr(10) ORDER BY pos)
        |       FILTER (WHERE rn = 1), '')) AS text_md5
        |FROM k GROUP BY page_id ORDER BY page_id""".stripMargin,

    // Spans joined by literal text where Spark joins xxhash64(span) —
    // equal answers because the hash only stands in for span equality.
    // DISTINCT mirrors the Spark side's array_distinct per doc.
    "dedup_span_exact" ->
      """WITH n AS (
        | SELECT doc_id,
        |  string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |w AS (
        | SELECT DISTINCT doc_id,
        |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM n, generate_series(1, 200) i(i)
        | WHERE i.i <= len(toks) - 7),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared_spans
        | FROM w a JOIN w b ON a.span = b.span AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id, n_shared_spans FROM p ORDER BY a_id, b_id""".stripMargin,

    // Same window construction as dedup_span_exact; contamination = a
    // corpus doc whose 8-token window set intersects the benchmark's.
    "pipeline_contamination_ngram" ->
      """WITH n AS (
        | SELECT doc_id,
        |  string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |w AS (
        | SELECT DISTINCT doc_id,
        |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM n, generate_series(1, 200) i(i)
        | WHERE i.i <= len(toks) - 7),
        |b AS (SELECT DISTINCT span FROM w WHERE doc_id % 10 = 0)
        |SELECT DISTINCT doc_id FROM w
        |WHERE doc_id % 10 <> 0 AND span IN (SELECT span FROM b)
        |ORDER BY doc_id""".stripMargin,

    "dedup_span_scrub" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t FROM documents),
        |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
        |w AS (
        | SELECT doc_id, i.i AS pos,
        |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM tok, generate_series(1, 400) i(i)
        | WHERE i.i <= len(toks) - 7),
        |f AS (
        | SELECT span, MIN(doc_id) AS keeper
        | FROM (SELECT DISTINCT doc_id, span FROM w) GROUP BY 1
        | HAVING COUNT(*) >= 2),
        |cov AS (
        | SELECT DISTINCT w.doc_id, gs.g AS tp
        | FROM w JOIN f ON w.span = f.span AND w.doc_id <> f.keeper
        | CROSS JOIN generate_series(1, 400) gs(g)
        | WHERE gs.g BETWEEN w.pos AND w.pos + 7),
        |surv AS (
        | SELECT tok.doc_id, j.j AS j, toks[j.j] AS tk, (cov.tp IS NOT NULL) AS cut
        | FROM tok CROSS JOIN generate_series(1, 400) j(j)
        | LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.tp = j.j
        | WHERE j.j <= len(toks)),
        |agg AS (
        | SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN NOT cut THEN tk END, ' ' ORDER BY j), '') AS clean_text,
        |  COUNT(*) FILTER (WHERE cut) AS n_removed
        | FROM surv GROUP BY doc_id)
        |SELECT n.doc_id,
        | COALESCE(agg.clean_text, '') AS clean_text,
        | CAST(COALESCE(agg.n_removed, 0) AS BIGINT) AS n_removed
        |FROM n LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Independent derivation of the maximal duplicated runs: rebuild the
    // planted text from id arithmetic, enumerate 12-token windows with
    // positions, find cross-document duplicates by SPAN STRING equality
    // (where Spark joins the window's xxhash64), then island-group
    // duplicated starts (two windows chain while the position gap is
    // <= 12, i.e. contiguous coverage) and slice each run's true extent
    // back out of the token list.
    "dedup_substring" ->
      """WITH n AS (
        | SELECT doc_id,
        |  regexp_replace(trim(CASE WHEN doc_id % 7 = 3
        |   THEN COALESCE(text, '') || ' ' || array_to_string(
        |     list_transform(range(1, 13 + doc_id % 40), x -> 'bp' || x), ' ')
        |   ELSE COALESCE(text, '') END), '\s+', ' ', 'g') AS t
        | FROM documents),
        |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
        |w AS (
        | SELECT doc_id, i.i AS pos,
        |  array_to_string(list_slice(toks, i.i, i.i + 11), ' ') AS span
        | FROM tok, generate_series(1, 460) i(i)
        | WHERE i.i <= len(toks) - 11),
        |dup AS (
        | SELECT span FROM (SELECT DISTINCT doc_id, span FROM w)
        | GROUP BY span HAVING COUNT(*) >= 2),
        |ds AS (SELECT doc_id, pos FROM w WHERE span IN (SELECT span FROM dup)),
        |brk AS (
        | SELECT doc_id, pos,
        |  CASE WHEN pos - COALESCE(
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -99) > 12
        |   THEN 1 ELSE 0 END AS b
        | FROM ds),
        |runs AS (
        | SELECT doc_id, pos,
        |  SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        | FROM brk),
        |agg AS (
        | SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + 11 AS end_pos
        | FROM runs GROUP BY doc_id, run_id)
        |SELECT agg.doc_id, CAST(start_pos AS INT) AS start_pos,
        | CAST(end_pos - start_pos + 1 AS BIGINT) AS n_tokens,
        | md5(array_to_string(list_slice(toks, start_pos, end_pos), ' ')) AS span_md5
        |FROM agg JOIN tok ON agg.doc_id = tok.doc_id
        |ORDER BY agg.doc_id, start_pos""".stripMargin,

    "pipeline_contamination_norm" ->
      """WITH n AS (
        | SELECT doc_id,
        |  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
        | FROM documents),
        |w AS (
        | SELECT DISTINCT doc_id,
        |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM n, generate_series(1, 400) i(i)
        | WHERE i.i <= len(toks) - 7),
        |b AS (SELECT DISTINCT span FROM w WHERE doc_id % 10 = 0),
        |c AS (
        | SELECT doc_id, COUNT(*) AS n_windows,
        |  COUNT(*) FILTER (WHERE span IN (SELECT span FROM b)) AS n_hit
        | FROM w WHERE doc_id % 10 <> 0 GROUP BY 1)
        |SELECT doc_id,
        | CAST(n_windows AS BIGINT) AS n_windows,
        | CAST(n_hit AS BIGINT) AS n_hit,
        | ROUND(n_hit * 1.0 / n_windows, 4) AS overlap_frac,
        | (n_hit * 1.0 / n_windows >= 0.2) AS contaminated
        |FROM c ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH n AS (
        | SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        | FROM documents),
        |b AS (SELECT fp, MIN(doc_id) AS doc_id FROM n WHERE doc_id >= 400 GROUP BY 1)
        |SELECT doc_id, fp FROM b
        |WHERE NOT EXISTS (
        | SELECT 1 FROM n c WHERE c.doc_id < 400 AND c.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents WHERE doc_id < 60),
        |s AS (
        | SELECT DISTINCT doc_id, substr(t, i.i, 5) AS g
        | FROM n, generate_series(1, 600) i(i)
        | WHERE i.i <= GREATEST(length(t) - 4, 1)),
        |ds AS (SELECT doc_id, COUNT(*) AS nsh FROM s GROUP BY 1),
        |pairs AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        | FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id, ROUND(inter / (na.nsh + nb.nsh - inter), 4) AS jaccard
        |FROM pairs
        |JOIN ds na ON na.doc_id = a_id
        |JOIN ds nb ON nb.doc_id = b_id
        |WHERE inter / (na.nsh + nb.nsh - inter) >= 0.2""".stripMargin,

    // All-pairs Jaro-Winkler replayed natively in DuckDB.
    "dedup_jw_names" ->
      """WITH c AS (
        | SELECT c_custkey AS id, c_name AS s FROM customer
        | WHERE c_custkey < 300)
        |SELECT a.id AS a_id, b.id AS b_id,
        | ROUND(jaro_winkler_similarity(a.s, b.s), 5) AS jw
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE ROUND(jaro_winkler_similarity(a.s, b.s), 5) >= 0.97
        |ORDER BY a_id, b_id""".stripMargin,

    // Exact batch-x-corpus all-pairs levenshtein: the served funnel is
    // provably complete at the gate dials, so it must reproduce this
    // exactly.
    "dedup_fuzzy_serve" ->
      """WITH c AS (
        | SELECT c_custkey AS id, c_name AS s FROM customer
        | WHERE c_custkey < 300),
        |b AS (
        | SELECT c_custkey AS id, c_name AS s FROM customer
        | WHERE c_custkey >= 300 AND c_custkey < 350)
        |SELECT b.id AS batch_id, c.id AS corpus_id,
        | CAST(levenshtein(b.s, c.s) AS BIGINT) AS dist
        |FROM b JOIN c ON levenshtein(b.s, c.s) <= 1
        |ORDER BY batch_id, corpus_id""".stripMargin,

    // Exact all-pairs levenshtein over the same 300 names: the funnel's
    // prefix filter is provably complete at the gate dials, so the fuzzy
    // join must reproduce this exactly (both engines implement standard
    // unweighted Levenshtein).
    "dedup_fuzzy_names" ->
      """WITH c AS (
        | SELECT c_custkey AS id, c_name AS s FROM customer
        | WHERE c_custkey < 300)
        |SELECT a.id AS a_id, b.id AS b_id,
        | CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    // Same shingle/pair pipeline as dedup_ngram_jaccard (wider id range,
    // higher threshold for multi-cluster structure), then transitive
    // closure by recursive CTE; cluster label = min reachable id.
    "dedup_clusters" ->
      (ClusterClosureCtes + """
        |SELECT CAST(u AS BIGINT) AS id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY u""".stripMargin),

    // Clusters CTE (same as dedup_clusters) -> representative fill ->
    // md5-bucket thresholds: floor(0.8*65536) = 0xcccc,
    // floor(0.9*65536) = 0xe666 — identical to Sampling.thresholdHex.
    "pipeline_leakfree_split" ->
      (ClusterClosureCtes + """,
        |comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS cluster_id
        |         FROM reach GROUP BY u),
        |r AS (
        | SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep
        | FROM n d LEFT JOIN comp c ON d.doc_id = c.id)
        |SELECT doc_id,
        | CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |      WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin),

    // Same recursive closure as dedup_clusters, then the actual drop:
    // non-min cluster members go, untouched docs stay.
    "dedup_keep_canonical" ->
      (ClusterClosureCtes + """,
        |drop_ids AS (
        | SELECT u AS id FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) <> u)
        |SELECT doc_id, md5(t) AS fp FROM n
        |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
        |ORDER BY doc_id""".stripMargin),

    // Same cluster replay as dedup_keep_canonical; the survivor rule is
    // argmax(length, tie lowest id) over each component.
    "dedup_keep_best" ->
      (ClusterClosureCtes + """,
        |comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS cid FROM reach GROUP BY u),
        |m AS (SELECT c.id, c.cid, length(n.t) AS len FROM comp c JOIN n ON n.doc_id = c.id),
        |r AS (
        | SELECT id, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY len DESC, id) AS rn
        | FROM m),
        |drop_ids AS (SELECT id FROM r WHERE rn <> 1)
        |SELECT doc_id, md5(t) AS fp FROM n
        |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
        |ORDER BY doc_id""".stripMargin),

    // One UNION ALL branch per profiled column; min/max rendered VARCHAR
    // to match the Spark side's type-independent output schema.
    // Exact distinct counts + HLL verdicts pinned true (the approximate
    // profile must land within 5% or one count of exact, per column).
    "profile_documents_approx" ->
      """WITH d AS (SELECT * FROM documents)
        |SELECT col_name, n_distinct, true AS within_5pct FROM (
        | SELECT 'doc_id' AS col_name, COUNT(DISTINCT doc_id) AS n_distinct FROM d
        | UNION ALL SELECT 'lang', COUNT(DISTINCT lang) FROM d
        | UNION ALL SELECT 'n_chars', COUNT(DISTINCT n_chars) FROM d
        | UNION ALL SELECT 'source', COUNT(DISTINCT source) FROM d
        | UNION ALL SELECT 'text', COUNT(DISTINCT text) FROM d)
        |ORDER BY col_name""".stripMargin,

    // Same floor-based bin arithmetic over the same IEEE doubles.
    "profile_histogram" ->
      """WITH mm AS (
        | SELECT CAST(MIN(value) AS DOUBLE) AS mn,
        |        (CAST(MAX(value) AS DOUBLE) - CAST(MIN(value) AS DOUBLE)) / 20 AS w
        | FROM events),
        |b AS (
        | SELECT LEAST(CAST(FLOOR((CAST(value AS DOUBLE) - mn) / w) AS BIGINT), 19) AS bin,
        |        mn, w
        | FROM events, mm WHERE value IS NOT NULL)
        |SELECT bin, ROUND(mn + bin * w, 4) AS lo,
        | ROUND(mn + (bin + 1) * w, 4) AS hi, COUNT(*) AS n
        |FROM b GROUP BY bin, mn, w ORDER BY bin""".stripMargin,

    // Exact fields replayed in DuckDB; the mergeability equality and the
    // 5% HLL band are deterministic Spark-side verdicts pinned true.
    "profile_incremental" ->
      """WITH d AS (SELECT * FROM documents)
        |SELECT col_name, n_rows, n_nulls, n_distinct, merged_eq_direct, est_agree, est_ok FROM (
        | SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_nulls, COUNT(DISTINCT doc_id) AS n_distinct,
        |  true AS merged_eq_direct, true AS est_agree, true AS est_ok FROM d
        | UNION ALL
        | SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |  true, true, true FROM d
        | UNION ALL
        | SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |  true, true, true FROM d)
        |ORDER BY col_name""".stripMargin,

    "profile_documents" ->
      """WITH d AS (SELECT * FROM documents)
        |SELECT col_name, n_rows, n_nulls, n_distinct, min_v, max_v FROM (
        | SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_nulls, COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v FROM d
        | UNION ALL
        | SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |  MIN(text), MAX(text) FROM d
        | UNION ALL
        | SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |  MIN(lang), MAX(lang) FROM d
        | UNION ALL
        | SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |  MIN(source), MAX(source) FROM d
        | UNION ALL
        | SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |  CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM d
        |) ORDER BY col_name""".stripMargin,

    "emb_cosine_radius" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        | ROUND(list_cosine_similarity(q.v, e.v), 4) AS score
        |FROM q, e WHERE e.vec_id != q.vec_id
        | AND ROUND(list_cosine_similarity(q.v, e.v), 4) >= 0.3""".stripMargin,

    "ann_ivf_radius" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT q.vec_id AS query_id, COUNT(*) AS n_true, true AS recall_ok
        |FROM q, e WHERE e.vec_id != q.vec_id
        | AND ROUND(list_cosine_similarity(q.v, e.v), 4) >= 0.3
        |GROUP BY 1 ORDER BY query_id""".stripMargin,

    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.35""".stripMargin,

    // Same cosine kernel; per-corpus-row argmax replayed with a
    // (cos DESC, bench_id) row_number.
    "emb_benchmark_overlap" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 500),
        |c AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
        |b AS (SELECT * FROM e WHERE vec_id % 10 = 0),
        |s AS (
        | SELECT c.vec_id, b.vec_id AS bench_id,
        |  list_cosine_similarity(c.v, b.v) AS cr
        | FROM c, b),
        |f AS (
        | SELECT vec_id, bench_id, cr,
        |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cr DESC, bench_id) AS rn
        | FROM s WHERE cr >= 0.35)
        |SELECT vec_id, bench_id, ROUND(cr, 4) AS cosine
        |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "emb_label_centroids" ->
      """SELECT label, CAST(i.i - 1 AS BIGINT) AS dim,
        | ROUND(CAST(SUM(CAST(embedding[i.i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS centroid
        |FROM embeddings, generate_series(1, 8) i(i)
        |GROUP BY label, i.i""".stripMargin,

    "emb_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10)
        |SELECT query_id, neighbor_id, rank, score FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |                     ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rank,
        |  ROUND(list_cosine_similarity(q.v, e.v), 4) AS score
        | FROM q, e WHERE e.vec_id != q.vec_id)
        |WHERE rank <= 5""".stripMargin,

    // The ANN gates emit a deterministic per-query recall verdict (the
    // approximate result is seed-fixed and partition-invariant), so the
    // oracle is simply "every query id passes" — a regression in the LSH
    // banding / IVF probing flips rows to false and hash-mismatches.
    "ann_lsh_topk" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    // Full greedy-MMR trajectory replay — hard equality on every pick.
    "ann_mmr_rerank" -> s"WITH ${mmrOracleSql(5, 0.7, 20, 10)}",

    // Affine int8 codes recomputed from scratch: list_min/list_max are
    // exact, the (x - min)/scale doubles are the identical IEEE ops, and
    // ROUND is half-away-from-zero in both engines (values are >= 0).
    "emb_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 500),
        |m AS (SELECT vec_id, v, list_min(v) AS mn,
        |       (list_max(v) - list_min(v)) / 255.0 AS sc FROM e),
        |c AS (SELECT vec_id, mn, sc,
        |       list_transform(v, x -> CASE WHEN sc = 0 THEN 0
        |         ELSE CAST(ROUND((x - mn) / sc) AS INTEGER) END) AS codes
        |      FROM m)
        |SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
        | ROUND(mn, 6) AS q_min_r,
        | CAST(list_sum(codes) AS BIGINT) AS codes_sum,
        | true AS recon_ok
        |FROM c ORDER BY vec_id""".stripMargin,

    // drift-maintenance verdicts: the planted shift must trip the KS
    // monitor, the stale index must FAIL the recall floor on every
    // post-drift query, and the reclustered index must meet it
    "ann_ivf_recluster" ->
      """SELECT vec_id AS query_id, true AS drift_fired,
        | false AS stale_ok, true AS fresh_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,

    // SemDeDup soundness verdict over the WHOLE corpus (one row per
    // vector): with deterministic centroids the keep/drop frame is
    // deterministic and every row's internal-consistency replay (exact
    // cosine vs threshold, keeper kept, no surviving same-cell dup)
    // must hold, so the oracle pins sem_ok true for all ids.
    "dedup_semdedup" ->
      """SELECT vec_id, true AS sem_ok FROM embeddings ORDER BY vec_id""".stripMargin,

    // BM25 replayed end-to-end: same normalization/tokenization, Lucene
    // idf, round-6-then-decimal-sum scores rounded to 4, rank ties by
    // doc_id — term-for-term the Spark arithmetic.
    "text_bm25_topk" ->
      s"""WITH ${bm25Ctes(10)}
         |SELECT query_id, doc_id, rank, score FROM lex
         |ORDER BY query_id, rank""".stripMargin,

    "retrieval_prf" -> prfOracleSql(10, 2, 3),

    // Exact top-10 with the Misra-Gries exactness verdict pinned true
    // (k exceeds the vocabulary, so the summary must not have decremented).
    "text_heavy_hitters" ->
      """WITH tok0 AS (
        | SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS term
        | FROM documents),
        |tok AS (SELECT term FROM tok0 WHERE len(term) > 0),
        |c AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1)
        |SELECT rank, term, n, true AS mg_exact FROM (
        | SELECT term, n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank FROM c)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // Fertility: the BPE CTE chain's per-doc counts joined with the
    // text_stats-style whitespace word count, integer sums, one final
    // division.
    "text_bpe_fertility" -> bpeFertilityOracleFor(PinnedBpeMerges),

    // Deep-table variants: the identical replay machinery, 89 ranks deep.
    "text_bpe_tokens_deep" -> bpeOracleSqlFor(PinnedBpeMergesDeep),
    "text_bpe_fertility_deep" -> bpeFertilityOracleFor(PinnedBpeMergesDeep),

    // PII planting + scan + scrub replayed with the same RE2-compatible
    // patterns and the same pinned redaction order.
    "text_pii_scrub" ->
      """WITH p AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
        |       WHEN doc_id % 7 = 1 THEN text || ' from 10.0.' || (doc_id % 256) || '.1 logged'
        |       WHEN doc_id % 7 = 2 THEN text || ' call 555-123-4567'
        |       ELSE text END AS text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(text, '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b')) AS BIGINT) AS n_ip,
        | CAST(len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b', '[IP]', 'g'),
        |   '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g')) AS scrub_md5
        |FROM p ORDER BY doc_id""".stripMargin,

    // Hybrid fusion: the BM25 CTE chain at k=20 plus the proven
    // brute-force cosine ranking, RRF contributions rounded to 6 then
    // decimal-summed, final rank ties by doc_id.
    "text_hybrid_rrf" ->
      s"""WITH ${bm25Ctes(20)},
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qv AS (SELECT vec_id, v FROM e WHERE vec_id IN (${Retrieval.PinnedQueries.map(_._1).mkString(", ")})),
         |vr AS (SELECT query_id, doc_id, rank FROM (
         | SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY qv.vec_id
         |    ORDER BY list_cosine_similarity(qv.v, e.v) DESC, e.vec_id) AS rank
         | FROM qv, e WHERE e.vec_id != qv.vec_id) WHERE rank <= 20),
         |u AS (
         | SELECT query_id, doc_id,
         |  CAST(ROUND(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS contrib FROM lex
         | UNION ALL
         | SELECT query_id, doc_id,
         |  CAST(ROUND(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS contrib FROM vr),
         |f AS (SELECT query_id, doc_id,
         |  ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS rrf_score FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, rank, rrf_score FROM (
         | SELECT query_id, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf_score DESC, doc_id) AS rank, rrf_score FROM f)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // Hybrid SERVE: the lexical leg is replayed exactly (same doc:rank
    // string, same md5); the vector-leg recall and fusion-replay
    // verdicts are computed Spark-side against brute force / the leg
    // frames and pinned true here (the ann-gate verdict pattern).
    "retrieval_hybrid_serve" ->
      s"""WITH ${bm25Ctes(20)},
         |lexagg AS (SELECT query_id, COUNT(*) AS lex_rows,
         |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(rank AS VARCHAR),
         |      ',' ORDER BY rank)) AS lex_md5
         | FROM lex GROUP BY 1)
         |SELECT query_id, CAST(lex_rows AS BIGINT) AS lex_rows, lex_md5,
         | true AS vec_recall_ok, true AS fusion_ok
         |FROM lexagg ORDER BY query_id""".stripMargin,

    // DSIR replayed from scratch: portable bucket hash (md5 hex prefix
    // mod 4096), add-0.5 smoothing over the full bucket space, ln-ratio
    // rounded to 6 then decimal tf-weighted sum rounded to 4, rank ties
    // by doc_id.
    "pipeline_dsir_select" ->
      """WITH n AS (SELECT doc_id, source,
        |  list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |              x -> x != '') AS t
        | FROM documents),
        |uni AS (SELECT doc_id, source, unnest(t) AS g FROM n),
        |bi AS (SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS g FROM (
        |  SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
        |  FROM n WHERE len(t) >= 2)),
        |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        |f AS (SELECT doc_id, source,
        |  CAST(CAST('0x' || substr(md5(g), 1, 8) AS UBIGINT) % 4096 AS BIGINT) AS bucket,
        |  COUNT(*) AS tf FROM grams GROUP BY 1, 2, 3),
        |raw AS (SELECT bucket, SUM(tf) AS cr FROM f GROUP BY 1),
        |tgt AS (SELECT bucket, SUM(tf) AS ct FROM f
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(SUM(cr) AS DOUBLE) FROM raw) AS crtot,
        |               (SELECT CAST(SUM(ct) AS DOUBLE) FROM tgt) AS cttot),
        |llr AS (SELECT raw.bucket,
        |  CAST(ROUND(ln((COALESCE(tgt.ct, 0) + 0.5) / (tot.cttot + 2048.0))
        |           - ln((raw.cr + 0.5) / (tot.crtot + 2048.0)), 6) AS DECIMAL(18,6)) AS llr
        | FROM raw LEFT JOIN tgt USING (bucket), tot),
        |w AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_feats,
        |  ROUND(CAST(SUM(tf * llr) AS DOUBLE), 4) AS logw
        | FROM f JOIN llr USING (bucket) GROUP BY 1)
        |SELECT doc_id, n_feats, logw, rank FROM (
        | SELECT doc_id, n_feats, logw,
        |  ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS rank FROM w)
        |WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // The Kneser-Ney estimator replayed from scratch: training bigram /
    // history / continuation counts over the curated slice, the same
    // discount interpolation expression structure (IEEE double ops in
    // the same order), per-bigram ln rounded to 6 then decimal
    // tf-weighted mean rounded to 4. DuckDB lists are 1-based, so
    // adjacency is t[i], t[i+1] for i in 1..len-1.
    "text_kn_bigram" ->
      """WITH n AS (
        | SELECT doc_id, source,
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        | FROM documents),
        |bgall AS (
        | SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2 FROM (
        |  SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
        |  FROM n WHERE len(t) >= 2)),
        |dtf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bgall GROUP BY 1, 2, 3),
        |tbg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgall
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1, 2),
        |hist AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM tbg GROUP BY 1),
        |cont AS (SELECT w2, COUNT(*) AS nc FROM tbg GROUP BY 1),
        |ty AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b FROM tbg),
        |sc AS (
        | SELECT dtf.doc_id, dtf.tf,
        |  CASE WHEN hist.c1 IS NOT NULL THEN
        |   GREATEST(COALESCE(tbg.c12, 0) - 0.75, 0.0) / hist.c1
        |   + 0.75 * hist.n1p / hist.c1 *
        |     (CASE WHEN cont.nc IS NOT NULL THEN cont.nc / ty.b
        |           ELSE 1.0 / (2.0 * ty.b) END)
        |  ELSE (CASE WHEN cont.nc IS NOT NULL THEN cont.nc / ty.b
        |             ELSE 1.0 / (2.0 * ty.b) END)
        |  END AS p
        | FROM dtf LEFT JOIN tbg USING (w1, w2)
        |  LEFT JOIN hist USING (w1) LEFT JOIN cont USING (w2), ty),
        |ag AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        | ROUND(CAST(SUM(tf * CAST(ROUND(ln(p), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |       / SUM(tf), 4) AS mean_logprob
        | FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams, mean_logprob,
        | ROUND(exp(-mean_logprob), 4) AS ppl
        |FROM ag ORDER BY doc_id""".stripMargin,

    // Every card column replayed: token counts and fingerprints over the
    // same normalization, the lang-ID heuristic inlined (the
    // text_langid_counts replay restricted to the en leg), exact
    // quartiles via quantile_cont.
    "pipeline_dataset_card" ->
      """WITH n AS (
        | SELECT doc_id, source, n_chars,
        |  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS tn,
        |  ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g') || ' ' AS t
        | FROM documents),
        |s AS (
        | SELECT source, n_chars,
        |  CAST(len(string_split(tn, ' ')) AS BIGINT) AS n_tokens,
        |  md5(tn) AS fp,
        |  (length(t) - length(replace(t, ' the ', '')))/5 + (length(t) - length(replace(t, ' and ', '')))/5
        |   + (length(t) - length(replace(t, ' is ', '')))/4 + (length(t) - length(replace(t, ' of ', '')))/4 AS en,
        |  (length(t) - length(replace(t, ' el ', '')))/4 + (length(t) - length(replace(t, ' la ', '')))/4
        |   + (length(t) - length(replace(t, ' de ', '')))/4 + (length(t) - length(replace(t, ' y ', '')))/3 AS es,
        |  (length(t) - length(replace(t, ' der ', '')))/5 + (length(t) - length(replace(t, ' und ', '')))/5
        |   + (length(t) - length(replace(t, ' die ', '')))/5 + (length(t) - length(replace(t, ' das ', '')))/5 AS de,
        |  (length(t) - length(replace(t, ' le ', '')))/4 + (length(t) - length(replace(t, ' et ', '')))/4
        |   + (length(t) - length(replace(t, ' les ', '')))/5 + (length(t) - length(replace(t, ' des ', '')))/5 AS fr,
        |  regexp_matches(tn, '[一-鿿]') AS zh
        | FROM n),
        |l AS (
        | SELECT source, n_chars, n_tokens, fp,
        |  CASE WHEN zh THEN 'zh'
        |   WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |   WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |   WHEN de >= fr AND de > 0 THEN 'de'
        |   WHEN fr > 0 THEN 'fr'
        |   ELSE 'und' END AS lang
        | FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        | ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS mean_tokens,
        | ROUND(quantile_cont(n_chars, 0.25), 1) AS p25_chars,
        | ROUND(quantile_cont(n_chars, 0.5), 1) AS p50_chars,
        | ROUND(quantile_cont(n_chars, 0.75), 1) AS p75_chars,
        | ROUND(CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 4) AS distinct_frac,
        | CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        |FROM l GROUP BY source ORDER BY source""".stripMargin,

    // The KN CTE chain per INSTANCE, then the per-doc interpolated
    // 0.2-quantile threshold (quantile_cont == Spark percentile, q21
    // precedent), ties-inclusive keep, decimal-sum mean.
    "text_min_k_prob" ->
      """WITH n AS (
        | SELECT doc_id, source,
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        | FROM documents),
        |bgall AS (
        | SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2 FROM (
        |  SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
        |  FROM n WHERE len(t) >= 2)),
        |tbg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgall
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1, 2),
        |hist AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM tbg GROUP BY 1),
        |cont AS (SELECT w2, COUNT(*) AS nc FROM tbg GROUP BY 1),
        |ty AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b FROM tbg),
        |sci AS (
        | SELECT bgall.doc_id,
        |  ROUND(ln(
        |   CASE WHEN hist.c1 IS NOT NULL THEN
        |    GREATEST(COALESCE(tbg.c12, 0) - 0.75, 0.0) / hist.c1
        |    + 0.75 * hist.n1p / hist.c1 *
        |      (CASE WHEN cont.nc IS NOT NULL THEN cont.nc / ty.b
        |            ELSE 1.0 / (2.0 * ty.b) END)
        |   ELSE (CASE WHEN cont.nc IS NOT NULL THEN cont.nc / ty.b
        |              ELSE 1.0 / (2.0 * ty.b) END)
        |   END), 6) AS lp
        | FROM bgall LEFT JOIN tbg USING (w1, w2)
        |  LEFT JOIN hist USING (w1) LEFT JOIN cont USING (w2), ty),
        |th AS (SELECT doc_id, ROUND(quantile_cont(lp, 0.2), 6) AS thr,
        |        COUNT(*) AS n_bigrams FROM sci GROUP BY 1)
        |SELECT sci.doc_id, CAST(ANY_VALUE(th.n_bigrams) AS BIGINT) AS n_bigrams,
        | COUNT(*) AS n_low,
        | ROUND(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
        |  AS min_k_mean
        |FROM sci JOIN th USING (doc_id)
        |WHERE lp <= th.thr
        |GROUP BY sci.doc_id ORDER BY sci.doc_id""".stripMargin,

    // Unigram log-probs mirrored term-for-term (ln natural in both
    // engines; per-token log-probs rounded to 6 before the exact decimal
    // tf-weighted sum — same order-independence construction as the
    // Spark side).
    "text_unigram_logprob" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        | FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_total FROM cf)
        |SELECT doc_id,
        | ROUND(CAST(SUM(tf * CAST(ROUND(ln(cf / n_total), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |       / SUM(tf), 4) AS mean_logprob,
        | CAST(SUM(tf) AS BIGINT) AS n_tokens
        |FROM tf JOIN cf USING (term), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Naive-Bayes train + score replayed end-to-end: per-term class
    // counts, Laplace smoothing over the shared vocabulary, log-odds
    // rounded to 6, decimal tf-weighted per-doc mean rounded to 4 —
    // term-for-term the Spark arithmetic.
    "text_quality_classifier" ->
      """WITH n AS (
        | SELECT doc_id, source IN ('src0','src1','src2') AS pos,
        |  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        | FROM documents),
        |tok AS (
        | SELECT doc_id, pos, unnest(string_split(t, ' ')) AS term FROM n),
        |tok2 AS (SELECT * FROM tok WHERE term != ''),
        |cf AS (
        | SELECT term,
        |  SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cf_pos,
        |  SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cf_neg
        | FROM tok2 GROUP BY 1),
        |tot AS (SELECT SUM(cf_pos) AS tot_pos, SUM(cf_neg) AS tot_neg,
        |        COUNT(*) AS vocab FROM cf),
        |w AS (
        | SELECT term,
        |  CAST(ROUND(ln((cf_pos + 1) / (tot_pos + vocab))
        |           - ln((cf_neg + 1) / (tot_neg + vocab)), 6)
        |       AS DECIMAL(18,6)) AS logodds
        | FROM cf, tot),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        | ROUND(CAST(SUM(tf * logodds) AS DOUBLE) / SUM(tf), 4) + 0.0 AS score,
        | (ROUND(CAST(SUM(tf * logodds) AS DOUBLE) / SUM(tf), 4) + 0.0 > 0.0) AS keep
        |FROM tf JOIN w USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Exact all-pairs Jaccard over the FULL table, list-intersect
    // formulation with the sound size prefilter (j >= t implies
    // min(|A|,|B|) >= t * max(|A|,|B|)), top-100 by (jaccard, ids).
    "pipeline_seeded_shuffle" ->
      """SELECT doc_id, md5('graft-shuffle-42:' || doc_id) AS shuffle_key
        |FROM documents ORDER BY shuffle_key LIMIT 20""".stripMargin,

    // The surgery replayed in SQL: bench window strings (distinct) mark
    // coverage intervals over corpus docs; covered tokens drop, the rest
    // re-join with single spaces — the same interval-union construction
    // as the dedup_span_scrub oracle.
    "pipeline_decontaminate_scrub" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t FROM documents),
        |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n WHERE doc_id % 10 != 0),
        |w AS (
        | SELECT doc_id, i.i AS pos,
        |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM tok, generate_series(1, 400) i(i)
        | WHERE i.i <= len(toks) - 7),
        |btok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n WHERE doc_id % 10 = 0),
        |bf AS (
        | SELECT DISTINCT array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM btok, generate_series(1, 400) i(i)
        | WHERE i.i <= len(toks) - 7),
        |cov AS (
        | SELECT DISTINCT w.doc_id, gs.g AS tp
        | FROM w JOIN bf USING (span)
        | CROSS JOIN generate_series(1, 400) gs(g)
        | WHERE gs.g BETWEEN w.pos AND w.pos + 7),
        |surv AS (
        | SELECT tok.doc_id, j.j AS j, toks[j.j] AS tk, (cov.tp IS NOT NULL) AS cut
        | FROM tok CROSS JOIN generate_series(1, 400) j(j)
        | LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.tp = j.j
        | WHERE j.j <= len(toks)),
        |agg AS (
        | SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN NOT cut THEN tk END, ' ' ORDER BY j), '') AS clean_text,
        |  COUNT(*) FILTER (WHERE cut) AS n_removed
        | FROM surv GROUP BY doc_id)
        |SELECT n.doc_id, md5(COALESCE(agg.clean_text, '')) AS clean_md5,
        | CAST(COALESCE(agg.n_removed, 0) AS BIGINT) AS n_removed
        |FROM n LEFT JOIN agg USING (doc_id)
        |WHERE n.doc_id % 10 != 0 ORDER BY n.doc_id""".stripMargin,

    // Exact batch-x-corpus near-dup answer (the funnel has measured full
    // recall at these dials — same derived-oracle argument as
    // dedup_minhash_full).
    "dedup_incremental_near" -> incrementalNearOracle,

    // Serving from the persistent signature index must equal the direct
    // batch-vs-corpus computation — identical oracle.
    "dedup_incremental_serve" -> incrementalNearOracle,

    // ...and serving from the STREAM-BUILT index likewise: the
    // foreachBatch-appended signatures must answer identically to the
    // one-shot batch computation.
    "stream_minhash_ingest" -> incrementalNearOracle,

    // Flesch Reading Ease replica: the same marker-diff BIGINT counts
    // and the same left-associated double formula
    "text_readability" ->
      """WITH n AS (
        | SELECT doc_id, text,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |       ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
        |   - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS BIGINT) AS n_syllables,
        |  CAST(GREATEST(1, length(regexp_replace(text, '[.!?]+', '#', 'g'))
        |   - length(regexp_replace(text, '[.!?]+', '', 'g'))) AS BIGINT) AS n_sentences
        | FROM n),
        |f AS (
        | SELECT doc_id, n_words, n_syllables, n_sentences,
        |  CASE WHEN n_words = 0 THEN NULL
        |   ELSE 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) END AS fre
        | FROM c)
        |SELECT doc_id, n_words, n_syllables, n_sentences,
        | ROUND(fre, 4) AS fre_r,
        | CASE WHEN fre >= 60 THEN 'easy'
        |      WHEN fre >= 30 THEN 'standard' ELSE 'hard' END AS bucket
        |FROM f ORDER BY doc_id""".stripMargin,

    "dedup_minhash_full" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, GREATEST(length(t) - 4, 1)),
        |   i -> substr(t, i, 5))) AS sh
        | FROM n),
        |d AS (SELECT doc_id, sh, len(sh) AS nsh FROM s),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.sh, b.sh)) AS inter, a.nsh AS na, b.nsh AS nb
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  AND LEAST(a.nsh, b.nsh) >= 0.6 * GREATEST(a.nsh, b.nsh))
        |SELECT a_id, b_id, ROUND(inter / (na + nb - inter), 4) AS jaccard
        |FROM p WHERE inter / (na + nb - inter) >= 0.6
        |ORDER BY jaccard DESC, a_id, b_id LIMIT 100""".stripMargin,

    // SimHash recomputed from scratch: tokenize the normalized text on
    // single spaces (string_split keeps empty fields, matching Spark's
    // split), token hash = first 8 bytes of the MD5 digest (the
    // portable-mode hash), per-bit +-1 majority votes folded into a 64-bit
    // signature, then all-pairs hamming via bit_count(xor). The Spark
    // side's blocked join is COMPLETE for hamming <= maxDistance (blocks >
    // maxDistance pigeonhole), so the sets must match exactly.
    "dedup_simhash_near" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents WHERE doc_id < 100),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM n),
        |h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT) AS hw FROM tok),
        |votes AS (
        | SELECT doc_id, b.b AS b,
        |  SUM(CASE WHEN (hw >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        | FROM h, range(64) b(b) GROUP BY 1, 2),
        |sig AS (
        | SELECT doc_id, bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << b
        |                            ELSE CAST(0 AS UBIGINT) END) AS s
        | FROM votes GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 15""".stripMargin,

    "dedup_simhash_full" ->
      """WITH n AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM n),
        |h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT) AS hw FROM tok),
        |votes AS (
        | SELECT doc_id, b.b AS b,
        |  SUM(CASE WHEN (hw >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        | FROM h, range(64) b(b) GROUP BY 1, 2),
        |sig AS (
        | SELECT doc_id, bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << b
        |                            ELSE CAST(0 AS UBIGINT) END) AS s
        | FROM votes GROUP BY 1)
        |SELECT a_id, b_id, hamming FROM (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3
        |ORDER BY hamming, a_id, b_id LIMIT 100""".stripMargin,

    // the global-id permutation replayed as one corpus-wide ROW_NUMBER —
    // the formulation the Spark side must NOT use; sum(gid) pins every
    // individual assignment
    "pipeline_global_ids" ->
      """WITH g AS (
        | SELECT source, ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS gid
        | FROM documents)
        |SELECT source, COUNT(*) AS n_docs, MIN(gid) AS min_gid,
        | MAX(gid) AS max_gid, CAST(SUM(gid) AS BIGINT) AS sum_gid
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // longest-first RE2 alternation == the automaton's leftmost-longest
    // non-overlapping selection; n_matches and the scrubbed length are
    // derived from an empty-string pass and a one-char-marker pass
    // (replacement '[REDACTED]' is 10 chars)
    "text_keyword_scrub" ->
      """WITH s AS (
        | SELECT source,
        |  length(regexp_replace(text,
        |    'fast sort key|table part|big group|scan slow|sort key|table',
        |    '', 'g')) AS len_rm,
        |  length(regexp_replace(text,
        |    'fast sort key|table part|big group|scan slow|sort key|table',
        |    chr(1), 'g')) AS len_mk
        | FROM documents),
        |m AS (
        | SELECT source, len_mk - len_rm AS n_matches,
        |  len_rm + (len_mk - len_rm) * 10 AS scrubbed_len
        | FROM s)
        |SELECT source, CAST(SUM(n_matches) AS BIGINT) AS total_matches,
        | CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
        | CAST(SUM(scrubbed_len) AS BIGINT) AS scrub_len_sum
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // every (vector, centroid) cosine recomputed; argmax replayed with
    // (cosine DESC, centroid id) row_number — verifies the compiled
    // NearestCells routing, not a replay of it
    "emb_cluster_assign" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.vec_id AS cid,
        |       list_cosine_similarity(e.v, c.v) AS cs FROM e, c),
        |f AS (SELECT vec_id, cid, cs,
        |       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |      FROM s)
        |SELECT vec_id, cid AS cluster_id, ROUND(cs, 4) AS cosine
        |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "pipeline_cluster_balance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.vec_id AS cid,
        |       list_cosine_similarity(e.v, c.v) AS cs FROM e, c),
        |f AS (SELECT vec_id, cid,
        |       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |      FROM s),
        |a AS (SELECT vec_id, cid AS cluster_id FROM f WHERE rn = 1),
        |r AS (SELECT cluster_id, vec_id,
        |       ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY vec_id) AS krn
        |      FROM a)
        |SELECT cluster_id, COUNT(*) AS n_members,
        | CAST(SUM(CASE WHEN krn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN krn <= 20 THEN vec_id END) AS BIGINT) AS kept_id_sum
        |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // margin = cos / mean(top-4 neighborhoods): cosines rounded to 6dp,
    // top-k means as exact DECIMAL sums divided once in double space, so
    // the final division and argmax are bit-identical across engines
    "emb_bitext_margin" ->
      """WITH a AS (SELECT vec_id AS x, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE label = 0 AND vec_id < 400),
        |b AS (SELECT vec_id AS y, embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE label = 1 AND vec_id < 400),
        |p AS (SELECT a.x, b.y,
        |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS c FROM a, b),
        |ka AS (SELECT x, CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ax
        |       FROM (SELECT x, y, c,
        |              ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        |             FROM p)
        |       WHERE rn <= 4 GROUP BY x),
        |kb AS (SELECT y, CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ay
        |       FROM (SELECT x, y, c,
        |              ROW_NUMBER() OVER (PARTITION BY y ORDER BY c DESC, x) AS rn
        |             FROM p)
        |       WHERE rn <= 4 GROUP BY y),
        |m AS (SELECT p.x, p.y, p.c / ((ka.ax + kb.ay) / 2) AS margin
        |      FROM p JOIN ka ON ka.x = p.x JOIN kb ON kb.y = p.y),
        |f AS (SELECT x, y, margin,
        |       ROW_NUMBER() OVER (PARTITION BY x ORDER BY margin DESC, y) AS rn
        |      FROM m)
        |SELECT x AS src_id, y AS tgt_id, ROUND(margin, 4) AS margin_r
        |FROM f WHERE rn = 1 AND margin >= 1.02 ORDER BY src_id""".stripMargin,

    // chat statistics derived ANALYTICALLY from the chunk-size
    // arithmetic — the Spark side's build-serialize-parse-explode
    // pipeline must land on exactly these numbers
    "pipeline_chat_stats" ->
      """WITH nd AS (
        | SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |       ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT) AS n,
        |  2 + doc_id % 3 AS k
        | FROM nd),
        |ch AS (
        | SELECT doc_id, n, k, i.i AS i,
        |  (n // k) + CASE WHEN i.i < n % k THEN 1 ELSE 0 END AS sz
        | FROM c, generate_series(0, 3) i(i) WHERE i.i < k),
        |a AS (
        | SELECT doc_id, CAST(MAX(k) AS INT) AS n_turns, true AS roles_ok,
        |  CAST(SUM(CASE WHEN i % 2 = 0 THEN sz ELSE 0 END) AS BIGINT) AS user_tokens,
        |  CAST(SUM(CASE WHEN i % 2 = 1 THEN sz ELSE 0 END) AS BIGINT) AS asst_tokens
        | FROM ch GROUP BY doc_id)
        |SELECT doc_id, n_turns, roles_ok, user_tokens, asst_tokens,
        | ROUND(CAST(asst_tokens AS DOUBLE) / (user_tokens + asst_tokens), 4)
        |  AS trainable_frac
        |FROM a ORDER BY doc_id""".stripMargin,

    // outlier flag = the cluster-assign replay plus the rounded-cosine
    // threshold compare
    "emb_outlier_flags" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.vec_id AS cid,
        |       list_cosine_similarity(e.v, c.v) AS cs FROM e, c),
        |f AS (SELECT vec_id, cid, cs,
        |       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |      FROM s)
        |SELECT vec_id, cid AS cluster_id, ROUND(cs, 4) AS cosine,
        | ROUND(cs, 4) < 0.15 AS is_outlier
        |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the planted alignment is the analytically-known answer: the funnel
    // must emit exactly one pair per source, pointing at its translation
    "emb_bitext_margin_engine" ->
      """SELECT vec_id AS src_id, vec_id + 10000 AS tgt_id
        |FROM embeddings WHERE vec_id < 300 ORDER BY src_id""".stripMargin,

    // the full coverage curve replayed: same top-20 order, same exact
    // integer cumulative fractions
    "text_vocab_coverage" ->
      """WITH tok AS (
        | SELECT unnest(string_split(
        |   regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS term
        | FROM documents),
        |t2 AS (SELECT term FROM tok WHERE length(term) > 0),
        |c AS (SELECT term, COUNT(*) AS cnt FROM t2 GROUP BY 1),
        |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20),
        |tot AS (SELECT COUNT(*) AS total FROM t2)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS rank,
        | term, CAST(cnt AS BIGINT) AS cnt,
        | ROUND(SUM(cnt) OVER (ORDER BY cnt DESC, term ROWS UNBOUNDED PRECEDING)
        |  / total, 6) AS cum_frac
        |FROM top, tot ORDER BY rank""".stripMargin,

    // the whitened covariance must be the identity — every pair's
    // verdict pins true (the ANN verdict pattern: the transform is
    // deterministic, DuckDB cannot eigendecompose, the PROPERTY is the
    // oracle)
    "emb_whitening" ->
      """SELECT CAST(di.i AS BIGINT) AS di, CAST(dj.i AS BIGINT) AS dj,
        | true AS ok
        |FROM generate_series(0, 7) di(i), generate_series(0, 7) dj(i)
        |WHERE di.i <= dj.i ORDER BY di, dj""".stripMargin,

    // every sum/square/division replayed with the identical rounding
    // and operand order
    "emb_dim_stats" ->
      """WITH e AS (
        | SELECT i.i - 1 AS dim, CAST(embedding[i.i] AS DOUBLE) AS v
        | FROM embeddings, generate_series(1, 256) i(i)
        | WHERE i.i <= len(embedding)),
        |a AS (
        | SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(ROUND(v * v, 8) AS DECIMAL(18,8))) AS DOUBLE) AS sx2
        | FROM e GROUP BY 1),
        |f AS (
        | SELECT dim, n, ROUND(sx / n, 6) AS mean_r,
        |  ROUND((sx2 - sx * sx / n) / (n - 1), 6) AS var_r
        | FROM a)
        |SELECT dim, n, mean_r, var_r,
        | var_r < 0.0001 AS dead, var_r > 1.0 AS rogue
        |FROM f ORDER BY dim""".stripMargin,

    // cluster assignment replayed + the cumulative cap arithmetic
    "stream_cluster_route" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT e.vec_id, c.vec_id AS cid,
        |       list_cosine_similarity(e.v, c.v) AS cs FROM e, c),
        |f AS (SELECT vec_id, cid,
        |       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |      FROM s),
        |a AS (SELECT vec_id, cid AS cluster_id FROM f WHERE rn = 1),
        |g AS (SELECT vec_id % 3 AS batch_id, cluster_id, COUNT(*) AS n
        |      FROM a GROUP BY 1, 2),
        |w AS (SELECT batch_id, cluster_id, n,
        |       COALESCE(SUM(n) OVER (PARTITION BY cluster_id ORDER BY batch_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |      FROM g)
        |SELECT batch_id, cluster_id, CAST(n AS BIGINT) AS n,
        | CAST(GREATEST(0, LEAST(25 - prior, n)) AS BIGINT) AS n_admitted
        |FROM w ORDER BY batch_id, cluster_id""".stripMargin,

    // the full collocation table replayed: same bigram construction,
    // same division sequence, same rounded-score ordering
    "text_collocations" ->
      """WITH n AS (
        | SELECT string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |n2 AS (SELECT toks FROM n WHERE len(toks) >= 2),
        |uni AS (SELECT unnest(toks) AS w FROM n2),
        |u AS (SELECT w, COUNT(*) AS cw FROM uni GROUP BY 1),
        |nu AS (SELECT COUNT(*) AS nu FROM uni),
        |bi AS (
        | SELECT toks[i.i] AS x, toks[i.i + 1] AS y
        | FROM n2, generate_series(1, 300) i(i)
        | WHERE i.i <= len(toks) - 1),
        |b AS (SELECT x, y, COUNT(*) AS cxy FROM bi GROUP BY 1, 2),
        |nb AS (SELECT COUNT(*) AS nb FROM bi)
        |SELECT x, y, CAST(cxy AS BIGINT) AS cxy,
        | ROUND(ln((CAST(cxy AS DOUBLE) / nb.nb)
        |  / ((CAST(ux.cw AS DOUBLE) / nu.nu)
        |     * (CAST(uy.cw AS DOUBLE) / nu.nu))), 6) AS pmi_r
        |FROM b JOIN u ux ON ux.w = b.x JOIN u uy ON uy.w = b.y, nu, nb
        |WHERE cxy >= 30
        |ORDER BY pmi_r DESC, x, y LIMIT 15""".stripMargin,

    // the marker-classifier replay joint with the labels
    "text_lang_confusion" ->
      """WITH n AS (
        | SELECT lang, text,
        |        ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g') || ' ' AS t
        | FROM documents),
        |s AS (
        | SELECT lang, text,
        |  (length(t) - length(replace(t, ' the ', '')))/5 + (length(t) - length(replace(t, ' and ', '')))/5
        |   + (length(t) - length(replace(t, ' is ', '')))/4 + (length(t) - length(replace(t, ' of ', '')))/4 AS en,
        |  (length(t) - length(replace(t, ' el ', '')))/4 + (length(t) - length(replace(t, ' la ', '')))/4
        |   + (length(t) - length(replace(t, ' de ', '')))/4 + (length(t) - length(replace(t, ' y ', '')))/3 AS es,
        |  (length(t) - length(replace(t, ' der ', '')))/5 + (length(t) - length(replace(t, ' und ', '')))/5
        |   + (length(t) - length(replace(t, ' die ', '')))/5 + (length(t) - length(replace(t, ' das ', '')))/5 AS de,
        |  (length(t) - length(replace(t, ' le ', '')))/4 + (length(t) - length(replace(t, ' et ', '')))/4
        |   + (length(t) - length(replace(t, ' les ', '')))/5 + (length(t) - length(replace(t, ' des ', '')))/5 AS fr
        | FROM n)
        |SELECT lang, lang_pred, COUNT(*) AS n FROM (
        | SELECT lang, CASE
        |  WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |  WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |  WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |  WHEN de >= fr AND de > 0 THEN 'de'
        |  WHEN fr > 0 THEN 'fr'
        |  ELSE 'und' END AS lang_pred
        | FROM s)
        |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    // per-batch contamination replayed with direct string 8-grams (the
    // hash-join == string-join contract the batch gates already pin)
    "stream_decontam_gate" ->
      """WITH n AS (
        | SELECT doc_id,
        |  string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        | FROM documents),
        |w AS (
        | SELECT DISTINCT doc_id,
        |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
        | FROM n, generate_series(1, 200) i(i)
        | WHERE i.i <= len(toks) - 7),
        |b AS (SELECT DISTINCT span FROM w WHERE doc_id % 10 = 0),
        |c AS (
        | SELECT DISTINCT doc_id FROM w
        | WHERE doc_id % 10 <> 0 AND span IN (SELECT span FROM b)),
        |k AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0)
        |SELECT i.i AS batch_id,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM k WHERE doc_id % 3 = i.i)
        |  AS n_docs,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE doc_id % 3 = i.i)
        |  AS n_contaminated,
        | (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM c
        |  WHERE doc_id % 3 = i.i) AS contaminated_id_sum
        |FROM generate_series(0, 2) i(i) ORDER BY batch_id""".stripMargin,

    // per-ingest-batch KS replay: three blocks, left = the batch's
    // members, right = the whole corpus (the standing reference)
    "stream_ks_drift" -> {
      def block(i: Int): String =
        s"""SELECT batch_id, n_docs, ks_d, argmax_q FROM (
           | SELECT CAST($i AS BIGINT) AS batch_id,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s WHERE doc_id % 3 = $i)
           |   AS n_docs,
           |  ROUND(abs(f1 - f2), 6) AS ks_d, q AS argmax_q,
           |""".stripMargin + ksRanked(
          s"""   SELECT q, SUM(CASE WHEN doc_id % 3 = $i THEN 1 ELSE 0 END) AS c1,
             |    COUNT(*) AS c2
             |   FROM s GROUP BY q""".stripMargin)
      qualityScoreCtes("doc_id") + "\n" + (0 until 3).map(block).mkString("\nUNION ALL\n") +
        "\nORDER BY batch_id"
    },

    // composed-curation replay: contamination by direct 8-gram string
    // overlap, url keep-first in (batch, doc_id) order (the standing
    // index + within-batch window collapse to one global ROW_NUMBER),
    // lifetime per-source caps as a global per-source ROW_NUMBER over
    // survivors, and per-batch KS of the survivor quality grid vs the
    // whole-corpus grid
    "stream_curate" -> {
      val ksBlock = (i: Int) =>
        s"""SELECT batch_id, ks_d FROM (
           | SELECT CAST($i AS BIGINT) AS batch_id,
           |  ROUND(abs(f1 - f2), 6) AS ks_d,
           |""".stripMargin + ksRanked(
          s"""   SELECT s.q,
             |    SUM(CASE WHEN sv.bid = $i THEN 1 ELSE 0 END) AS c1,
             |    COUNT(*) AS c2
             |   FROM s LEFT JOIN surv sv ON sv.doc_id = s.doc_id
             |   GROUP BY s.q""".stripMargin)
      s"""WITH n AS (
         | SELECT doc_id, source, text,
         |  regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
         | FROM documents),
         |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
         |w AS (
         | SELECT DISTINCT doc_id,
         |  array_to_string(list_slice(toks, i.i, i.i + 7), ' ') AS span
         | FROM tk, generate_series(1, 460) i(i)
         | WHERE i.i <= len(toks) - 7),
         |bsp AS (SELECT DISTINCT span FROM w WHERE doc_id % 10 = 0),
         |contam AS (
         | SELECT DISTINCT doc_id FROM w
         | WHERE doc_id % 10 <> 0 AND span IN (SELECT span FROM bsp)),
         |arr AS (
         | SELECT doc_id, source,
         |  CAST(doc_id % 3 AS BIGINT) AS bid,
         |  doc_id IN (SELECT doc_id FROM contam) AS is_contam,
         |  (CASE WHEN kk % 3 = 1 THEN 'https' ELSE 'http' END)
         |   || '://site' || CAST(kk % 5 AS VARCHAR) || '.example.com'
         |   || '/docs/' || CAST(kk AS VARCHAR) AS canon_url
         | FROM (
         |  SELECT *, CASE WHEN doc_id % 10 = 7 AND doc_id >= 151
         |     THEN doc_id - 151
         |    WHEN doc_id % 10 = 4 THEN doc_id - 3
         |    WHEN doc_id % 10 = 1 AND doc_id >= 305 THEN doc_id - 305
         |    ELSE doc_id END AS kk
         |  FROM documents WHERE doc_id % 10 <> 0)),
         |urlr AS (
         | SELECT doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY bid, doc_id)
         |   AS rn_url
         | FROM arr WHERE NOT is_contam),
         |surv AS (
         | SELECT a.doc_id, a.source, a.bid
         | FROM arr a JOIN urlr u ON u.doc_id = a.doc_id
         | WHERE u.rn_url = 1),
         |adm AS (
         | SELECT doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY bid, doc_id)
         |   AS rn_src
         | FROM surv),
         |s AS (
         | SELECT doc_id,
         |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |   ROUND(
         |    LEAST(1.0, (CASE WHEN length(t) = 0 THEN 0
         |                ELSE length(t) - length(translate(t, ' ', '')) + 1 END) / 50.0)
         |    * (1.0 - (length(text) - length(translate(text, '.,;:!?', ''))) / length(text))
         |    * (1.0 - (length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', ''))) / length(text)),
         |   4) END AS q
         | FROM n),
         |ksall AS (
         |${(0 until 3).map(ksBlock).mkString("\nUNION ALL\n")}),
         |f AS (
         | SELECT a.bid AS batch_id, a.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN a.is_contam THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_contaminated,
         |  CAST(SUM(CASE WHEN NOT a.is_contam AND u.rn_url > 1
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_url_dup,
         |  CAST(SUM(CASE WHEN ad.rn_src <= 12 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_admitted,
         |  CAST(COALESCE(SUM(CASE WHEN ad.rn_src <= 12 THEN a.doc_id END), 0)
         |   AS BIGINT) AS admitted_id_sum
         | FROM arr a
         | LEFT JOIN urlr u ON u.doc_id = a.doc_id
         | LEFT JOIN adm ad ON ad.doc_id = a.doc_id
         | GROUP BY 1, 2)
         |SELECT f.batch_id, f.source, f.n_docs, f.n_contaminated,
         | f.n_url_dup, f.n_admitted, f.admitted_id_sum, k.ks_d
         |FROM f JOIN ksall k ON k.batch_id = f.batch_id
         |ORDER BY f.batch_id, f.source""".stripMargin
    },

    // the composed curation replay: readability gate, scrub counts,
    // fingerprint keep-first dedup (arg_min carries the keeper's
    // attributes), then the naive global ROW_NUMBER for the id audit
    "pipeline_curate_v2" ->
      """WITH n AS (
        | SELECT doc_id, source, text,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |       ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
        |   - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS BIGINT) AS n_syllables,
        |  CAST(GREATEST(1, length(regexp_replace(text, '[.!?]+', '#', 'g'))
        |   - length(regexp_replace(text, '[.!?]+', '', 'g'))) AS BIGINT) AS n_sentences
        | FROM n),
        |f AS (
        | SELECT doc_id,
        |  CASE WHEN n_words = 0 THEN NULL
        |   ELSE 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) END AS fre
        | FROM c),
        |k AS (
        | SELECT n.doc_id, n.source, n.t,
        |  length(regexp_replace(n.text,
        |   'fast sort key|table part|big group|scan slow|sort key|table',
        |   chr(1), 'g'))
        |  - length(regexp_replace(n.text,
        |   'fast sort key|table part|big group|scan slow|sort key|table',
        |   '', 'g')) AS n_matches
        | FROM n JOIN f ON f.doc_id = n.doc_id
        | WHERE f.fre >= 30),
        |dd AS (
        | SELECT md5(t) AS fp, MIN(doc_id) AS doc_id,
        |  arg_min(source, doc_id) AS source,
        |  arg_min(n_matches, doc_id) AS n_matches
        | FROM k GROUP BY 1),
        |g AS (
        | SELECT source, n_matches,
        |  ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS gid
        | FROM dd)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(n_matches) AS BIGINT) AS total_matches,
        | CAST(SUM(gid) AS BIGINT) AS sum_gid
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // curriculum replay: the same readability buckets, then the naive
    // corpus-wide ROW_NUMBER the Spark side must avoid
    "pipeline_curriculum" ->
      """WITH n AS (
        | SELECT doc_id, text,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(t) = 0 THEN 0
        |       ELSE length(t) - length(translate(t, ' ', '')) + 1 END AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
        |   - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS BIGINT) AS n_syllables,
        |  CAST(GREATEST(1, length(regexp_replace(text, '[.!?]+', '#', 'g'))
        |   - length(regexp_replace(text, '[.!?]+', '', 'g'))) AS BIGINT) AS n_sentences
        | FROM n),
        |f AS (
        | SELECT doc_id,
        |  CASE WHEN n_words = 0 THEN NULL
        |   ELSE 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) END AS fre
        | FROM c),
        |b AS (
        | SELECT doc_id,
        |  CASE WHEN fre >= 60 THEN 'easy'
        |       WHEN fre >= 30 THEN 'standard' ELSE 'hard' END AS bucket
        | FROM f),
        |r AS (
        | SELECT doc_id, bucket,
        |  ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS r
        | FROM b),
        |g AS (
        | SELECT bucket, ROW_NUMBER() OVER (ORDER BY r, bucket) - 1 AS pos
        | FROM r)
        |SELECT bucket, COUNT(*) AS n_docs, MIN(pos) AS min_pos,
        | MAX(pos) AS max_pos, CAST(SUM(pos) AS BIGINT) AS sum_pos
        |FROM g GROUP BY bucket ORDER BY bucket""".stripMargin,

    // every containment test and both window totals recomputed; ln of an
    // exact-integer ratio is cross-engine stable at 6dp
    "profile_term_pmi" ->
      """WITH d AS (
        | SELECT source,
        |  ' ' || regexp_replace(trim(text), '\s+', ' ', 'g') || ' ' AS pt
        | FROM documents),
        |e AS (
        | SELECT source, tm.tm AS term,
        |  CASE WHEN position(' ' || tm.tm || ' ' IN pt) > 0 THEN 1 ELSE 0 END AS has
        | FROM d, (VALUES ('table'), ('query'), ('window'), ('spark'),
        |          ('data'), ('customer')) tm(tm)),
        |c AS (
        | SELECT term, source, CAST(SUM(has) AS BIGINT) AS n_ts,
        |  COUNT(*) AS n_s
        | FROM e GROUP BY 1, 2),
        |w AS (
        | SELECT term, source, n_ts, n_s,
        |  SUM(n_ts) OVER (PARTITION BY term) AS n_t,
        |  SUM(n_s) OVER (PARTITION BY term) AS n
        | FROM c)
        |SELECT term, source, n_ts,
        | CASE WHEN n_ts = 0 THEN NULL
        |  ELSE ROUND(ln((CAST(n_ts AS DOUBLE) * n) / (n_t * n_s)), 6) END AS pmi_r
        |FROM w ORDER BY term, source""".stripMargin,

    // three two-sample KS blocks over the shared quality replica; exact
    // integer-count ECDF fractions, smallest-argmax witness
    "profile_ks_drift" -> {
      def block(label: String, left: String, right: String): String =
        s"""SELECT pair, ks_d, argmax_q FROM (
           | SELECT '$label' AS pair, ROUND(abs(f1 - f2), 6) AS ks_d,
           |  q AS argmax_q,
           |""".stripMargin + ksRanked(
          s"""   SELECT q, SUM(CASE WHEN $left THEN 1 ELSE 0 END) AS c1,
             |    SUM(CASE WHEN $right THEN 1 ELSE 0 END) AS c2
             |   FROM s WHERE ($left) OR ($right) GROUP BY q""".stripMargin)
      qualityScoreCtes("source") + "\n" +
        Seq(
          block("src0|src1", "source = 'src0'", "source = 'src1'"),
          block("src0|src19", "source = 'src0'", "source = 'src19'"),
          block("low|high",
            "CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) < 10",
            "CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) >= 10"))
          .mkString("\nUNION ALL\n") + "\nORDER BY pair"
    })
}
