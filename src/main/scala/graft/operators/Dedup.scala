package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash near-dup, and n-gram Jaccard.
  *
  * Scale design (the whole point at 100 TB):
  *  - everything is DataFrame -> DataFrame; no driver materialization;
  *  - shingling/minhashing/simhashing are per-row `Column` expressions
  *    (codegen'd, shuffle-free);
  *  - candidate generation is the only shuffle: an equi-join on
  *    (band, bandHash) buckets — exactly the hash-partitioned join Spark
  *    does well — instead of the O(n²) all-pairs compare;
  *  - exact Jaccard verification runs only on the candidate set.
  *
  * Hash functions are Spark's `xxhash64` (codegen'd, deterministic across
  * partitionings and cluster sizes — a signature computed on 1 executor
  * equals one computed on 1000).
  */
object Dedup {

  // ------------------------------------------------------------------
  // Shingling + n-gram Jaccard
  // ------------------------------------------------------------------

  /** Distinct character n-gram shingles of a string column. */
  def shingles(c: Column, n: Int): Column = shinglesOf(TextAnalysis.normText(c), n)

  /** Shingles of an ALREADY-normalized text column. */
  private def shinglesOf(t: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
        i => t.substr(i, lit(n))))

  /** Exact Jaccard similarity of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }

  /** Candidate pairs for n-gram Jaccard >= threshold via PREFIX-FILTERED
    * inverted-index join (Chaudhuri et al.'s SSJoin prefix filter, the
    * MapReduce formulation of Vernica et al., VLDB'10).
    *
    * A naive inverted-index join (explode ALL shingles, equi-join) has a
    * skew hazard: one ubiquitous "stop shingle" (" the ") appearing in
    * every document makes a single shuffle key quadratic. Instead, each
    * document indexes only the `nsh - ceil(t*nsh) + 1` globally RAREST of
    * its shingles (order: ascending document frequency, shingle text as
    * tie-break). Completeness is exact, not heuristic: any pair with
    * Jaccard >= t overlaps in >= ceil(t*|s|) shingles for each member s,
    * and the frequency-order-minimal common shingle must then sit inside
    * BOTH prefixes (if it were outside a's prefix, the >= |a|-prefix(a)+1
    * = ceil(t*|a|) shingles before it would all be non-shared, capping the
    * overlap at ceil(t*|a|)-1 — contradiction). Stop shingles have maximal
    * document frequency, so they sort last and never enter a prefix:
    * the hot key disappears while recall stays 100%. */
  private[graft] def ngramCandidates(df: DataFrame, idCol: String, textCol: String,
                                     n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint (r19, guide §1.2): the exploded shingle stream
    // feeds BOTH the document-frequency aggregate and the prefix-rank
    // join below — without the pin the shingling expression chain
    // (normText + per-position substr + array_distinct, the expensive
    // per-row work) executes twice per call. The pin is DOC-KEYED (one
    // array row per doc, no shingle-keyed exchange), so the stop-shingle
    // hot key the prefix filter exists to kill never becomes a shuffle
    // key. Note the operator becomes eager at call time (the established
    // pplBuckets/videoPairs pattern).
    val sh = df.select(col(idCol).as("id"),
        shinglesOf(TextAnalysis.normText(col(textCol)), n).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .localCheckpoint()
    val inv = sh.select(col("id"), col("nsh"), explode(col("sh")).as("g"))
    // shingle document frequency: one hash agg, map-side combined
    val dfreq = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // keep each doc's prefix in (df, g) order; the 1e-9 nudge errs toward
    // a LONGER prefix when t*nsh lands on an ulp above an integer
    // (extra candidates are harmless; a shorter prefix would lose recall)
    val prefixes = inv.join(dfreq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .filter(col("rk") <= col("nsh") - ceil(col("nsh") * threshold - 1e-9) + 1)
      .select(col("id"), col("g"))
    prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** All-pairs n-gram Jaccard >= threshold: prefix-filtered candidates
    * (see [[ngramCandidates]] — linear in shingles, stop-shingle-proof),
    * then EXACT Jaccard on the survivors via the native one-pass
    * [[graft.functions.NgramJaccard]] expression.
    * Returns (a_id, b_id, jaccard). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val txt = df.select(col(idCol).as("id"),
      TextAnalysis.normText(col(textCol)).as("t"))
    ngramCandidates(df, idCol, textCol, n, threshold)
      .join(txt.as("ta"), col("a_id") === col("ta.id"))
      .join(txt.as("tb"), col("b_id") === col("tb.id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.NgramJaccard.ngramJaccard(col("ta.t"), col("tb.t"), n)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** k-wide MinHash signature over n-gram shingles of the normalized text.
    * Delegates to the native codegen'd [[graft.functions.MinHashSig]]
    * expression — the built-in higher-order-function formulation is
    * interpreted per lambda application and measured ~100x slower. */
  def minhashSignature(c: Column, k: Int, shingleSize: Int): Column =
    graft.functions.MinHashSig.minhashSig(TextAnalysis.normText(c), k, shingleSize)

  /** LSH banding: array of one xxhash64 per band over its signature slice
    * (band index seeds the hash so buckets never collide across bands). */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)), b))

  /** Candidate near-dup pairs via MinHash LSH: docs sharing any band
    * bucket. Returns (a_id, b_id) distinct, a_id < b_id.
    * The self-join shuffles on the band hash — the LSH trick that replaces
    * the O(n²) compare with bucket-local joins. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, shingleSize: Int = 5,
                        bands: Int = 8): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), k, shingleSize).as("sig"))
    val banded = sig.select(col("id"), explode(lshBandHashes(col("sig"), bands, r)).as("bh"))
    banded.as("x").join(banded.as("y"),
        col("x.bh") === col("y.bh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
  }

  /** Theoretical LSH banding recall: probability that a pair with true
    * Jaccard `j` shares at least one of `bands` band hashes when the
    * signature has `k` components (r = k/bands rows per band). The
    * S-curve 1-(1-j^r)^b every banded funnel here inherits
    * ([[minhashCandidates]], [[minhashVerifiedPairs]],
    * [[incrementalNearDup]]) — use it to pick dials for a target
    * threshold instead of guessing. */
  def bandingRecall(j: Double, k: Int, bands: Int): Double = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    1.0 - math.pow(1.0 - math.pow(j, r), bands)
  }

  /** MinHash LSH candidates verified with exact n-gram Jaccard.
    * Three-stage funnel so cost scales with true near-dups, not candidates:
    *  1. banding join -> candidate pairs (superset);
    *  2. signature-estimate filter: est jaccard = matching sig components / k
    *     — a k-long zip per pair, orders of magnitude cheaper than shingle
    *     intersection. Pairs below `threshold - estMargin` drop here
    *     (estMargin absorbs MinHash variance ~ sqrt(j(1-j)/k));
    *  3. exact Jaccard on the survivors only.
    * Returns (a_id, b_id, jaccard). */
  /** (id, sig, bh) banded signatures — the funnel front shared by the
    * self-join ([[minhashVerifiedPairs]]) and batch-vs-corpus
    * ([[incrementalNearDup]]) variants. Signatures ride along through
    * the banding so candidate generation and estimation happen in ONE
    * join (no re-join against a signature table). */
  private def bandedSigs(df: DataFrame, idCol: String, textCol: String,
                         k: Int, shingleSize: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), k, shingleSize).as("sig"))
      .select(col("id"), col("sig"),
        explode(lshBandHashes(col("sig"), bands, k / bands)).as("bh"))
  }

  private def normTxt(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.normText(col(textCol)).as("t"))

  /** Exact-Jaccard verification tail shared by both funnel variants:
    * joins the raw normalized texts (~100x smaller than shingle arrays)
    * for the surviving candidates only and computes Jaccard with the
    * native one-pass expression — no array materialization, no
    * interpreted set ops. */
  private def verifyExact(cands: DataFrame, aCol: String, bCol: String,
                          aTxt: DataFrame, bTxt: DataFrame,
                          shingleSize: Int, threshold: Double): DataFrame =
    cands
      .join(aTxt.as("ta"), col(aCol) === col("ta.id"))
      .join(bTxt.as("tb"), col(bCol) === col("tb.id"))
      .select(col(aCol), col(bCol),
        graft.functions.NgramJaccard.ngramJaccard(col("ta.t"), col("tb.t"), shingleSize)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, shingleSize: Int = 5, bands: Int = 8,
                           threshold: Double = 0.0,
                           estMargin: Double = 0.15): DataFrame = {
    // NOT pinned (r19 measurement): localCheckpointing the doc-keyed
    // (id, sig) frame here — so both self-join sides read it instead of
    // re-running the signature expression — won 1.14-1.21x at sf0.1 but
    // made the SCALE sf10 rung BIMODAL: 5-18 s (faster than unpinned)
    // in some runs, 68-148 s in others (fresh-JVM single-probe repro: one
    // straggler task doing the whole candidate aggregate while 31 cores
    // idle; unpinned code is stable 16-23 s). A skew-threshold coin
    // flip this operator cannot control is worse than the saved pass —
    // reverted, and the scale gate's sf10 ceiling is the arbiter.
    val banded = bandedSigs(df, idCol, textCol, k, shingleSize, bands)
    val estimated = banded.as("x").join(banded.as("y"),
        col("x.bh") === col("y.bh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        graft.functions.SigAgree.sigAgree(col("x.sig"), col("y.sig")).as("est"))
      .filter(col("est") >= threshold - estMargin)
      .select(col("a_id"), col("b_id"))
      .distinct() // a pair can collide in several bands
    verifyExact(estimated, "a_id", "b_id",
      normTxt(df, idCol, textCol), normTxt(df, idCol, textCol),
      shingleSize, threshold)
  }

  /** Stock-Spark-ML variant of MinHash near-dup detection, for parity with
    * the `org.apache.spark.ml.feature` route (preference (a): compose
    * existing ops): binary HashingTF over shingles -> MinHashLSH ->
    * approxSimilarityJoin at the given Jaccard-distance threshold.
    * Returns (a_id, b_id, jaccard_est). The custom
    * [[minhashVerifiedPairs]] funnel is the default (native signature
    * expression + exact verification); this exists as the
    * library-primitive baseline and cross-check. */
  def minhashMlPairs(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 5, numHashTables: Int = 8,
                     maxJaccardDistance: Double = 0.5): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    val tf = new HashingTF().setInputCol("sh").setOutputCol("features")
      .setBinary(true).setNumFeatures(1 << 18)
    val feat = tf.transform(sh)
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = mh.fit(feat)
    model.approxSimilarityJoin(feat, feat, maxJaccardDistance, "dist")
      .filter(col("datasetA.id") < col("datasetB.id"))
      .select(col("datasetA.id").as("a_id"), col("datasetB.id").as("b_id"),
        (lit(1.0) - col("dist")).as("jaccard_est"))
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes, folded into one long. Runs in the native one-pass
    * [[graft.functions.SimHash64Expr]] — the higher-order-function
    * formulation ([[simhash64Hof]]) evaluates O(tokens x 64) interpreted
    * lambda applications per row. `portable = true` swaps the token hash
    * from xxhash64 to MD5-low-64 so the signature is reproducible by
    * other engines (the correctness oracle recomputes it in DuckDB). */
  def simhash64(c: Column, portable: Boolean = false): Column =
    graft.functions.SimHash64Expr.simhash64Norm(TextAnalysis.normText(c), portable)

  /** Reference `functions._` formulation of [[simhash64]], kept as the
    * equivalence oracle for the native expression's spec (and as the
    * readable specification of the algorithm). Interpreted — do not use
    * in hot paths. */
  private[graft] def simhash64Hof(c: Column): Column = {
    val words = split(TextAnalysis.normText(c), " ")
    val hashes = transform(words, w => xxhash64(w))
    val masks = array((0 until 64).map(b => lit(1L << b)): _*)
    val counts = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, masks,
        (cnt, m) => cnt + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1)))
    aggregate(zip_with(counts, masks, (cnt, m) => when(cnt > 0, m).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming <= maxDistance.
    * Candidate generation blocks the 64-bit signature into `blocks` equal
    * bit-slices: by pigeonhole, a pair within hamming `blocks - 1` MUST
    * agree exactly on at least one slice, so detection is complete for
    * maxDistance < blocks and the join stays bucket-local (Manku et al.'s
    * simhash-dedup blocking). Larger maxDistance values still work but
    * with recall < 1 — callers wanting completeness pick
    * blocks > maxDistance (more blocks = smaller slices = bigger buckets,
    * the standard recall/cost dial). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int, blocks: Int = 4,
                   portable: Boolean = false): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sig = df.select(col(idCol).as("id"), simhash64(col(textCol), portable).as("sig"))
    val blocked = sig.select(col("id"), col("sig"),
      explode(array((0 until blocks).map(q =>
        struct(lit(q).as("q"),
          shiftright(col("sig"), q * width).bitwiseAND(lit(mask)).as("blk"))): _*)).as("qb"))
    blocked.as("x").join(blocked.as("y"),
        col("x.qb.q") === col("y.qb.q") && col("x.qb.blk") === col("y.qb.blk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        hamming64(col("x.sig"), col("y.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  // ------------------------------------------------------------------
  // Cluster resolution (pairs -> components)
  // ------------------------------------------------------------------

  /** Resolve duplicate PAIRS into duplicate CLUSTERS: connected components
    * over the pair graph, labeling every member with the smallest id in
    * its component — the canonical "keeper" a dedup pipeline retains while
    * dropping the rest. Returns (id, cluster_id), one row per id appearing
    * in `pairs` (singletons never enter the pair list; callers union them
    * back with cluster_id = id if needed).
    *
    * Two regimes, same deterministic answer:
    *  - graphs with <= `smallGraphEdges` distinct edges (default 1M) solve
    *    via exact min-rooted union-find on the driver — a bounded,
    *    explicitly-dialed collect (the [[Similarity.cosineNearDupPairs]]
    *    cap pattern) that beats several Spark rounds of fixed overhead;
    *  - larger graphs run alternating large-star / small-star (Kiveris et
    *    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    *    each round is two hash equi-joins + min-aggregations over bare id
    *    pairs, converging to per-component stars in O(log^2 n) rounds even
    *    on pathological long-chain graphs (plain min-label propagation
    *    needs diameter rounds). There the driver sees only (count,
    *    xor-hash) convergence probes, and `localCheckpoint` truncates the
    *    otherwise exponentially growing iterative lineage.
    * Both label by component-min, so the cutover is invisible. Ids must be
    * integral (cast to long). */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxIters: Int = 30,
                          smallGraphEdges: Long = 1L << 20): DataFrame = {
    var edges = pairs
      .select(greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    // (count, xor-of-hashes): order-independent, overflow-free under ANSI
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    // Small graphs (<= smallGraphEdges distinct edges, default 1M ≈ 16 MB)
    // solve exactly on the driver: min-rooted union-find is microseconds
    // where every distributed round costs several shuffles — and the
    // result is IDENTICAL (component-min labels are order-independent), so
    // the cutover is invisible to callers. The collect is BOUNDED by the
    // explicit dial (the cosineNearDupPairs cap pattern); 0 forces the
    // distributed path.
    if (sig._1 > 0 && sig._1 <= smallGraphEdges)
      return unionFindComponents(pairs.sparkSession, edges)
    var it = 0
    var converged = sig._1 == 0L
    while (!converged && it < maxIters) {
      // large-star: every node links its strictly LARGER neighbors to the
      // min of its closed neighborhood
      val und = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = und.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val afterLarge = und.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: every node links its smaller neighbors (and itself) to
      // the min of the neighborhood (edges are (larger -> smaller) here)
      val minsS = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = afterLarge.join(minsS, "u")
        .select(col("v").as("n"), col("m"))
        .union(minsS.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    // at fixpoint the edges are stars (member -> component min); the
    // centers label themselves
    val members = edges.select(col("u").as("id"), col("v").as("cluster_id"))
    val centers = edges.select(col("v").as("id")).distinct()
      .join(edges.select(col("u").as("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    members.union(centers)
  }

  /** Exact min-rooted union-find over an already-bounded edge list (the
    * small-graph path of [[connectedComponents]]). Union-by-min + path
    * compression: the root of every set is its smallest member, so labels
    * match the distributed algorithm exactly. */
  private def unionFindComponents(spark: org.apache.spark.sql.SparkSession,
                                  edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.SortedSet.empty[Long]
    edges.collect().foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      nodes += a; nodes += b
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows: java.util.List[Row] = new java.util.ArrayList[Row](nodes.size)
    nodes.foreach(n => rows.add(Row(n, find(n))))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false))))
  }

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup groups by normalized-text fingerprint: one row per
    * distinct content with the min id kept and the duplicate count.
    * A single hash-partitioned aggregation — the canonical scalable
    * exact-dedup plan (map-side partial agg halves the shuffle). */
  def exactDedupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-stratum exact-duplicate matrix: for every pair of strata
    * (sources), how many distinct contents appear in BOTH — the exact
    * counterpart of the theta-sketch overlap estimate
    * ([[Profile.thetaOverlap]]), for when the corpus can afford one
    * fingerprint shuffle and the audit needs exact counts (e.g. license
    * contamination between crawl snapshots).
    *
    * Plan: distinct (stratum, fingerprint) — ONE map-side-combined
    * shuffle over the corpus — then a fingerprint-keyed self-join whose
    * per-key width is bounded by #strata (a boilerplate content shared
    * by every stratum contributes #strata² pair rows, never
    * corpus-scale), and a #strata²-row aggregate. */
  def crossStratumOverlap(df: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val fps = df.select(col(strataCol).as("s"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct()
    val a = fps.select(col("s").as("src_a"), col("fp"))
    val b = fps.select(col("s").as("src_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Keeps one canonical document per near-dup cluster: resolve `pairs`
    * to connected components, then drop every member that is not its
    * cluster's min id. Documents never appearing in `pairs` pass through
    * untouched. The corpus side is one left-anti hash join against the
    * (pair-bounded, id-only) drop set — `df` itself is never collected,
    * so a 100 TB corpus streams through with a single shuffle-free probe
    * when the drop set broadcasts. */
  def keepCanonical(df: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Quality-aware canonical selection: like [[keepCanonical]], but the
    * survivor of each near-dup cluster is the member with the HIGHEST
    * `score` (ties -> lowest id) instead of the lowest id — the policy
    * production dedup actually wants, since the canonical copy should
    * be the best-written/longest variant, not whichever crawled first.
    *
    * Scale shape matches [[keepCanonical]]: cluster labeling touches
    * only PAIRED ids, the argmax window runs over the pair-bounded
    * labeled frame carrying just (id, score), and the full corpus is
    * only ever probed by a broadcastable id-only anti-join — unpaired
    * docs never shuffle. */
  def keepBest(df: DataFrame, pairs: DataFrame, idCol: String,
      score: Column, aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val scored = df.select(col(idCol).as("id"), score.as("__kb_s"))
      .join(comps, Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__kb_s").desc, col("id"))
    val drop = scored.withColumn("__kb_rn", row_number().over(w))
      .filter(col("__kb_rn") =!= 1).select(col("id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Incremental exact dedup — the production pattern for a corpus that
    * grows batch by batch: of the `batch` docs, keep the min-`idCol` copy
    * of each distinct normalized text, then drop those whose fingerprint
    * already exists in `corpus`. The corpus reduces to a distinct-
    * fingerprint projection feeding a left-anti join, so an existing
    * 100 TB corpus costs one column scan + hash-distinct per batch and is
    * never rewritten. Output: the surviving batch rows + their `fp`. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    require(!batch.columns.contains("fp"),
      "batch already contains the output column fp")
    val corpusFp = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    val inBatchKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col(idCol))
    batch.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(inBatchKeep))
      .filter(col("rn") === 1).drop("rn")
      .join(corpusFp, Seq("fp"), "left_anti")
  }

  /** Benchmark-decontamination SURGERY: remove every token covered by a
    * `spanTokens`-token window that appears verbatim in any benchmark
    * document — the GPT-3-appendix remedy (cut the overlapping spans,
    * keep the rest of the document) where [[spanContaminated]] merely
    * flags. The benchmark side is small by nature, so its distinct
    * window-hash set broadcasts and the corpus streams shuffle-free;
    * only the tiny per-doc cut lists aggregate. Returns
    * (idCol, clean_text, n_removed) for EVERY corpus doc — untouched
    * docs pass through with n_removed = 0. */
  /** (base, occ) for the span-surgery operators: normalized text per doc
    * (NULL folds to "" so those docs pass through as ("", 0) like the
    * oracle's COALESCE) and one (id, h, pos) row per token window. */
  private def spanOcc(df: DataFrame, idCol: String, textCol: String,
                      spanTokens: Int): (DataFrame, DataFrame) = {
    val base = df.select(col(idCol).as("id"),
      TextAnalysis.normText(coalesce(col(textCol), lit(""))).as("t"))
    val occ = base.select(col("id"),
      explode(graft.functions.SpanHashesPos.spanHashesPos(col("t"), spanTokens)).as("w"))
      .select(col("id"), col("w.h").as("h"), col("w.pos").as("pos"))
    (base, occ)
  }

  /** Surgery tail shared by [[removeDuplicateSpans]] and
    * [[scrubContaminated]]: cut every token covered by a flagged window
    * start; docs without cuts pass through untouched. */
  private def cutSpans(base: DataFrame, cuts: DataFrame, spanTokens: Int,
                       idCol: String): DataFrame = {
    val surgery = graft.functions.CutTokenSpans.cutTokenSpans(
      col("t"), coalesce(col("starts"), array().cast("array<int>")), spanTokens)
    base.join(cuts, Seq("id"), "left_outer")
      .select(col("id"), surgery.as("c"))
      .select(col("id").as(idCol), col("c.clean").as("clean_text"),
        col("c.removed").cast("long").as("n_removed"))
  }

  def scrubContaminated(corpus: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val (base, occ) = spanOcc(corpus, idCol, textCol, spanTokens)
    // the same positional window hash on the bench side guarantees
    // hash-identical windows for string-identical spans
    val benchHashes = spanOcc(bench, idCol, textCol, spanTokens)._2
      .select(col("h")).distinct()
    val cuts = occ.join(broadcast(benchHashes), Seq("h"))
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("starts"))
    cutSpans(base, cuts, spanTokens, idCol)
  }

  /** Incremental NEAR-dup screening — the continuous-crawl shape: a new
    * batch is checked for near-duplicates AGAINST THE STANDING CORPUS
    * (not within itself; compose with [[minhashVerifiedPairs]] on the
    * batch for in-batch pairs). Same three-stage funnel as the
    * self-join variant — banding join, signature-estimate filter, exact
    * Jaccard on survivors — but batch-vs-corpus, so per-round cost is
    * driven by the BATCH size: the batch's banded rows are tiny and the
    * corpus side is the signature index a production deployment keeps
    * materialized (bucketed by band hash, making the candidate join
    * exchange-free on the corpus side) and appends accepted batches to.
    * Exact verification joins text back for the few surviving candidate
    * ids only. Returns (batch_id, corpus_id, jaccard >= threshold).
    *
    * RECALL IS PROBABILISTIC AT THE THRESHOLD — this is a screening
    * funnel, not an exact operator. A pair at true Jaccard j survives
    * banding with probability 1-(1-j^r)^bands (r = k/bands rows per
    * band), and the signature-estimate filter drops a further small
    * fraction at the boundary (sig agreement is Binomial(k, j)/k; pairs
    * within ~sqrt(j(1-j)/k) of threshold-estMargin can fall under it).
    * At the DEFAULT dials (k=32, bands=8, r=4) banding recall is ~0.67
    * at j=0.60, ~0.89 at j=0.70, ~0.985 at j=0.80, ~0.9998 at j=0.90 —
    * i.e. borderline
    * pairs at exactly the threshold are found two times in three, while
    * clear near-dups are essentially never missed ([[bandingRecall]]
    * computes the curve for any dials). For near-1 recall AT the
    * threshold, raise k holding r: k=128/bands=32 gives ~0.99 at
    * j=0.6 for 4x signature cost — the false-candidate rate at low j is
    * set by r alone (collision probability j^r per band), so deepening
    * bands at fixed r buys recall without widening the candidate join's
    * low-similarity noise. Use [[ngramJaccardPairs]] when exact recall
    * at the threshold is required and the corpus is small enough. */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 32, shingleSize: Int = 5, bands: Int = 8,
                         threshold: Double = 0.6,
                         estMargin: Double = 0.15): DataFrame = {
    val estimated = bandedSigs(batch, idCol, textCol, k, shingleSize, bands).as("x")
      .join(bandedSigs(corpus, idCol, textCol, k, shingleSize, bands).as("y"),
        col("x.bh") === col("y.bh"))
      .select(col("x.id").as("batch_id"), col("y.id").as("corpus_id"),
        graft.functions.SigAgree.sigAgree(col("x.sig"), col("y.sig")).as("est"))
      .filter(col("est") >= threshold - estMargin)
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    verifyExact(estimated, "batch_id", "corpus_id",
      normTxt(batch, idCol, textCol), normTxt(corpus, idCol, textCol),
      shingleSize, threshold)
  }

  /** Paragraph-level exact dedup — the line-wise pass of the published
    * web-curation pipelines (cf. RefinedWeb/Falcon's line-level
    * deduplication: boilerplate lines repeated across pages are removed
    * corpus-wide, keeping the FIRST occurrence in (document, position)
    * order; Lee et al. ACL'22 measure the same redundancy class).
    * Documents are split on `sep`; each paragraph's md5 fingerprint is
    * its identity (exact match — normalization is the caller's choice
    * upstream, same contract as [[exactDedupGroups]]).
    *
    * Distributed shape: posexplode -> fingerprint (per-row, codegen'd),
    * then a map-side-combined groupBy picks each fingerprint's global
    * first occurrence as min(struct(id, pos)) — partial aggregation
    * keeps a corpus-wide boilerplate line (the skew case: one paragraph
    * in 30% of pages) cheap, because every partition contributes one
    * candidate row rather than shuffling every occurrence to one
    * reducer. An fp-keyed equi-join then marks survivors and each doc
    * reassembles with a bounded per-doc sort. Two equi-keyed shuffles,
    * never all-pairs, no global window.
    *
    * Returns (idCol, n_paras, n_kept, textCol rebuilt with survivors
    * joined by `sep`; empty string when every paragraph was a dup). */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
      .withColumn("fp", md5(col("para")))
    val firstOcc = paras.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    val kept = paras.join(firstOcc, Seq("fp"))
      .filter(col("id") === col("f.id") && col("pos") === col("f.pos"))
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para")), sep).as("rebuilt"))
    paras.groupBy(col("id")).agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("rebuilt"), lit("")).as(textCol))
  }

  /** Materialize the standing corpus's banded MinHash signatures as the
    * PERSISTENT index [[incrementalNearDup]]'s contract describes — the
    * artifact a continuous-crawl deployment keeps on disk instead of
    * re-signaturing the corpus every batch. A band-hash-bucketed,
    * bucket-sorted catalog table: [[nearDupServe]]'s candidate join then
    * plans with NO exchange on the corpus side (only the tiny batch side
    * shuffles into the index's bucketing), the same exchange-free shape
    * `conv_bucketed_join` proves for the analytics tables. Per-serve
    * cost is O(batch); per-accepted-batch maintenance is
    * [[appendToNearDupIndex]] (an appended segment, standing rows never
    * rewritten). Dials are baked into the index rows; serve must use the
    * same (k, shingleSize, bands). */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        table: String, k: Int = 32, shingleSize: Int = 5,
                        bands: Int = 8, numBuckets: Int = 16): Unit =
    graft.sinks.OrcSink.writeBucketed(
      bandedSigs(corpus, idCol, textCol, k, shingleSize, bands),
      table, bucketCols = Seq("bh"), numBuckets = numBuckets)

  /** Append an ACCEPTED batch's banded signatures to the standing index
    * (same bucket spec, new files per bucket — standing files untouched).
    * Call after the batch passes screening, so the next batch is checked
    * against it too. */
  def appendToNearDupIndex(batch: DataFrame, idCol: String, textCol: String,
                           table: String, k: Int = 32, shingleSize: Int = 5,
                           bands: Int = 8, numBuckets: Int = 16): Unit =
    bandedSigs(batch, idCol, textCol, k, shingleSize, bands)
      .write.mode("append").format("orc")
      .bucketBy(numBuckets, "bh").sortBy("bh")
      .saveAsTable(table)

  /** [[incrementalNearDup]] against the PERSISTENT signature index: the
    * batch is signatured and banded (O(batch) scan), candidates come
    * from the bucketed index join (corpus side exchange-free), the
    * estimate filter runs on the signatures the index rows carry, and
    * exact verification joins `corpus` text back for survivors only.
    * Returns the same (batch_id, corpus_id, jaccard) frame as the
    * direct computation — spec-pinned equal. */
  def nearDupServe(spark: org.apache.spark.sql.SparkSession, table: String,
                   batch: DataFrame, corpus: DataFrame,
                   idCol: String, textCol: String,
                   k: Int = 32, shingleSize: Int = 5, bands: Int = 8,
                   threshold: Double = 0.6,
                   estMargin: Double = 0.15): DataFrame = {
    val estimated = bandedSigs(batch, idCol, textCol, k, shingleSize, bands).as("x")
      .join(spark.table(table).as("y"), col("x.bh") === col("y.bh"))
      .select(col("x.id").as("batch_id"), col("y.id").as("corpus_id"),
        graft.functions.SigAgree.sigAgree(col("x.sig"), col("y.sig")).as("est"))
      .filter(col("est") >= threshold - estMargin)
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    verifyExact(estimated, "batch_id", "corpus_id",
      normTxt(batch, idCol, textCol), normTxt(corpus, idCol, textCol),
      shingleSize, threshold)
  }

  // ------------------------------------------------------------------
  // Exact substring-span dedup
  // ------------------------------------------------------------------

  /** Pairs of documents sharing at least one exact run of `spanTokens`
    * consecutive tokens — the exact-substring dedup pass of large-corpus
    * training pipelines (cf. Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22, who build suffix arrays; here
    * re-expressed as a distributed window-hash equi-join: each document
    * emits one 64-bit `xxhash64` per token window, pairs emerge from a
    * hash-keyed shuffle join — never an all-pairs compare, so the plan is
    * the same shape Spark already scales for any equi-join).
    *
    * `maxDf` (document-frequency cap) drops windows occurring in more
    * than that many documents before the pair join. A window shared by f
    * documents contributes f·(f-1)/2 pairs, so corpus-wide boilerplate
    * (headers, license blocks) makes the join output quadratic in its
    * frequency; such spans indicate boilerplate to strip, not duplicated
    * content. The DEFAULT is capped at 1000 (≈0.5M pairs from a single
    * maximal-frequency window — bounded even when nobody remembers the
    * dial at corpus scale); pass 0 to opt out explicitly when the corpus
    * is known boilerplate-free.
    *
    * Output: (a_id, b_id, n_shared_spans) with a_id < b_id and
    * n_shared_spans = number of DISTINCT shared windows. */
  /** N-gram decontamination: corpus docs sharing at least one exact run
    * of `spanTokens` consecutive tokens with ANY benchmark document — the
    * n-gram-overlap rule large-model pipelines use for benchmark
    * decontamination (cf. the 8- and 13-gram overlap checks of the GPT-3
    * and Gopher appendices), re-expressed as a window-hash semi-join.
    * The benchmark side is small by nature, so its distinct window-hash
    * set broadcasts and the corpus STREAMS through with no shuffle; only
    * the contaminated ids (a tiny fraction) shuffle for the distinct.
    * Returns one row per contaminated corpus id, column named `idCol`. */
  def spanContaminated(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    def spans(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      explode(graft.functions.SpanHashes.spanHashes(
        TextAnalysis.normText(col(textCol)), spanTokens)).as("h"))
    val benchSpans = broadcast(spans(bench).select(col("h")).distinct())
    spans(corpus).join(benchSpans, Seq("h"), "left_semi")
      .select(col("id").as(idCol)).distinct()
  }

  /** Bloom-prefiltered n-gram decontamination — the SAME answer as
    * [[spanContaminated]] with different broadcast economics, for the
    * regime where the held-out suite itself is large (a full eval
    * harness can carry 10^7-10^8 distinct n-grams, and a hash-set
    * broadcast join build side costs ~8 bytes + table overhead per
    * gram). Three stages:
    *
    *  1. BUILD (distributed): the benchmark window hashes stream through
    *     Spark's mergeable `BloomFilterAggregate` — each task fills a
    *     partial filter, partials OR-merge, and exactly ONE
    *     `numBits/8`-byte blob reaches the driver (~1.2 MB per million
    *     grams at fpp 0.01, ~10-20x smaller than the equivalent join
    *     build side).
    *  2. PREFILTER (map-side, shuffle-free): the corpus gram stream
    *     tests membership against the blob embedded as a plan literal
    *     via `BloomFilterMightContain` — no corpus shuffle, no join; a
    *     ~(1-fpp) fraction of clean grams dies right at the scan.
    *  3. CONFIRM (exact): only bloom survivors — true hits plus the
    *     ~fpp false positives — reach the exact semi-join against the
    *     benchmark hash set, so the final ids are EXACTLY
    *     [[spanContaminated]]'s output (the correctness gate pins
    *     equality, not approximation).
    *
    * The driver-side blob is bounded by construction (`numBits` from
    * `BloomFilter.optimalNumOfBits(n, fpp)`, and Spark's aggregate
    * enforces `spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold`
    * -family ceilings) — the same bounded-model-collect idiom as the
    * frozen IVF centroids. The benchmark side is scanned twice (exact
    * sizing count + bloom build); it is the small side by definition. */
  def spanContaminatedBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, spanTokens: Int,
      fpp: Double = 0.01): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    def spans(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      explode(graft.functions.SpanHashes.spanHashes(
        TextAnalysis.normText(col(textCol)), spanTokens)).as("h"))
    val benchSpans = spans(bench).select(col("h")).distinct()
    val nGrams = math.max(benchSpans.count(), 1L)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nGrams, fpp)
    val bloomAgg = GraftBridge.column(new BloomFilterAggregate(
      GraftBridge.expression(col("h")),
      Literal(nGrams), Literal(numBits)).toAggregateExpression())
    val blob = benchSpans.agg(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    val mightHit = GraftBridge.column(BloomFilterMightContain(
      Literal(blob, BinaryType), GraftBridge.expression(col("h"))))
    spans(corpus).filter(mightHit)
      .join(benchSpans, Seq("h"), "left_semi")
      .select(col("id").as(idCol)).distinct()
  }

  /** Doc-level n-gram decontamination report — the published recipe
    * (GPT-3 appendix C, PaLM): for each corpus doc, the fraction of its
    * DISTINCT `spanTokens`-gram windows that appear anywhere in the
    * benchmark set, flagged `contaminated` when the fraction reaches
    * `minOverlapFrac`. With `normalize = true` (the default) both sides
    * are lowercased and punctuation-collapsed first
    * ([[TextAnalysis.normTextAggressive]]), so a cased or re-punctuated
    * near-copy of a benchmark string still matches — the fuzzy hardening
    * that exact-mode [[spanContaminated]] deliberately omits.
    *
    * Scale shape is identical to [[spanContaminated]]: the benchmark
    * window-hash set broadcasts (the held-out set is small by nature),
    * the corpus streams through it once with no corpus shuffle, and only
    * per-doc (count, hit-count) scalars shuffle for the group-by.
    * Output: (idCol, n_windows, n_hit, overlap_frac, contaminated), one
    * row per corpus doc with at least one window; docs shorter than the
    * span carry no k-gram and are omitted. */
  def spanContaminationReport(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, spanTokens: Int,
      minOverlapFrac: Double, normalize: Boolean = true): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    require(minOverlapFrac >= 0.0 && minOverlapFrac <= 1.0,
      s"minOverlapFrac must be in [0,1], got $minOverlapFrac")
    val norm: Column => Column =
      if (normalize) TextAnalysis.normTextAggressive _ else TextAnalysis.normText _
    def spans(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      explode(graft.functions.SpanHashes.spanHashes(
        norm(col(textCol)), spanTokens)).as("h"))
    val benchSpans = broadcast(spans(bench).select(col("h")).distinct()
      .withColumn("hit", lit(1L)))
    // left-outer against the broadcast set marks hits without a second
    // corpus pass; SpanHashes emits distinct hashes per doc, so count()
    // is the distinct-window count the overlap fraction is defined over
    val frac = col("n_hit").cast("double") / col("n_windows")
    spans(corpus)
      .join(benchSpans, Seq("h"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("id").as(idCol), col("n_windows"), col("n_hit"),
        round(frac, 4).as("overlap_frac"),
        (frac >= minOverlapFrac).as("contaminated"))
  }

  /** Exact-substring span REMOVAL — the surgery step of Lee et al.'s
    * ExactSubstr dedup (ACL'22): instead of dropping whole documents,
    * cut the duplicated token runs out of them. A `spanTokens`-token
    * window is duplicated when it occurs in >= 2 documents; the lowest
    * doc id containing it keeps its occurrences, every other document
    * removes the tokens covered by the UNION of its flagged window
    * intervals (overlaps merge, so a shared 12-token run disappears as
    * one piece). Output: (idCol, clean_text, n_removed) over normalized
    * text, for every input doc (untouched docs pass through with
    * n_removed = 0). Content-defined keeper -> partition-invariant.
    *
    * Scale shape: this is LINEAR even on corpus-wide boilerplate —
    * unlike [[spanPairs]] there is no pair join, so a window shared by
    * f documents costs f occurrence rows, not f²/2 pairs (no `maxDf`
    * dial needed). One window-hash aggregation (partial-agg'd distinct
    * (id, hash)), one occurrence-to-flag equi-join on hash, one bounded
    * per-doc collect of cut positions (<= tokens per doc), and a
    * compiled one-pass cut ([[graft.functions.CutTokenSpans]]). */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val (base, occ) = spanOcc(df, idCol, textCol, spanTokens)
    // per-window doc stats from the distinct (doc, window) set: windows
    // in >= 2 docs are duplicated; min id is the keeper
    val flagged = occ.select(col("id"), col("h")).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keeper"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), col("keeper"))
    // occurrences to cut: flagged windows in non-keeper docs; the cut
    // positions per doc are bounded by the doc's own token count
    val cuts = occ.join(flagged, Seq("h"))
      .filter(col("id") =!= col("keeper"))
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("starts"))
    cutSpans(base, cuts, spanTokens, idCol)
  }

  /** ARBITRARY-LENGTH exact duplicate-substring extraction — the
    * suffix-array ExactSubstr pass of Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better", ACL'22): report each
    * doc's maximal islands of >= `minTokens` consecutive tokens COVERED
    * BY cross-document duplicated windows, at their TRUE extent (a
    * 300-token boilerplate block surfaces as one 300-token run, not as a
    * cloud of fixed-n windows — the gap the fixed-n span family leaves
    * open). COVERAGE semantics, deliberately: every `minTokens`-window
    * inside a reported run occurs verbatim in some other document, but
    * adjacent windows may be duplicated against DIFFERENT partners (doc A
    * shares tokens 1-12 with B and 8-20 with C -> one 20-token island),
    * so the island's full text need not appear in any single partner doc.
    * That is the right unit for the dedup use case — it is exactly the
    * span ExactSubstr-style training-data scrubbing cuts out.
    *
    * Distributed design — suffix grouping by fixed-length prefix radix,
    * never a global suffix sort: Lee et al. build one suffix array over
    * the concatenated corpus, which needs the whole corpus (and its
    * suffix order) on one machine. The identity this operator exploits
    * instead: a token position lies inside a cross-document duplicated
    * substring of length >= L iff some L-token window covering it occurs
    * in >= 2 documents. So (1) every suffix is represented by the
    * `xxhash64` of its first L tokens ([[graft.functions.SpanHashesPos]],
    * compiled) — the radix bucket standing in for suffix-array order;
    * (2) a hash-partitioned aggregation over DISTINCT (doc, hash) finds
    * radixes present in >= 2 docs (linear in occurrences — no pair join,
    * so corpus-wide boilerplate costs f rows, not f²/2 pairs, and no
    * `maxDf` dial exists to mis-set); (3) each doc merges its duplicated
    * window starts into maximal coverage islands with a per-doc window
    * function (two starts chain while the gap is <= L — contiguous
    * coverage), recovering the arbitrary-length extents a suffix array
    * would report. Shuffles: one distinct+agg on hash, one semi-join on
    * hash, one per-doc window + group — every one an equi-key exchange.
    *
    * Semantics notes, both mirrored by the gate oracle: duplication is
    * CROSS-document (>= 2 distinct docs — the corpus-dedup definition
    * used across this family; a phrase repeated only within one doc is
    * [[ngramRepetition]]'s business), text is whitespace-normalized
    * ([[TextAnalysis.normText]]), and window identity is the 64-bit
    * xxhash64 standing in for span equality (collision odds ~n²/2^64,
    * the family-wide trade documented at [[spanPairs]]).
    *
    * Output: (idCol, start_pos, n_tokens, span_md5) — 1-based token
    * start, true run length, md5 of the extracted run text — one row
    * per maximal covered island, every row >= `minTokens` tokens. */
  def duplicateSubstrings(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val (base, occ) = spanOcc(df, idCol, textCol, minTokens)
    // radixes (L-token window hashes) occurring in >= 2 distinct docs
    val dup = occ.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"))
    // this doc's duplicated window starts -> coverage islands: window
    // [p, p+L-1] chains with a later start p' while p' <= p + L (the
    // union of covered positions stays contiguous)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(byDoc)
    val runs = occ.join(dup, Seq("h"), "left_semi")
      .withColumn("brk",
        when(prev.isNull || col("pos") > prev + minTokens, 1).otherwise(0))
      .withColumn("run_id", sum(col("brk")).over(byDoc))
      .groupBy(col("id"), col("run_id"))
      // SpanHashesPos emits 0-based token offsets; the output (and the
      // 1-based slice/list_slice conventions both engines share) is
      // 1-based, so the +1 happens here once
      .agg((min(col("pos")) + 1).as("start_pos"),
        (max(col("pos")) + lit(minTokens)).as("end_pos"))
    // extract the true run text from the doc's own tokens (few runs per
    // doc, so the re-split is bounded by runs-per-doc * tokens)
    runs.join(base, Seq("id"))
      .select(col("id").as(idCol), col("start_pos"),
        (col("end_pos") - col("start_pos") + 1).cast("long").as("n_tokens"),
        md5(array_join(slice(split(col("t"), " "), col("start_pos"),
          col("end_pos") - col("start_pos") + 1), " ")).as("span_md5"))
  }

  def spanPairs(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, maxDf: Int = 1000): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    // Window hashing is the per-row hot loop -> native compiled expression
    // (graft.functions.SpanHashes); the HOF formulation
    // (transform(sequence) + slice + concat_ws) evaluates interpreted and
    // was ~8x this probe's cost at sf0.1. Docs shorter than the span
    // yield an empty window set.
    val spans = graft.functions.SpanHashes.spanHashes(
      TextAnalysis.normText(col(textCol)), spanTokens)
    // localCheckpoint (r19, guide §1.2): the window-hash stream is
    // consumed by the df-filter aggregate AND both sides of the pair
    // self-join — without the pin the normText + window-hash scan
    // executes up to four times per call. DOC-KEYED (one hash array row
    // per doc), no new exchange; the joins shuffle exactly as before.
    // Eager at call time (the established ngramCandidates pattern).
    // (The per-OCCURRENCE (id, h, pos) analogue in the span-surgery
    // family was A/B-measured SLOWER — an exploded per-token pin writes
    // more bytes than the text it saves re-scanning — and is not used.)
    val dw = df.select(col(idCol).as("id"), spans.as("sh"))
      .localCheckpoint()
      .select(col("id"), explode(col("sh")).as("h"))
    val kept =
      if (maxDf <= 0) dw
      else {
        // df-filter is itself a scalable partial-agg + semi-join, and the
        // count it produces is exact (dw is already distinct per doc).
        val freq = dw.groupBy(col("h")).agg(count(lit(1)).as("df_h"))
          .filter(col("df_h") <= maxDf).select(col("h"))
        dw.join(freq, Seq("h"), "left_semi")
      }
    kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  // ------------------------------------------------------------------
  // Edit-distance (fuzzy string) join
  // ------------------------------------------------------------------

  /** All pairs within Levenshtein distance `maxDist` — fuzzy record
    * linkage for IDs/names/titles with typos (the string-similarity-join
    * problem of Ed-Join, Xiao et al. VLDB'08), never via all-pairs:
    *
    *  1. CANDIDATES by q-gram prefix filter: each string indexes only its
    *     q*maxDist+1 globally rarest DISTINCT q-grams (rare-first order =
    *     ascending document frequency, gram text tie-break — the same
    *     inverted-index discipline as [[ngramCandidates]]). Complete, not
    *     heuristic: one edit destroys at most q distinct grams, so two
    *     strings within distance d differ in at most q*d grams per side;
    *     if their (q*d+1)-prefixes were disjoint, the frequency-order-
    *     minimal shared gram would have to sit after BOTH prefixes while
    *     each prefix holds q*d+1 grams of which at most q*d are unshared
    *     — contradiction (the [[ngramCandidates]] argument with a count
    *     bound from edits instead of Jaccard).
    *  2. LENGTH filter: |len(a) - len(b)| <= maxDist (each edit changes
    *     length by at most 1).
    *  3. EXACT verify: built-in codegen'd `levenshtein` on the bounded
    *     candidate set only.
    *
    * Strings with fewer than q*maxDist+1 distinct grams (everything
    * shorter than q, and 1-2-gram strings at small q*d) additionally
    * bucket under one sentinel key — maxDist edits could destroy their
    * whole gram set, so gram sharing proves nothing among them and they
    * must stay mutually candidate (step 3 decides). `maxDf` caps
    * the inverted-index key width exactly like [[spanPairs]]: a gram in
    * more than maxDf strings is dropped from prefixes (0 = keep all).
    * Dropping is SYMMETRIC so the prefix-filter argument still holds on
    * the reduced gram sets, except for strings whose every gram is hot —
    * those leave the index entirely (the documented recall dial; at the
    * gate dials nothing is dropped and the output equals exact all-pairs).
    *
    * Output: (a_id, b_id, dist), a_id < b_id, dist <= maxDist.
    *
    * `maxDist == 1` (the common near-dup dial) takes the PARTITION route
    * instead ([[halfKeyPairsDist1]] — the PassJoin/pigeonhole signature,
    * Li et al. VLDB'11): candidates by EXACT match on half-string keys,
    * which are orders of magnitude more selective than shared 2-grams
    * (a 24-char prefix corpus shares hot bigrams at df≈maxDf, paying a
    * ~75M-pair candidate join; exact 12-char halves bucket only true
    * near-dups). That route is exact and complete, so `q`/`maxDf` are
    * ignored — there is no recall dial to misconfigure. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, q: Int = 2,
                        maxDf: Long = 1000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    if (maxDist == 1) return halfKeyPairsDist1(df, idCol, strCol)
    val pre = q * maxDist + 1
    val s = gramArrays(df, idCol, strCol, q, sentinelBelow = pre)
    val prefix = gramPrefix(s, pre, maxDf, q)
    // the length band sits IN the join condition: pairs that no edit
    // sequence of length maxDist could relate (each edit moves length by
    // at most 1) die before the distinct and never reach the verifier —
    // on prefix-sliced corpora this is the dominant candidate killer
    // (r12 measured the post-join length filter discarding most of the
    // candidate volume AFTER paying its shuffle)
    prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= maxDist)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.s").as("a_s"), col("b.s").as("b_s"))
      .distinct()
      .withColumn("dist", levenshtein(col("a_s"), col("b_s")))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
  }

  /** All pairs within Levenshtein distance 1 by the PIGEONHOLE partition
    * signature (the PassJoin idea specialized to one edit). Complete, not
    * heuristic: a single edit at position p leaves either the prefix
    * before it or the suffix after it untouched, so for any pair (a, b)
    * with ed <= 1 and F = floor(min(|a|,|b|) / 2):
    *
    *   - edit at p >= F  -> a and b share their first F characters
    *     exactly (nothing before p moved);
    *   - edit at p <  F  -> they share their last F characters exactly
    *     (the surviving suffix has length >= min - F >= F).
    *
    * Neither side knows its partner's length, but ed <= 1 bounds it to
    * len +- 1, so min(|a|,|b|) is len-1 or len and F takes one of TWO
    * values per string: floor((len-1)/2) and floor(len/2). Each string
    * therefore emits at most 4 keys — (prefix|suffix, F, text) — and
    * candidates come from an EXACT equi-join on the key, length-banded
    * in the join condition; the codegen'd `levenshtein` verifies the
    * bounded survivor set. Equal strings meet on their prefix key.
    * No frequency statistics, no recall dial: selectivity comes from
    * half-length exact match, which only true near-dups can pass. */
  private def halfKeyPairsDist1(df: DataFrame, idCol: String,
                                strCol: String): DataFrame = {
    val s = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    def key(kind: String, f: Column, text: Column): Column =
      concat(lit(kind), lit(":"), f.cast("string"), lit(":"), text)
    val f1 = floor((length(col("s")) - 1) / 2)
    val f2 = floor(length(col("s")) / 2)
    val keyed = s.select(col("id"), col("s"),
      explode(array_distinct(array(
        key("p", f1, expr("substring(s, 1, cast(floor((length(s)-1)/2) as int))")),
        key("p", f2, expr("substring(s, 1, cast(floor(length(s)/2) as int))")),
        key("x", f1, expr(
          "substring(s, length(s) - cast(floor((length(s)-1)/2) as int) + 1)")),
        key("x", f2, expr(
          "substring(s, length(s) - cast(floor(length(s)/2) as int) + 1)"))
      ))).as("k"))
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= 1)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.s").as("a_s"), col("b.s").as("b_s"))
      .distinct()
      .withColumn("dist", levenshtein(col("a_s"), col("b_s")))
      .filter(col("dist") <= 1)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
  }

  /** All pairs with Jaro-Winkler similarity >= `minSim` — the
    * record-linkage scorer (transpositions + shared-prefix boost; the
    * native [[graft.functions.JaroWinkler]] expression, DuckDB-parity
    * parameterization). JW admits no exact completeness filter (it is
    * not a metric), so this is the BOUNDED all-pairs verifier with the
    * same enforced input cap as
    * [[Similarity.cosineNearDupPairs]]; at corpus scale, generate
    * candidates with [[editDistancePairs]]/blocking first and use the
    * expression to SCORE survivors. Similarities round to 5dp before
    * the threshold compare so the kept set is engine-stable.
    * Output: (a_id, b_id, jw), a_id < b_id, jw rounded 5dp. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       minSim: Double,
                       maxInputRows: Long = 10000): DataFrame = {
    require(maxInputRows >= 1, s"maxInputRows must be >= 1, got $maxInputRows")
    val s = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    val probeRows = math.min(maxInputRows, (Int.MaxValue - 1).toLong).toInt + 1
    val over = s.limit(probeRows).count() > maxInputRows
    require(!over,
      s"jaroWinklerPairs is all-pairs (O(n^2)); input exceeds " +
        s"maxInputRows=$maxInputRows. Block first (editDistancePairs or a " +
        "key prefix) and score candidates with the expression instead.")
    s.as("a").join(s.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(graft.functions.JaroWinkler.jaroWinkler(col("a.s"), col("b.s")), 5)
          .as("jw"))
      .filter(col("jw") >= minSim)
  }

  /** (id, s, grams): each string's DISTINCT q-grams. A string with fewer
    * than `sentinelBelow` distinct grams can have its entire gram set
    * destroyed by the edit budget the caller supports, so gram sharing
    * proves nothing for the short-short case: such strings additionally
    * carry one sentinel gram (q+1 chars long — can never collide with a
    * real q-gram), making all short strings mutual candidates. Their
    * REAL grams stay too — a short-vs-long pair is still caught through
    * the long side's prefix (>= 1 of its q*d+1 rarest grams must
    * survive into the short string's full gram set). */
  private def gramArrays(df: DataFrame, idCol: String, strCol: String,
                         q: Int, sentinelBelow: Int): DataFrame = {
    val s = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    val gramArr = when(length(col("s")) < q, array().cast("array<string>"))
      .otherwise(array_distinct(expr(
        s"transform(sequence(0, length(s) - $q), i -> substring(s, i + 1, $q))")))
    val withSentinel = when(size(gramArr) < sentinelBelow,
        concat(gramArr, array(lit("\u0001" * (q + 1)))))
      .otherwise(gramArr)
    s.select(col("id"), col("s"), withSentinel.as("grams"))
  }

  /** Each string's `pre` rarest grams (ascending document frequency over
    * THIS frame, gram text tie-break) as (g, id) index rows; `maxDf`
    * drops hot grams from prefixes exactly as in [[spanPairs]]. The
    * short-string sentinel gram (`q`+1 repeats of U+0001 — longer than
    * any real q-gram, so it never collides) is EXEMPT from the df cap:
    * it exists for short-short completeness, not selectivity, and on a
    * corpus with more than `maxDf` short strings capping it would
    * silently drop the very pairs the sentinel guarantees. Only real
    * grams are df-capped. */
  private def gramPrefix(s: DataFrame, pre: Int, maxDf: Long,
                         q: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sentinel = "\u0001" * (q + 1)
    val grams = s.select(col("id"), col("s"), explode(col("grams")).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val kept =
      if (maxDf <= 0) grams.join(dfreq, Seq("g"))
      else grams.join(
        dfreq.filter(col("gdf") <= maxDf || col("g") === lit(sentinel)),
        Seq("g"))
    kept
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("gdf"), col("g"))))
      .filter(col("rk") <= pre)
      // the string rides along (pre copies, each a short key/prefix):
      // candidate joins then length-band-filter AND verify without ever
      // joining back to the corpus — two whole shuffles gone
      .select(col("g"), col("id"), col("s"))
  }

  /** Build a STANDING edit-distance index over the corpus: every distinct
    * gram of every string (plus the short-string sentinel), bucketed on
    * the gram key as a catalog table, carrying the string itself so
    * serving verifies without ever rescanning the corpus. Indexing ALL
    * grams (vs the query side's prefix) is what makes serving
    * maintenance-free: prefix-vs-full completeness needs no shared
    * frequency order, so the standing index never needs a global gram-
    * frequency refresh as batches arrive, and accepted batches can
    * append per-bucket segments. `maxDistBound` pins the largest
    * maxDist the index's sentinel rule supports (serve enforces it). */
  def buildEditIndex(corpus: DataFrame, idCol: String, strCol: String,
                     table: String, q: Int = 2, maxDistBound: Int = 2,
                     numBuckets: Int = 16): Unit =
    graft.sinks.OrcSink.writeBucketed(
      gramArrays(corpus, idCol, strCol, q,
          sentinelBelow = q * maxDistBound + 1)
        .select(col("id"), col("s"), explode(col("grams")).as("g")),
      table, bucketCols = Seq("g"), numBuckets = numBuckets)

  /** Append an ACCEPTED batch's gram rows to the standing edit index
    * (same bucket spec, new per-bucket files — standing files untouched),
    * so the next batch is fuzzy-screened against this one too. The
    * sentinel rule must match the build (`maxDistBound`). */
  def appendToEditIndex(batch: DataFrame, idCol: String, strCol: String,
                        table: String, q: Int = 2, maxDistBound: Int = 2,
                        numBuckets: Int = 16): Unit =
    gramArrays(batch, idCol, strCol, q,
        sentinelBelow = q * maxDistBound + 1)
      .select(col("id"), col("s"), explode(col("grams")).as("g"))
      .write.mode("append").format("orc")
      .bucketBy(numBuckets, "g").sortBy("g")
      .saveAsTable(table)

  /** Fuzzy-match a batch against the standing [[buildEditIndex]] table:
    * the batch side takes its q*maxDist+1 rarest grams (BATCH-local
    * frequencies — completeness against a full index needs no order
    * agreement: at most q*maxDist of any batch string's distinct grams
    * can be missing from a true match's full gram set, so ANY
    * q*maxDist+1 of them contain a shared one), candidates come from
    * the bucketed gram join with the corpus side exchange-free, and the
    * exact levenshtein verify runs against the strings the index rows
    * carry. Per-batch cost tracks batch size; the corpus is never
    * rescanned. Output: (batch_id, corpus_id, dist), dist <= maxDist. */
  def editDistanceServe(spark: org.apache.spark.sql.SparkSession,
                        table: String, batch: DataFrame,
                        idCol: String, strCol: String,
                        maxDist: Int, q: Int = 2,
                        maxDistBound: Int = 2,
                        maxDf: Long = 1000): DataFrame = {
    require(maxDist >= 0 && maxDist <= maxDistBound,
      s"maxDist=$maxDist exceeds the index's sentinel bound $maxDistBound " +
        "(short-short completeness would be lost) — rebuild the index " +
        "with a larger maxDistBound")
    val pre = q * maxDist + 1
    val b = gramArrays(batch, idCol, strCol, q, sentinelBelow = pre)
    val prefix = gramPrefix(b, pre, maxDf, q)
    // batch strings ride in the prefix rows: the length band applies at
    // the bucketed gram join (before the distinct) and the verify needs
    // no join back to the batch
    prefix.as("x")
      .join(spark.table(table).as("y"), col("x.g") === col("y.g") &&
        abs(length(col("x.s")) - length(col("y.s"))) <= maxDist)
      .select(col("x.id").as("batch_id"), col("y.id").as("corpus_id"),
        col("x.s").as("b_s"), col("y.s").as("c_s"))
      .distinct()
      .withColumn("dist", levenshtein(col("b_s"), col("c_s")))
      .filter(col("dist") <= maxDist)
      .select(col("batch_id"), col("corpus_id"),
        col("dist").cast("long").as("dist"))
  }
}
