package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical and hybrid retrieval over the documents corpus — the query
  * side of a training-data / RAG pipeline (find the docs most relevant
  * to a probe query, lexically and semantically, then fuse).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - The query set is tiny and pinned; everything derived from it
  *    (distinct query terms, per-term idf, per-query term lists) is
  *    broadcast. The corpus is scanned ONCE and never shuffled at token
  *    width: every token folds map-side into a (doc, query-term-or-null)
  *    cell (non-matching tokens share the null cell), so the single
  *    corpus-wide exchange carries <= |Q|+1 rows per doc. tf, document
  *    length, df, and avgdl all derive from that persisted compact frame.
  *  - Top-k per query is a rank-over-window on the (small) scored set —
  *    candidates are only docs that matched at least one query term.
  *
  * Scoring is Lucene's BM25 variant (public: Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond";
  * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) which is always positive):
  * score(q, d) = sum over t in q of
  *   idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl)).
  * Scores are ROUNDED to 4 places before ranking (ties broken by
  * doc_id) so the ranking is reproducible across engines — raw doubles
  * could flip near-equal ranks on a last-ulp ln() difference.
  */
object Retrieval {

  /** Pinned benchmark queries: corpus-real terms (the synthetic corpus
    * is a closed data-engineering vocabulary) spanning common terms
    * (low idf), rarer ones, and one term per query that differentiates
    * ranking. Pinned the way a production relevance harness pins its
    * query set. */
  val PinnedQueries: Seq[(Int, String)] = Seq(
    0 -> "customer order window",
    1 -> "vector hash join",
    2 -> "stream filter sort merge",
    3 -> "spark query scan")

  /** Driver-side query tokenization matching the corpus-wide convention
    * exactly: Locale.ROOT lower-casing (the default-locale toLowerCase
    * would diverge from Spark's locale-independent `lower` on e.g. a
    * tr-TR JVM, silently mis-tagging query terms), trim, collapse
    * whitespace, split. */
  private def queryVocab(queries: Seq[(Int, String)]): Seq[String] = queries
    .flatMap(_._2.toLowerCase(java.util.Locale.ROOT)
      .trim.replaceAll("\\s+", " ").split(" "))
    .filter(_.nonEmpty).distinct

  /** Plan-audit tap for the EAGER operators here (bm25TopK and friends
    * execute on call, so `Explain` cannot print their internal plans
    * lazily): when -Dgraft.explain.out=<file> is set, the formatted plan
    * of each internal ranking frame is appended there before execution.
    * Inert in production — the property is only set by plan-audit runs
    * (GRAFT_EXPLAIN_OUT as the env-var spelling for forked JVMs). */
  private def explainTap(df: DataFrame): Unit =
    sys.props.get("graft.explain.out")
      .orElse(sys.env.get("GRAFT_EXPLAIN_OUT")).foreach { f =>
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), txt + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }

  /** Per-query DISTINCT term lists under the same driver-side
    * tokenization (the per-query view of [[queryVocab]]). A repeated
    * query id is one query: its entries merge into the union of their
    * terms, so the ranking holds one row per (query_id, doc). */
  private def queryTermLists(queries: Seq[(Int, String)]): Seq[(Int, Seq[String])] = {
    val terms = queries.map { case (i, q) =>
      i -> q.toLowerCase(java.util.Locale.ROOT)
        .trim.replaceAll("\\s+", " ").split(" ").toSeq.filter(_.nonEmpty)
    }
    terms.map(_._1).distinct.map(i =>
      i -> terms.collect { case (`i`, ts) => ts }.flatten.distinct)
  }

  /** Tokenize matching the corpus-wide convention (TextAnalysis.normText
    * + lowercase + whitespace split) — identical to the tf-idf gate so
    * df/dl statistics are comparable across operators. */
  private def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(split(TextAnalysis.normText(lower(col(textCol))), " ")).as("term"))
      .filter(length(col("term")) > 0)

  /** BM25 top-k: one row per (query_id, doc_id) with rank 1..k and the
    * rounded score. Only documents matching >= 1 query term are
    * candidates (a structural any-tf>0 filter, not a score>0 filter).
    *
    * r18 (guide §2.3/§2.4): the corpus folds map-side into ONE pivoted
    * per-doc row — (doc, dl, tf per query-vocab term) — so the single
    * corpus-wide exchange carries one compact row per doc and the whole
    * statistics family (dl, tf, df, avgdl, n_docs) derives from that one
    * cached frame with zero further corpus passes. idf/avgdl collapse to
    * a one-row driver fetch and fold into the scoring expressions as
    * literals (same IEEE ops as the former column arithmetic — Math.log
    * and left-assoc double chains are identical either way, and the
    * per-term 6dp round + exact DECIMAL sum contract is unchanged), so
    * the former per-statistic joins (dl join, dfreq broadcast, stats
    * crossJoin) disappear from the plan: 2 exchanges total (pivot +
    * rank window) instead of 5+. The operator stays EAGER — it executes
    * on call and returns the <= |Q| x k result locally, the shape of a
    * retrieval endpoint — so the cache releases before returning. */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25FromCounts(
      tokens(docs, idCol, textCol).withColumn("cnt", lit(1L)),
      queries, k, k1, b, idCol)._1

  /** Shared eager BM25 core over a (id, term, cnt) stream (cnt = term
    * multiplicity; instance streams pass cnt=1). Returns the LOCAL top-k
    * frame plus n_docs (docs with >= 1 token — the idf/avgdl convention),
    * which [[bm25PrfTopK]] reuses so expansion mining never recounts the
    * corpus. */
  private def outSchemaFor(tc: DataFrame, idCol: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(idCol,
        tc.schema(idCol).dataType, nullable = true),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = true)))

  private def emptyRanked(spark: org.apache.spark.sql.SparkSession,
                          schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Pivoted per-doc stats over a (id, term, cnt) stream: ONE doc-keyed
    * exchange, fully map-side combinable (each partition reduces to one
    * |vocab|+2-long row per doc). Column tf_i = sum of cnt where term ==
    * vocab(i).
    *
    * WIDTH BOUND (ADVICE r18): the aggregate evaluates O(|vocab|)
    * predicates per token row and generates a |vocab|+2-column plan —
    * sized for retrieval-endpoint query sets (tens of terms). A caller
    * with hundreds of distinct query terms should shard the query set
    * (the legs union regardless) rather than pivot one giant row. */
  private def pivotCounts(tc: DataFrame, vocab: Seq[String],
                          idCol: String): DataFrame = {
    val tfCols = vocab.indices.map(i =>
      sum(when(col("term") === vocab(i), col("cnt")).otherwise(0L)).as(s"tf_$i"))
    tc.groupBy(col(idCol)).agg(sum(col("cnt")).as("dl"), tfCols: _*)
  }

  /** One tiny stats row over a pivoted frame: (sum_dl, n_docs, df per
    * vocab index) — everything the scoring legs fold in as literals. */
  private def pivotStats(pd: DataFrame, nVocab: Int): org.apache.spark.sql.Row = {
    val dfCols = (0 until nVocab).map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val statCols = count(lit(1)).as("n_docs") +: dfCols
    pd.agg(sum(col("dl")).as("sum_dl"), statCols: _*).head()
  }

  /** Scoring tail over an already-pivoted per-doc frame: per-query
    * candidate legs (candidate = any query-term tf > 0 — the structural
    * inner-join equivalent), per-term contributions round to 6dp then
    * DECIMAL-sum row-wise (exact, so identical to a per-row aggregate
    * sum), rank window, LOCAL top-k collect. `idf`/`avgdl` arrive as
    * driver scalars and fold into the expressions as literals. */
  private def rankFromPivot(pd: DataFrame, vocab: Seq[String],
                            termLists: Seq[(Int, Seq[String])],
                            idf: Int => Double, avgdl: Double,
                            k: Int, k1: Double, b: Double, idCol: String,
                            outSchema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val spark = pd.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val zero = lit(BigDecimal(0).bigDecimal).cast(dec)
    def tfNorm(i: Int): Column = {
      val tf = col(s"tf_$i")
      tf * (lit(k1) + 1.0) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl)))
    }
    val legs = termLists.flatMap { case (qid, ts) =>
      val idx = ts.map(vocab.indexOf).filter(_ >= 0)
      if (idx.isEmpty) None else Some {
        val isCand = idx.map(i => col(s"tf_$i") > 0).reduce(_ || _)
        val scoreDec = idx.map(i =>
          when(col(s"tf_$i") > 0,
            round(lit(idf(i)) * tfNorm(i), 6).cast(dec)).otherwise(zero))
          .reduce(_ + _)
        pd.filter(isCand)
          .select(lit(qid.toLong).as("query_id"), col(idCol),
            round(scoreDec.cast("double"), 4).as("score"))
      }
    }
    if (legs.isEmpty) return emptyRanked(spark, outSchema)
    val scored = legs.reduce(_ unionByName _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("score"))
    explainTap(out)
    val rows = out.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  private def bm25FromCounts(tc: DataFrame, queries: Seq[(Int, String)],
                             k: Int, k1: Double, b: Double,
                             idCol: String): (DataFrame, Double) = {
    val spark = tc.sparkSession
    val termLists = queryTermLists(queries)
    val vocab = termLists.flatMap(_._2).distinct
    val outSchema = outSchemaFor(tc, idCol)
    if (vocab.isEmpty) return (emptyRanked(spark, outSchema), 0.0)

    val pd = pivotCounts(tc, vocab, idCol)
    pd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one tiny row: total length, doc count, df per vocab term
      val st = pivotStats(pd, vocab.size)
      val nDocs = st.getLong(1).toDouble
      if (nDocs == 0) return (emptyRanked(spark, outSchema), 0.0)
      // == avg(dl): a double sum of integer-valued terms is exact below
      // 2^53, so long-sum/count is bit-identical to the former avg()
      val avgdl = st.getLong(0).toDouble / nDocs
      val idf: Int => Double = i => {
        val dfT = st.getLong(2 + i).toDouble
        math.log(1.0 + (nDocs - dfT + 0.5) / (dfT + 0.5))
      }
      (rankFromPivot(pd, vocab, termLists, idf, avgdl, k, k1, b, idCol,
        outSchema), nDocs)
    } finally pd.unpersist(blocking = false)
  }

  /** Pseudo-relevance-feedback BM25 (Rocchio-style query expansion —
    * public: Rocchio 1971; Robertson & Zaragoza 2009 §6): round 1 ranks
    * with the original query; the top `fbDocs` documents are ASSUMED
    * relevant; their terms are scored `tf-in-feedback × idf` and the top
    * `fbTerms` new terms (original query terms excluded) join the query;
    * round 2 re-ranks with the expanded query.
    *
    * Determinism contract: expansion scores round to 6 places and tie-
    * break by term ascending, so the chosen expansion set — and hence
    * the whole round-2 ranking — is reproducible across engines; the
    * oracle replays both rounds AND the term selection in SQL.
    *
    * Scale shape (r18, guide §2.3/§2.4): the corpus is tokenized ONCE
    * into a persisted (doc, term, cnt) count frame — the only corpus
    * scan and the only corpus-wide exchange in the whole operator.
    * Round 1, the mining phase (feedback tf against the broadcast
    * |Q|×fbDocs feedback set; candidate df from the already-distinct
    * (doc, term) rows), and round 2 all derive from that cached frame;
    * n_docs is carried out of round 1's stats row instead of recounted.
    * Pre-r18 this operator re-tokenized the corpus three times. */
  def bm25PrfTopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int,
                  fbDocs: Int = 3, fbTerms: Int = 2,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val termLists1 = queryTermLists(queries)
    val vocab1 = termLists1.flatMap(_._2).distinct

    // ONE corpus pass: per-doc term counts, reused by both BM25 rounds
    // and the expansion mining (already distinct per (doc, term), so
    // candidate df is a plain count over it)
    val tokAgg = tokens(docs, idCol, textCol)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("cnt"))
    val outSchema = outSchemaFor(tokAgg, idCol)
    if (vocab1.isEmpty) return emptyRanked(spark, outSchema)
    tokAgg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r19 (guide §2.4): the round-1 pivot is SHARED with round 2 — the
    // expanded vocabulary is a superset of the original, so round 2 only
    // needs tf columns for the (≤ |Q|·fbTerms) NEW terms, which come
    // from a tiny filtered aggregation doc-joined onto the cached pivot
    // instead of a second full doc-keyed exchange over the corpus counts.
    val pd1 = pivotCounts(tokAgg, vocab1, idCol)
    pd1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate-term slice of the count frame, shared by the expansion
    // df pass and round 2's new-term pivot
    var tokCand: DataFrame = null
    try {
      val st1 = pivotStats(pd1, vocab1.size)
      val nDocs = st1.getLong(1).toDouble
      if (nDocs == 0) return emptyRanked(spark, outSchema)
      val avgdl = st1.getLong(0).toDouble / nDocs
      val idf1: Int => Double = i => {
        val dfT = st1.getLong(2 + i).toDouble
        math.log(1.0 + (nDocs - dfT + 0.5) / (dfT + 0.5))
      }
      val round1 = rankFromPivot(pd1, vocab1, termLists1, idf1, avgdl,
        fbDocs, k1, b, idCol, outSchema)
      val fb = round1.select(col("query_id"), col(idCol)) // local, tiny

      // per-(query, term) feedback tf: count over token INSTANCES ==
      // sum of per-doc counts over the compact frame
      val cand = tokAgg.join(broadcast(fb), idCol)
        .groupBy(col("query_id"), col("term"))
        .agg(sum(col("cnt")).as("ftf"))
      val candTerms = cand.select(col("term")).distinct()
      // corpus df for candidate terms only — tokAgg rows are distinct
      // (doc, term) pairs by construction
      tokCand = tokAgg.join(broadcast(candTerms), "term")
      tokCand.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cdf = tokCand.groupBy(col("term")).agg(count(lit(1)).as("df_t"))

      val qTerms = queries.toDF("query_id", "qtext")
        .select(col("query_id").cast("long").as("query_id"),
          explode(split(TextAnalysis.normText(lower(col("qtext"))), " "))
            .as("term"))
        .distinct()
      val esc = cand
        .join(broadcast(cdf), "term")
        .join(broadcast(qTerms), Seq("query_id", "term"), "left_anti")
        .withColumn("escore", round(col("ftf") *
          log(lit(1.0) + (lit(nDocs) - col("df_t") + lit(0.5)) /
            (col("df_t") + lit(0.5))), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("escore").desc, col("term"))
      // the collect carries each chosen term's corpus df alongside, so
      // round 2's idf for the new terms needs no further jobs
      val chosen: Seq[(Long, String, Int, Long)] = esc
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= fbTerms)
        .select(col("query_id"), col("term"), col("rn"), col("df_t"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .toSeq
      val expansion: Map[Long, Seq[String]] = chosen.groupBy(_._1)
        .view.mapValues(_.sortBy(_._3).map(_._2)).toMap
      val dfNew: Map[String, Long] = chosen.map(c => c._2 -> c._4).toMap

      // round 2 over the SHARED pivot: expanded vocab = vocab1 ++ the
      // new terms (per-query term lists = original ++ expansion — the
      // anti-join above guarantees the expansion is disjoint from each
      // query's own terms, so this equals re-tokenizing the expanded
      // query string; tf-column ORDER is immaterial because per-term
      // contributions are exact DECIMAL sums)
      val newTerms = chosen.map(_._2).distinct.filterNot(vocab1.contains)
      val vocab2 = vocab1 ++ newTerms
      val termLists2 = termLists1.map { case (qid, ts) =>
        qid -> (ts ++ expansion.getOrElse(qid.toLong, Seq.empty)).distinct
      }
      val nv1 = vocab1.size
      val pd2 =
        if (newTerms.isEmpty) pd1
        else {
          val miniCols = newTerms.zipWithIndex.map { case (t, i) =>
            sum(when(col("term") === t, col("cnt")).otherwise(0L))
              .as(s"tf_${nv1 + i}") }
          val mini = tokCand.filter(col("term").isin(newTerms: _*))
            .groupBy(col(idCol)).agg(miniCols.head, miniCols.tail: _*)
          val keep = Seq(col(idCol), col("dl")) ++
            vocab1.indices.map(i => col(s"tf_$i")) ++
            newTerms.indices.map(i =>
              coalesce(col(s"tf_${nv1 + i}"), lit(0L)).as(s"tf_${nv1 + i}"))
          val joined = pd1.join(mini, Seq(idCol), "left").select(keep: _*)
          // persisted like round 1's pivot: the 4 scoring legs would
          // otherwise each embed (and re-plan) the whole join subtree
          joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          joined
        }
      // df for original terms is unchanged between rounds (same docs,
      // same counts); new terms' df rides out of the expansion collect
      val idf2: Int => Double = i =>
        if (i < nv1) idf1(i)
        else {
          val dfT = dfNew(newTerms(i - nv1)).toDouble
          math.log(1.0 + (nDocs - dfT + 0.5) / (dfT + 0.5))
        }
      try rankFromPivot(pd2, vocab2, termLists2, idf2, avgdl, k, k1, b,
        idCol, outSchema)
      finally if (!(pd2 eq pd1)) pd2.unpersist(blocking = false)
    } finally {
      pd1.unpersist(blocking = false)
      if (tokCand != null) tokCand.unpersist(blocking = false)
      tokAgg.unpersist(blocking = false)
    }
  }

  /** Persisted inverted index for [[bm25Serve]]: a production search
    * deployment builds the index ONCE (the only corpus scan) and serves
    * every query batch from it without touching the corpus again.
    * Layout: `indexDir/postings` = (term, doc, tf) ORC sorted by term —
    * each stripe covers a narrow term slice, so a query's pushed-down
    * term filter skips everything else ([[graft.sinks.OrcSink.writeSorted]]);
    * `indexDir/doclens` = (doc, dl); `indexDir/stats` = one row
    * (avgdl, n_docs). */
  def buildBm25Index(docs: DataFrame, indexDir: String,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Unit = {
    val tf = tokens(docs, idCol, textCol)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    graft.sinks.OrcSink.writeSorted(tf, indexDir, "postings", Seq("term"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    graft.sinks.OrcSink.write(dl, indexDir, "doclens")
    // stats carry the EXACT integer sum alongside the derived avgdl so
    // incremental updates ([[updateBm25Index]]) can extend them without
    // float drift: avgdl is always total_dl / n_docs over exact longs,
    // so an updated index's stats are bit-identical to a full rebuild's.
    // Convention: n_docs counts docs with >= 1 token (dl rows) — empty
    // docs can never match a query term, so they are excluded from both
    // idf's N and avgdl; textbook BM25 variants that count raw corpus
    // rows will disagree on idf when empty docs exist.
    graft.sinks.OrcSink.write(bm25Stats(dl), indexDir, "stats")
  }

  private def bm25Stats(dl: DataFrame): DataFrame =
    dl.agg(sum(col("dl")).as("total_dl"),
        count(lit(1)).as("n_docs_long"))
      .select(
        (col("total_dl").cast("double") / col("n_docs_long")).as("avgdl"),
        col("n_docs_long").cast("double").as("n_docs"),
        col("total_dl"))

  /** Merge a NEW document batch into a standing BM25 index — the
    * continuous-crawl companion of [[buildBm25Index]] (pairs with
    * [[graft.operators.Dedup.incrementalNearDup]] for ingest): the
    * batch's postings and doc lengths are APPENDED as new term-sorted
    * ORC files (a Lucene-style segment: each new file covers a narrow
    * term slice, so [[bm25Serve]]'s pushed-down term filter keeps
    * stripe-skipping across segments), and the one-row stats extend by
    * exact integer sums. Per-update cost is O(batch): the standing
    * postings/doclens are never read or rewritten. df/dl/idf stay exact
    * because every doc lives in exactly one segment — guaranteed by the
    * id-disjointness check (a broadcast semi-join against doclens; set
    * `checkDisjoint = false` when the caller already proves it, e.g.
    * ids minted by an upstream ingest-dedup gate). Stats are written
    * last; a crash mid-update leaves appended segments with stale
    * stats — re-run the update (idempotence is the caller's contract,
    * same as any CDC consumer) or rebuild stats from doclens. */
  def updateBm25Index(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, newDocs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      checkDisjoint: Boolean = true): Unit = {
    val tf = tokens(newDocs, idCol, textCol)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    if (checkDisjoint) {
      val clashes = graft.sinks.OrcSink.read(spark, s"$indexDir/doclens")
        .join(broadcast(dl.select(col(idCol))), Seq(idCol), "left_semi")
        .limit(1).count()
      require(clashes == 0,
        s"updateBm25Index: batch contains already-indexed $idCol values")
    }
    graft.sinks.OrcSink.writeSorted(tf, indexDir, "postings", Seq("term"),
      mode = "append")
    graft.sinks.OrcSink.write(dl, indexDir, "doclens", mode = "append")
    val old = graft.sinks.OrcSink.read(spark, s"$indexDir/stats")
      .select(col("total_dl"), col("n_docs")).head()
    val batch = dl.agg(coalesce(sum(col("dl")), lit(0L)).as("t"),
      count(lit(1)).as("n")).head()
    val totalDl = old.getLong(0) + batch.getLong(0)
    val nDocs = old.getDouble(1).toLong + batch.getLong(1)
    val stats = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        totalDl.toDouble / nDocs, nDocs.toDouble, totalDl)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("avgdl",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("total_dl",
          org.apache.spark.sql.types.LongType))))
    graft.sinks.OrcSink.write(stats, indexDir, "stats")
  }

  /** Serve BM25 top-k from a prebuilt index — zero corpus scans: the
    * postings read is term-filtered (pushed to the ORC scan, stripes
    * skip via the term-sorted layout), df comes from the filtered
    * postings themselves, doc lengths join in doc-keyed, stats
    * broadcast. Output is identical to [[bm25TopK]] on the same corpus
    * (the gate pins this: same oracle). */
  def bm25Serve(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                queries: Seq[(Int, String)], k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                idCol: String = "doc_id"): DataFrame = {
    import spark.implicits._
    val qVocabSeq = queryVocab(queries)
    val qTerms = queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(split(TextAnalysis.normText(lower(col("qtext"))), " ")).as("term"))
      .distinct()
    val tf = graft.sinks.OrcSink.read(spark, s"$indexDir/postings")
      .filter(col("term").isin(qVocabSeq: _*))
    val dl = graft.sinks.OrcSink.read(spark, s"$indexDir/doclens")
    val stats = graft.sinks.OrcSink.read(spark, s"$indexDir/stats")
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    scoreAndRank(tf, dl, stats, qTerms, dfreq, k, k1, b, idCol)
  }

  /** Shared BM25 scoring tail: per-term contributions rounded to 6 then
    * decimal-summed per (query, doc), rank by (score DESC, id). */
  private def scoreAndRank(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                           qTerms: DataFrame, dfreq: DataFrame, k: Int,
                           k1: Double, b: Double, idCol: String): DataFrame = {
    val idf: Column = log(lit(1.0) +
      (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
    val tfNorm: Column = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(qTerms), "term")
      .join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(round(idf * tfNorm, 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double"), 4)
        .as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id").cast("long").as("query_id"),
        col(idCol), col("rank"), col("score"))
  }

  /** Reciprocal-rank fusion (public: Cormack, Clarke & Buettcher 2009):
    * rrf(d) = sum over input lists of 1/(c + rank_list(d)), missing
    * entries contribute 0. Both inputs must carry (query_id, id, rank);
    * ranks beyond each list's k are absent by construction. The fusion
    * itself is a union + doc-keyed agg over two already-tiny top-k
    * frames — trivially broadcastable at any corpus scale.
    *
    * rrfScore is rounded to 6 places (sums of 1/(60+r) for r<=k are
    * exactly representable nowhere, but at 6 places ties collapse
    * identically in both engines; ties break by id). */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, k: Int,
              c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val contribs = lists.map(_.select(col("query_id"), col(idCol),
      round(lit(1.0) / (lit(c) + col("rank")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("contrib")))
    val all = contribs.reduce(_ unionByName _)
    val fused = all.groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("contrib")).cast("double"), 6).as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("rrf_score"))
  }

  /** Deterministic binary relevance set: a doc is gold for a query iff
    * its normalized text contains EVERY query term (the conjunctive
    * containment criterion — replayable by any engine, no judgments
    * needed). Zero shuffle: one projection of per-query AND-of-contains
    * over the padded normalized text. */
  def containsAllGold(docs: DataFrame, queries: Seq[(Int, String)],
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty, "containsAllGold needs at least one query")
    val padded = concat(lit(" "),
      graft.operators.TextAnalysis.normText(lower(col(textCol))), lit(" "))
    // r19 (guide §1.2): ONE corpus pass instead of one per query. The
    // per-query union legs each re-ran the normText scan; the query set
    // is a tiny literal, so it explodes against the padded normalized
    // text computed once per doc. Same (query_id, doc_id) set — the
    // AND-of-contains predicate is unchanged per (query, doc), and
    // forall over an empty term list is true like the old lit(true).
    val qarr = array(queries.map { case (qid, qtext) =>
      val terms = qtext.toLowerCase(java.util.Locale.ROOT).trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
      val pads = if (terms.isEmpty) array().cast("array<string>")
        else array(terms.map(tm => lit(s" $tm ")): _*)
      struct(lit(qid).as("query_id"), pads.as("pads"))
    }: _*)
    docs.select(col(idCol).as("doc_id"), padded.as("t"))
      .select(col("doc_id"), col("t"), explode(qarr).as("q"))
      .filter(forall(col("q.pads"), tm => col("t").contains(tm)))
      .select(col("q.query_id").as("query_id"), col("doc_id"))
  }

  /** Hard-negative mining — the training-data op behind every modern
    * embedding/reranker model (DPR, Karpukhin et al. 2020): for each
    * query, the top-ranked documents that are NOT relevant. BM25 hard
    * negatives (high lexical score, no true relevance) teach the model
    * precisely the confusions that random negatives never surface.
    *
    * `run`: (query_id, doc_id, rank) ranked candidates; `gold`:
    * (query_id, doc_id). Left-anti join drops the positives, a
    * WindowGroupLimit-friendly per-query rank filter keeps the `k`
    * best-ranked survivors re-numbered 1..k. All frames are
    * run-sized (k·|queries|) — independent of corpus size. */
  def hardNegatives(run: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    run.join(gold, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("neg_rank").cast("long").as("neg_rank"),
        col("doc_id"), col("rank").cast("long").as("orig_rank"))
  }

  /** Standard IR evaluation of a ranked run against a binary gold set:
    * recall@k, MRR and nDCG@k per query (binary gains, log2 discounts —
    * Järvelin & Kekäläinen 2002). Engine-replayable arithmetic: each
    * DCG/IDCG term rounds to 6dp before an exact DECIMAL sum (order
    * independence), finals round 6dp after one double division. All
    * frames after the hits join are #queries-sized; gold reduces
    * map-side, the run is k·|queries| rows — evaluation cost is
    * independent of corpus size.
    *
    * `run`: (query_id, doc_id, rank); `gold`: (query_id, doc_id).
    * Output: (query_id, n_gold, n_hits, recall_k, mrr, ndcg_k). */
  def evalMetrics(run: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val hits = run.filter(col("rank") <= k)
      .join(gold, Seq("query_id", "doc_id"))
    val perQ = hits.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_hits"),
      min(col("rank")).as("first_hit"),
      sum(round(lit(1.0) / log2(col("rank") + 1), 6).cast(dec)).as("dcg"))
    val goldN = gold.groupBy(col("query_id")).agg(count(lit(1)).as("n_gold"))
    val idcg = goldN
      .select(col("query_id"),
        explode(sequence(lit(1L), least(col("n_gold"), lit(k.toLong)))).as("i"))
      .groupBy(col("query_id"))
      .agg(sum(round(lit(1.0) / log2(col("i") + 1), 6).cast(dec)).as("idcg"))
    goldN.join(idcg, Seq("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_gold"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_gold"), 6)
          .as("recall_k"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg").cast("double") / col("idcg").cast("double"),
          lit(0.0)), 6).as("ndcg_k"))
  }

  /** Hybrid retrieval: BM25 lexical top-kIn per pinned query fused with
    * embedding-cosine top-kIn for the SAME query ids (query vector =
    * the corpus embedding whose vec_id equals the query id — the
    * fixture aligns documents.doc_id 1:1 with embeddings.vec_id), then
    * RRF top-kOut. The vector leg reuses the oracle-proven brute-force
    * path; at scale it swaps for ivfTopK unchanged (same output shape). */
  def hybridTopK(docs: DataFrame, emb: DataFrame, queries: Seq[(Int, String)],
                 kIn: Int, kOut: Int): DataFrame = {
    val qIds = queries.map(_._1)
    val lexical = bm25TopK(docs, queries, kIn)
    val vector = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryIds = c => c.isin(qIds: _*), k = kIn)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    rrfFuse(Seq(lexical.select("query_id", "doc_id", "rank"), vector),
      "doc_id", kOut)
  }
}
