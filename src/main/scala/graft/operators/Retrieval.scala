package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Retrieval / corpus-LM scoring for training-data pipelines:
  * BM25 keyword relevance and unigram-frequency rarity (the
  * perplexity-proxy quality filter — CCNet filters on a KenLM
  * perplexity; the exact-arithmetic analog here is mean inverse
  * corpus frequency, which needs no model file and is reproducible
  * bit-for-bit across engines).
  *
  * Cross-engine determinism (the oracle invariant): no
  * transcendentals — BM25's log-idf is replaced by its rational core
  * (N - df + 0.5)/(df + 0.5). Per TERM that is monotone in df, so
  * single-term rankings match log-idf BM25 exactly; multi-term
  * scores are sums, and dropping the log rescales each term's
  * contribution, so multi-term rankings are BM25-FAMILY, not
  * guaranteed identical to log-idf BM25. Every value is reached by
  * the same IEEE expression tree from exact integers on both
  * engines (the op is exactly self-consistent with its SQL oracle).
  * Rarity
  * weights are integer-quantized (1e9 div count) so per-document
  * sums are integer sums — order-independent, immune to float
  * summation order across partitions.
  */
object Retrieval {

  // each constant is a parsed decimal literal (never derived
  // arithmetic like K1+1, whose rounding could differ from the SQL
  // twin's parse of "2.2"); the SQL oracle embeds the same strings
  val Bm25K1 = 1.2
  val Bm25K1Plus1 = 2.2
  val Bm25B = 0.75
  val Bm25OneMinusB = 0.25

  /** Per-term whole-word occurrence count in single-spaced text —
    * counts " term " in the space-padded lowered text, the same
    * replace-length-mirrorable construction as TextAnalysis.langScore.
    */
  private def tf(text: Column, term: String): Column =
    TextFns.countOccurrences(
      concat(lit(" "), lower(text), lit(" ")), s" $term ")

  /** BM25 scores for a fixed term set, top `limit` documents.
    *
    * Scale shape: document stats (N, avgdl) and per-term document
    * frequencies come from ONE corpus aggregation with map-side
    * partials (conditional aggregates — a fixed query never needs the
    * inverted-index explode); the single stats row broadcasts back
    * over the corpus; scoring is a narrow codegen map; top-k is
    * orderBy+limit = TakeOrderedAndProject (per-partition heaps, no
    * global sort materialization).
    *
    * The (doc_id, dl, tf…) base is persisted: it feeds both the stats
    * aggregation and the scoring scan, and without the cache the term
    * scans over the corpus text run TWICE (measured 2× wall at the
    * 64× blow-up). The cached frame is a handful of ints per doc —
    * negligible next to the text it replaces. dl counts words as
    * spaces+1 in one native scan instead of materializing the split
    * array per row (identical to len(string_split(text,' ')) for any
    * single-char separator).
    */
  def bm25(docs: DataFrame, terms: Seq[String], limit: Int = 25,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    val dl = TextFns.wordCount(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      tf(col(textCol), t).as(s"__tf_$i") }
    val base = docs.select(col(idCol).as("doc_id") +: dl.as("__dl") +: tfCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aggCols = count(lit(1)).as("__n_docs") +:
      sum(col("__dl")).as("__sum_dl") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__sum_dl").cast("double") / col("__n_docs").cast("double"))
    // rational idf (no log — monotone-equivalent for ranking) times the
    // saturating tf term; parenthesization mirrored exactly in the SQL
    // twin so IEEE evaluation agrees to the last bit
    val termScores = terms.indices.map { i =>
      val tfc = col(s"__tf_$i").cast("double")
      val idf = (col("__n_docs").cast("double") - col(s"__df_$i").cast("double")
        + lit(0.5)) / (col(s"__df_$i").cast("double") + lit(0.5))
      idf * ((tfc * lit(Bm25K1Plus1)) /
        (tfc + lit(Bm25K1) * (lit(Bm25OneMinusB)
          + lit(Bm25B) * (col("__dl").cast("double") / col("__avgdl")))))
    }
    val score = termScores.reduceLeft(_ + _)
    val out = scored.select(
        col("doc_id") +: col("__dl").as("dl") +:
          terms.indices.map(i => col(s"__tf_$i").as(s"tf_${terms(i)}")) :+
          round(score, 6).as("bm25"): _*)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(limit)
      // materialize the ≤limit-row result eagerly so the corpus-sized
      // base cache can be RELEASED before returning — in a long-lived
      // driver each bm25 call would otherwise pin another cached base
      // until LRU thrashing (the DedupPipeline.unpersist rationale).
      // The pinned result is ≤limit rows — constant, not corpus-sized.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    base.unpersist()
    out
  }

  /** Hybrid sparse+dense retrieval with reciprocal-rank fusion
    * (Cormack/Clarke/Büttcher 2009): the standard two-retriever stack
    * — BM25 keyword top-N and exact-cosine embedding top-N — fused by
    * rrf(d) = Σ_lists 1/(rrfK + rank_list(d)), absent-from-list
    * contributing 0. This is the retrieval shape a RAG / curation
    * pipeline actually serves: each retriever returns its own top-N,
    * and only those ≤2N rows are ever fused.
    *
    * Scale shape: the sparse side is [[bm25]]'s conditional-aggregate
    * stats + TakeOrderedAndProject top-N; the dense side is the
    * brute-force cosine top-N (broadcast single probe, per-partition
    * window heads). Everything downstream of the two top-Ns — the
    * rank windows, the full-outer join, the fused sort — runs on
    * ≤ 2·topN rows (constant by construction, never corpus-sized),
    * so the single-partition rank windows are bounded, not the
    * global-sort trap.
    *
    * Determinism (oracle-exact): ranks are integers from
    * round-to-6 ordered windows with id tie-breaks; each RRF
    * contribution is ONE IEEE division of exact small integers
    * (1/(rrfK+rank)), summed in fixed list order — the SQL twin
    * replays the identical expression tree.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      probeVecId: Long, topN: Int = 50, rrfK: Int = 60,
      limit: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = bm25(docs, terms, limit = topN)
      .withColumn("sparse_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("sparse_rank"))
    val dense = Similarity.bruteForceTopK(emb,
        col("vec_id") === lit(probeVecId), k = topN)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
    def contrib(r: Column): Column = when(r > 0,
      lit(1.0) / ((lit(rrfK) + r).cast("double"))).otherwise(lit(0.0))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("sparse_rank"), lit(0)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
      .withColumn("rrf",
        round(contrib(col("sparse_rank")) + contrib(col("dense_rank")), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(limit)
  }

  /** Corpus-frequency rarity score per document: each token instance
    * contributes weight 1e9 div corpusCount(token) (integer division
    * — exact on both engines), and the document score is the integer
    * sum of its instances' weights. mean_rarity = rarity_sum /
    * n_tokens. High mean rarity = off-distribution / OOV-heavy text,
    * the unigram-LM analog of a perplexity filter.
    *
    * Scale shape: the corpus explodes ONCE into per-(doc, term)
    * counts — the map-side partial aggregation collapses each task's
    * token instances to its per-doc vocabulary before anything
    * shuffles, so every downstream stage moves O(distinct terms per
    * doc), not O(token instances) (~5× smaller on natural text, and
    * the hot-token Zipf head compresses hardest). The global vocab
    * count then REUSES that first shuffle (identical subtree ⇒
    * ReuseExchange), instances re-join the one-row-per-token vocab on
    * the term key (AQE handles residual skew), and one groupBy doc_id
    * re-weights: Σ_instances w ≡ Σ_terms cnt·w exactly (integer
    * arithmetic). No driver-side model, no floats until the final
    * division.
    */
  /** DSIR-style importance weighting (Xie et al. 2023's data selection
    * via importance resampling, reduced to its unigram core): score
    * each document by how much its tokens look like a TARGET
    * distribution vs the whole corpus. Token weight = (1e6 ·
    * (target_count+1)) div (corpus_count+1) — add-one smoothed ratio,
    * integer-quantized so per-doc sums are order-independent integer
    * sums (the same no-floats-until-the-end trick as [[rarity]]).
    * High mean = on-target text; the op a domain-upsampling pipeline
    * runs to pick pretraining data matching a trusted seed corpus.
    *
    * Scale shape: identical to [[rarity]] — one explode into
    * per-(doc, term) counts (the target flag rides along as a max),
    * vocab + target counts reuse the first exchange, instances
    * re-join the one-row-per-token stats.
    */
  def importance(docs: DataFrame, targetFilter: Column,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val docTerm = docs.select(col(idCol).as("doc_id"),
        targetFilter.cast("int").as("__tgt"),
        explode(TextFns.words(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("__cnt"), max(col("__tgt")).as("__tgt"))
    val vocab = docTerm.groupBy("term")
      .agg(sum(col("__cnt")).as("__c"),
        sum(col("__cnt") * col("__tgt")).as("__tc"))
    docTerm.join(vocab, Seq("term"))
      .withColumn("__w",
        expr("(CAST(1000000 AS BIGINT) * (__tc + 1)) div (__c + 1)"))
      .groupBy("doc_id")
      .agg(max(col("__tgt")).as("is_target"),
        sum(col("__cnt")).as("n_tokens"),
        sum(col("__w") * col("__cnt")).as("imp_sum"))
      .select(col("doc_id"), col("is_target"), col("n_tokens"), col("imp_sum"),
        round(col("imp_sum").cast("double") / col("n_tokens").cast("double"), 4)
          .as("mean_importance"))
  }

  /** Session-scoped shared rarity stats — the "compute corpus stats
    * once" shape a real pipeline runs: d_unigram_rarity and
    * d_curriculum both need the same one-row-per-doc
    * (doc_id, n_tokens, rarity_sum) frame, and each previously re-ran
    * the token explode + vocab join per registry entry. Keyed by
    * corpus identity (the table dir), [[RarityMaxLive]] corpora live —
    * a multi-corpus driver alternating snapshots must not rebuild on
    * every flip. The cached frame is one narrow row per doc (the
    * cache-one-row-per-doc rule); the eager count prevents the AQE
    * lazy-cache race.
    */
  def cachedRarityStats(docs: => DataFrame, key: String): DataFrame =
    graft.SessionCaches.cached("rarity", key, RarityMaxLive) {
      val df = rarity(docs)
        .select(col("doc_id"), col("n_tokens"), col("rarity_sum"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      Seq(df)
    }.head

  private[graft] val RarityMaxLive = 4

  def rarity(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val docTerm = docs.select(col(idCol).as("doc_id"),
        explode(TextFns.words(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("__cnt"))
    val vocab = docTerm.groupBy("term").agg(sum(col("__cnt")).as("__c"))
    docTerm.join(vocab, Seq("term"))
      .withColumn("__w", expr("CAST(1000000000 AS BIGINT) div __c"))
      .groupBy("doc_id")
      .agg(sum(col("__cnt")).as("n_tokens"),
        sum(col("__w") * col("__cnt")).as("rarity_sum"))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        round(col("rarity_sum").cast("double") / col("n_tokens").cast("double"), 4)
          .as("mean_rarity"))
  }

  /** Top-k characteristic terms per document by rational tf-idf:
    * score = tf · ((N·1e6) div df) — the idf is integer-quantized
    * inverse document frequency (per term monotone-equivalent to
    * log(N/df), so each term's doc ranking matches classic tf-idf;
    * cross-term weighting is tf-idf-FAMILY, same caveat as [[bm25]]).
    * All-integer scoring keeps the op bit-identical to its SQL twin.
    *
    * Scale shape: same as [[rarity]] — ONE explode collapsed to
    * per-(doc, term) counts map-side; the vocab df aggregation reuses
    * that exchange (ReuseExchange); the one-row corpus count
    * broadcasts back. The per-doc top-k is a row_number window over
    * doc_id whose partitions are per-doc DISTINCT TERM counts (tens
    * to thousands, never corpus-sized) — WindowGroupLimit prunes to
    * k per group map-side before the sort, so this is NOT the
    * big-candidate-set trap that forced BoundedTopK in the IVF scan.
    * Ties break on the term string for cross-engine determinism.
    *
    * The vocab join carries a shuffle_hash hint — the AQE
    * broadcast-direction trap (SURVEY §11) in its worst form showed
    * up here unhinted: with BOTH sides under the broadcast threshold
    * at the 64× blow-up, AQE broadcast the CORPUS-SIZED docTerm side
    * and coalesced the tiny vocab side to one partition, so scoring
    * and the partial window limit ran on a single task (26 of 43 s).
    * shuffle_hash is scale-safe both ways: neither a corpus-sized
    * broadcast at 100 TB, nor a one-task stream here (35 → 11 s).
    */
  def tfidf(docs: DataFrame, topK: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docTerm = docs.select(col(idCol).as("doc_id"),
        explode(TextFns.words(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df must REFERENCE tf so the pruned vocab subtree stays
    // canonically identical to docTerm's and the first exchange is
    // reused (ReuseExchange — the rarity/importance trick) instead of
    // re-scanning and re-exploding the whole corpus a second time
    // (measured: two 10M-row partial-agg scans at the 64× blow-up).
    // count(tf) does NOT work: tf is non-nullable, so NullPropagation
    // rewrites it back to count(1) and pruning re-splits the subtree.
    // tf >= 1 always, so this sum is exactly the row count.
    val vocab = docTerm.groupBy("term")
      .agg(sum(when(col("tf") >= 1, lit(1L))).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("__n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    docTerm.join(vocab.hint("shuffle_hash"), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * expr("(__n_docs * CAST(1000000 AS BIGINT)) div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("doc_id", "rank", "term", "tf", "df", "score")
  }

  /** Bigram-LM fluency score per document — the CONTEXT-CONDITIONAL
    * step up from [[rarity]]'s unigram frequencies: each bigram
    * occurrence w1·w2 contributes tf · (cf(w1·) · 10⁶ div cf(w1,w2)),
    * an integer proportional to 1/p(w2|w1) under the corpus-trained
    * bigram model. Low totals = text whose transitions the corpus
    * predicts well (fluent/templated); high totals = improbable word
    * sequences (the CCNet "tail" a perplexity filter cuts). Summing
    * 1/p instead of log(1/p) keeps every value exact-integer
    * (cross-engine reproducible, no transcendentals) at the cost of
    * being perplexity-FAMILY, not log-perplexity: per-bigram the map
    * is monotone, multi-bigram totals weight improbable transitions
    * more heavily than a log-sum would.
    *
    * Documents with fewer than two words have no complete bigram
    * context and are excluded (native.WordNgrams yields an empty
    * array; the oracle's generate_series guard mirrors it).
    *
    * Scale shape (the d_tfidf recipe): ONE explode collapsed map-side
    * to (doc, bigram) counts; corpus bigram counts aggregate that
    * frame (sum(tf) keeps the column reference, so the first exchange
    * is reused — see tfidf's NullPropagation note); context counts
    * aggregate the VOCAB-sized bigram table, never the corpus;
    * shuffle_hash hints on both joins back (AQE must not broadcast
    * the corpus-sized side — the trap measured on d_tfidf).
    */
  def bigramFluency(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val docBg = docs.select(col(idCol).as("doc_id"),
        explode(graft.plans.native.wordNgrams(lower(col(textCol)), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val cf = docBg.groupBy("bg").agg(sum(col("tf")).as("cf"))
    val ctx = cf.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cf")).as("cf_ctx"))
    docBg.join(cf.hint("shuffle_hash"), Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ctx.hint("shuffle_hash"), Seq("w1"))
      .withColumn("score",
        col("tf") * expr("(cf_ctx * CAST(1000000 AS BIGINT)) div cf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("score")).as("surprisal"))
      .withColumn("ppl_proxy", expr("surprisal div n_bigrams"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3,
    * reference's corpus-curation family): per LANGUAGE, train the
    * bigram LM on the CLEAN slice (docs passing every Gopher rule —
    * the paper trains on Wikipedia; the rule-clean slice is this
    * corpus's in-distribution analog), score EVERY document with the
    * same rational 1/p surprisal as [[bigramFluency]], then cut each
    * language's score distribution at type-1 terciles into
    * head/middle/tail — the paper's bucket layout, where `head` is
    * the lowest-perplexity (most target-like) third.
    *
    * Determinism (oracle-exact end to end): counts are integers,
    * per-bigram scores are `tf · (cf_ctx·10⁶ div cf)`, and unseen
    * events smooth deterministically — an unseen bigram under a seen
    * context scores as a count-1 event (`div coalesce(cf, 1)`), an
    * unseen context falls back to the language's total bigram count
    * (`coalesce(cf_ctx, c_tot, 1)` — the maximally-surprising
    * context). Bucket boundaries are all-integer type-1 quantiles
    * ([[Quantiles.typeOneBoundaries]]'s form, partitioned by lang)
    * over the 10⁶-coarsened, 10¹¹-capped score grid — the bounded
    * histogram contract: ≤ 10⁵ cells per language regardless of
    * corpus size, so the per-lang cum-sum window never sees corpus
    * rows.
    *
    * Scale shape: one corpus explode per LM side (train counts are
    * the clean subset, scoring streams all docs — the two subtrees
    * differ by the keep filter, so no exchange reuse is available;
    * two linear passes, the bigramFluency trade). NO per-(doc, bg)
    * tf intermediate on either side — Σ over occurrence rows of
    * surprisal(bg) ≡ Σ over distinct bigrams of tf·surprisal(bg)
    * (identical integers; the oracle keeps its tf formulation), and
    * the doc-keyed pre-aggregation was the op's measured 256× wall:
    * four stages spilling 8-10 GB each (the per-partition group
    * count is corpus×doc-length, so the hash agg always spills at
    * blow-up scale) for a dedup that saves almost nothing when tf≈1.
    * Train counts instead collapse map-side on the VOCAB-sized
    * (lang, bg) key straight off the explode; the scoring side ships
    * raw occurrence rows into the LM joins and aggregates per doc
    * once, after. The vocab-sized count table persists across its
    * three consumers (join build, ctx, tot — the textrank
    * multi-consumer rule; eager count against the AQE branch race),
    * released by [[perplexityBucket]] once the scored frame
    * materializes. Count tables ride shuffle_hash LEFT-join builds
    * back onto the corpus frame (the d_tfidf AQE trap); the per-doc
    * scored frame is barriered with an eager localCheckpoint before
    * fanning out to its three consumers (histogram, per-lang counts,
    * final bucket join — one-row-per-doc, the class the cache budget
    * allows). Measured at the blow-up: 64× 29.8 → 19.2 s, 256×
    * 141.7 → 44.8 s e2e (the 4.75× ratio drops to 2.3× — sublinear).
    */
  /** The perplexity plan-shape gate: the "scoretable" shape iff the
    * estimated occurrence shuffle (occ shuffle ≈ 4× the optimized-plan
    * bytes — 722 MB of 1024× documents → the measured 2.8 GB
    * exchange) fits the shared cache budget; else "occ". Derived plans
    * propagate inflated sizes, which errs toward occ — the spill-safe
    * narrow-row form. The measurements behind the knee are in
    * [[perplexityScoresWithLm]].
    */
  private[graft] def perplexityScoreTableGate(docs: DataFrame): Boolean = {
    val s = docs.queryExecution.optimizedPlan.stats.sizeInBytes * 4
    val estOccShuffle = if (s.isValidLong) s.toLong else Long.MaxValue
    estOccShuffle < Dedup.cacheBudgetBytes(docs)
  }

  /** LM-scoring stage of [[perplexityBucket]]: per-language
    * clean-slice bigram counts LEFT-joined back onto every document's
    * bigrams with deterministic integer smoothing, reduced to one
    * scored row per document. Returned with the persisted LM count
    * frame, so [[perplexityBucket]] can release the cache once the
    * scored frame materializes. Repeated standalone calls retire the
    * previous call's cache (the minhashLsh lifecycle). `scoreTable` is
    * the plan-shape verdict ([[perplexityScoreTableGate]]). The bucket
    * assignment runs over an eager localCheckpoint of the scores, so
    * the registered query's executedPlan cannot show these joins;
    * PlanAuditSpec audits this frame directly.
    */
  private[this] var lastLm: Option[DataFrame] = None
  private[graft] def perplexityScoresWithLm(docs: DataFrame, textCol: String,
      idCol: String, langCol: String,
      scoreTable: Boolean): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
      col(textCol).as("text"),
      TextAnalysis.gopherRules(col(textCol)).last.as("keep"))
    def occ(f: DataFrame) = f.select(col("lang"), col("doc_id"),
      explode(graft.plans.native.wordNgrams(lower(col("text")), 2)).as("bg"))
    val cf = occ(base.filter(col("keep"))).groupBy("lang", "bg")
      .agg(count(lit(1)).as("cf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized {
      lastLm.foreach(_.unpersist(blocking = false)); lastLm = Some(cf)
    }
    cf.count() // eager: AQE starts the three consumer branches concurrently
    val ctx = cf.groupBy(col("lang"), substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cf")).as("cf_ctx"))
    val tot = cf.groupBy("lang").agg(sum(col("cf")).as("c_tot"))
    val smoothed =
      expr("(coalesce(cf_ctx, c_tot, CAST(1 AS BIGINT))" +
        " * CAST(1000000 AS BIGINT)) div coalesce(cf, CAST(1 AS BIGINT))")
    // Two plan shapes, identical integers (pinned in RetrievalSpec):
    //  - "occ": occurrence rows carry both LM joins — TWO corpus-row
    //    exchanges (by (lang,bg) then (lang,w1)), narrow rows.
    //  - "scoretable": the smoothed score is assembled per DISTINCT
    //    (lang, bg) of the scoring corpus on the vocab side (the ctx
    //    fallback hits exactly when w1 is seen, so smoothing is
    //    row-for-row the same), then joined back in ONE corpus-row
    //    exchange — at the cost of one extra corpus explode (the
    //    distinct's map pass).
    // Same-harness A/B (StageProfile, 8 CPUs / 8 GB, §15.23): the
    // trade flips with the memory regime. 256× (68M occurrence rows):
    // occ 107.6 s → scoretable 76.4 s (−29% — the saved exchange fits
    // memory and exchange COUNT dominates). 1024× (272M rows, the
    // 8 GB spill regime): occ 303.7 s → scoretable 373.4 s (+23% —
    // both forms spill, and the extra linear pass plus the distinct's
    // partial agg ADD spill instead of saving it). Vocab:occurrence
    // ratio is 3.4% at BOTH factors, so the flip is the spill knee,
    // not vocabulary shape. Gate on estimated occurrence-shuffle
    // volume vs the shared cache-budget form
    // ([[perplexityScoreTableGate]]).
    val scoredRows =
      if (!scoreTable)
        occ(base)
          .join(cf.hint("shuffle_hash"), Seq("lang", "bg"), "left")
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(ctx.hint("shuffle_hash"), Seq("lang", "w1"), "left")
          .join(broadcast(tot), Seq("lang"), "left")
          .withColumn("score", smoothed)
      else {
        val st = occ(base).select("lang", "bg").distinct()
          .join(cf.hint("shuffle_hash"), Seq("lang", "bg"), "left")
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(ctx.hint("shuffle_hash"), Seq("lang", "w1"), "left")
          .join(broadcast(tot), Seq("lang"), "left")
          .withColumn("score", smoothed)
          .select(col("lang").as("s_lang"), col("bg").as("s_bg"),
            col("score"))
        // st covers every (lang, bg) the scoring side ships, so the
        // join-back is inner — but NULL-SAFE: a NULL lang survives the
        // occ path's LEFT joins (fallback smoothing), so it must
        // survive here too, not vanish in an equi-join. The distinct
        // keeps (NULL, bg) as a group and its score replays the same
        // coalesce fallback, so <=> makes the two gated plan shapes
        // row-identical on null-lang corpora (pinned in RetrievalSpec).
        occ(base).join(st.hint("shuffle_hash"),
            col("lang") <=> col("s_lang") && col("bg") <=> col("s_bg"))
          .drop("s_lang", "s_bg")
      }
    val scored = scoredRows
      .groupBy("lang", "doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("score")).as("surprisal"))
      .withColumn("ppl_proxy", expr("surprisal div n_bigrams"))
      .withColumn("gd",
        expr("least(ppl_proxy, CAST(100000000000 AS BIGINT)) div 1000000"))
    (scored, cf)
  }

  /** Per-language type-1 tercile boundaries (b33, b67) of a scored
    * frame's coarse grid — the histogram is ≤10⁵ cells per language
    * by the gd cap, so the cum-sum window never sees corpus rows.
    * Shared by [[perplexityBucket]] and the streaming model fit
    * ([[graft.streaming.StreamingQuality.fit]]).
    */
  private[graft] def perplexityBoundaries(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cumW = Window.partitionBy("lang").orderBy("gd")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = scored.groupBy("lang", "gd").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
    val nl = scored.groupBy("lang").agg(count(lit(1)).as("n"))
    hist.join(broadcast(nl), Seq("lang"))
      .groupBy("lang").agg(
        min(when(col("cum") >= expr("(1 * n + 2) div 3"), col("gd"))).as("b33"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("gd"))).as("b67"))
  }

  /** Release the LM count cache once its consumers are done (the
    * scored frame is materialized) — shared teardown for
    * [[perplexityBucket]] and the streaming fit.
    */
  private[graft] def releasePerplexityLm(lm: DataFrame): Unit = {
    lm.unpersist(blocking = false)
    synchronized { if (lastLm.exists(_ eq lm)) lastLm = None }
  }

  def perplexityBucket(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang"): DataFrame = {
    val (scores, lm) = perplexityScoresWithLm(docs, textCol, idCol, langCol,
      perplexityScoreTableGate(docs))
    val scored = scores
      .localCheckpoint() // eager: three consumers below, one-row-per-doc
    releasePerplexityLm(lm) // checkpoint materialized — LM cache done
    val bounds = perplexityBoundaries(scored)
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("surprisal"),
        col("ppl_proxy"),
        when(col("gd") <= col("b33"), lit("head"))
          .when(col("gd") <= col("b67"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Inverted index build — the retrieval-infrastructure twin of
    * [[bm25]]: per term, document frequency, total term frequency,
    * and a BOUNDED posting-list sample (the `postingCap` smallest
    * doc_ids, ascending).
    *
    * Scale shape: one explode collapsed map-side to (term, doc)
    * counts, then one aggregation per term. The posting sample uses
    * the bounded-heap top-k aggregate ([[graft.plans.BoundedTopK]])
    * with score = −doc_id, NOT collect_list + sort: a stopword's
    * posting list is the whole corpus, and an unbounded collect_list
    * buffers it per group (the classic inverted-index OOM at 100 TB);
    * the heap ships at most `postingCap` entries per term per task.
    * Output order (df desc, term) via TakeOrderedAndProject.
    */
  def invertedIndex(docs: DataFrame, topTerms: Int = 200,
      postingCap: Int = 20, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val docTerm = docs.select(col(idCol).as("doc_id"),
        explode(TextFns.words(lower(col(textCol)))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    docTerm.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        graft.plans.BoundedTopK.boundedTopK(
          -col("doc_id").cast("double"), col("doc_id"), postingCap).as("tops"))
      .select(col("term"), col("df"), col("tf_total"),
        concat_ws(",",
          transform(col("tops"), t => t.getField("id").cast("string")))
          .as("postings"))
      .orderBy(col("df").desc, col("term")).limit(topTerms)
  }

  /** Windowed co-occurrence statistics with a PMI-style association
    * ratio — the collocation-mining pass of corpus analysis (phrase
    * detection, word2vec-style context tables).
    *
    * A co-occurrence event is an ordered position pair (i, i+d) for
    * d ≤ `window`, normalized to an unordered (a ≤ b) pair. Pair
    * generation is NARROW: one explode of the concatenated
    * 2..(window+1)-gram arrays, first/last word of each gram — no
    * positional self-join, so the only corpus-sized shuffles are the
    * two map-side-combined count aggregations (pairs + unigrams).
    * The association score is the raw PMI ratio
    * p(a,b)/(p(a)p(b)) = c_ab·N / (c_a·c_b·window-factor), computed
    * in ONE double multiply/divide of exact integer counts — bit
    * identical cross-engine (IEEE), no transcendentals (log PMI would
    * be monotone-equivalent and engine-divergent). Joins back to
    * unigram counts carry shuffle_hash hints (the d_tfidf AQE trap:
    * never let the corpus-derived side become the broadcast build).
    */
  /** Unordered windowed co-occurrence counts (a ≤ b, c_ab) — the
    * edge builder shared by [[cooccurrencePmi]] and [[textRank]].
    * See cooccurrencePmi's scaladoc for why pair generation is a
    * narrow gram explode, not a positional self-join.
    */
  private def windowPairCounts(docs: DataFrame, window: Int,
      textCol: String): DataFrame = {
    val grams = (2 to window + 1).map(k =>
      graft.plans.native.wordNgrams(lower(col(textCol)), k))
    docs
      .select(explode(concat(grams: _*)).as("g"))
      .select(least(substring_index(col("g"), " ", 1),
          substring_index(col("g"), " ", -1)).as("a"),
        greatest(substring_index(col("g"), " ", 1),
          substring_index(col("g"), " ", -1)).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
  }

  def cooccurrencePmi(docs: DataFrame, window: Int = 3,
      topPairs: Int = 100, minCount: Long = 5, textCol: String = "text")
      : DataFrame = {
    val pairs = windowPairCounts(docs, window, textCol)
    val uni = docs.select(explode(TextFns.words(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val tot = uni.agg(sum(col("c_w")).as("n_tokens"))
    pairs
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a"))
        .hint("shuffle_hash"), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b"))
        .hint("shuffle_hash"), Seq("b"))
      .crossJoin(broadcast(tot))
      .filter(col("c_ab") >= minCount)
      .withColumn("pmi",
        (col("c_ab").cast("double") * col("n_tokens").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double")))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        col("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b")).limit(topPairs)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) run
    * corpus-scale: weighted PageRank over the windowed co-occurrence
    * graph ([[windowPairCounts]], the d_cooccur edge set at
    * `minCount`), fixed `iters` iterations at damping 0.85, top
    * `topK` words by final score — the unsupervised keyword/topic
    * signal a curation pipeline reads next to d_tfidf (corpus-global
    * where tf-idf is per-document).
    *
    * ALL-INTEGER iteration (the d_unigram_rarity quantization rule,
    * applied to an iterative graph algorithm): scores live in
    * micro-units (q₀ = 1 000 000), each edge contributes
    * (85·w·q_src) DIV (100·W_src), and the update is
    * q' = 150 000 + Σ contributions — integer sums are
    * order-independent, so every iteration is bit-exact across
    * partitionings AND engines, and the DuckDB oracle replays the
    * whole run as an unrolled materialized-CTE chain (the Bpe.learn
    * oracle pattern; floating PageRank would diverge in summation
    * order). Overflow bound: 85·w·q < 2⁶³ needs w·q < 10¹⁷ —
    * corpus-safe (w is an edge count, q ≤ graph-size·10⁶).
    *
    * Scale shape: ONE corpus pass builds the edges; every iteration
    * is vocab-sized (edges ⋈ scores, groupBy dst — the Bpe loop
    * shape), barriered per iteration so the plan stays constant-size
    * (lineage doubles per merge without it), with the edge frame
    * persisted + eagerly counted once (the lazily-persisted-race
    * rule).
    */
  def textRank(docs: DataFrame, window: Int = 3, minCount: Long = 5,
      iters: Int = 8, topK: Int = 50, textCol: String = "text"): DataFrame = {
    // persist the FILTERED pair counts: pc fans out into both union
    // branches of the edge set AND the degree aggregate (4 consumers
    // of the corpus gram-explode otherwise — ReuseExchange does not
    // recover it across AQE's independently replanned branches;
    // StageProfile at 256× showed the explode+count stage TWICE,
    // 30.1 s + 18.1 s of a 61 s wall). The cached frame is the
    // minCount-filtered pair table — bounded by vocab², tiny next to
    // the corpus.
    val pc = windowPairCounts(docs, window, textCol)
      .filter(col("c_ab") >= minCount)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pc.count(): Unit // eager: AQE's concurrent branches race a lazy persist
    val edges = pc.select(col("a").as("src"), col("b").as("dst"),
        col("c_ab").as("w"))
      .unionAll(pc.select(col("b").as("src"), col("a").as("dst"),
        col("c_ab").as("w")))
    val wt = edges.groupBy("src").agg(sum(col("w")).as("wsum"))
    val ew = edges.join(wt, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ew.count(): Unit
    var s = wt.select(col("src").as("word"), lit(1000000L).as("q"))
    for (_ <- 1 to iters)
      s = DedupPipeline.barrier(ew.join(s, ew("src") === s("word"))
        .select(col("dst"), expr("85 * w * q DIV (100 * wsum)").as("contrib"))
        .groupBy("dst").agg((lit(150000L) + sum(col("contrib"))).as("q"))
        .select(col("dst").as("word"), col("q")))
    val out = s.orderBy(col("q").desc, col("word")).limit(topK)
      .select(col("word"), col("q").as("score_micro"),
        (col("q") / lit(1e6)).as("score"))
    pc.unpersist()
    ew.unpersist()
    out
  }
}
