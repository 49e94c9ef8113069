package graft.operators

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}

/** LLM-training-data pipeline operators (SURVEY.md §2.3) registered as
  * driver-checkable queries over documents/embeddings. Oracle SQL is
  * generated from the same constant tables the Column code uses, so
  * both sides share one definition of markers/patterns/thresholds.
  */
object LlmOps {

  /** Fixed knee for d_curation_ledger's contamination-leg auto gate:
    * estimated gram-shuffle bytes (corpus plan bytes × 8) at or above
    * this take the one-sided broadcast-bloom leg; below it the exact
    * oracle-backed 8-gram join runs. 2 GiB = the cache budget of the
    * 8 GiB heap the 1024× knee was measured on — a CONSTANT, not the
    * live heap, so the oracle verdict never varies with memory config
    * (sf-scale corpora always gate exact on any JVM).
    */
  private[graft] val ContamExactGramBytesMax: Long = 2L << 30

  /** The ledger's contamination-leg gate: bloom iff the estimated
    * gram shuffle (corpus plan bytes × 8 — the measured exact-leg
    * expansion) crosses [[ContamExactGramBytesMax]]. Factored out so
    * ContamGateSpec pins the verdicts: sf-scale corpora must gate
    * exact on any JVM, stats-inflated frames bloom.
    */
  private[graft] def contamGateUseBloom(
      docs: org.apache.spark.sql.DataFrame): Boolean = {
    val sz = docs.queryExecution.optimizedPlan.stats.sizeInBytes * 8
    val estGramShuffle = if (sz.isValidLong) sz.toLong else Long.MaxValue
    estGramShuffle >= ContamExactGramBytesMax
  }

  // ------------------------------------------------------- shared SQL

  /** DuckDB twin of TextFns.countOccurrences (exact literal count via
    * replace-length; quotient is always integral so the cast is safe).
    */
  private def occSql(expr: String, lit: String): String =
    s"CAST((length($expr) - length(replace($expr, '$lit', ''))) / ${lit.length} AS INT)"

  private val padSql = "(' ' || lower(text) || ' ')"

  private def langScoreSql(markers: Seq[String]): String =
    markers.map(m => occSql(padSql, s" $m ")).mkString("(", " + ", ")")

  // ---------------------------------------------------------- queries

  private val exactDedup = GraftQuery(
    "d_exact_dedup",
    Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY text_hash"""),
    (s, dir) => Dedup.exactGroups(Tables(s, dir).documents)
      .orderBy("text_hash"))

  // Hash-gated (round 4): the output is the VERIFIED pair set
  // (exact jaccard ≥ 0.8), and banding recall is exhaustively 1 at
  // the verify scale (measured round 4), so the true all-pairs
  // jaccard query IS the oracle — same argument as d_dedup_corpus.
  // Banding itself stays property-tested in MinHashSpec.
  private val minhashLsh = GraftQuery(
    "d_minhash_lsh",
    Some("""WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        FROM documents),
      sh AS (SELECT doc_id,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.minhashLsh(Tables(s, dir).documents, threshold = 0.8)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("doc_a", "doc_b"))

  /** Registered with the hot-bucket cap ON (scale-path principle): on
    * a natural-language corpus, stopword-dominated simhash bits
    * correlate corpus-wide, so a few 16-bit window values cover large
    * doc fractions — Σ bucket² quadratic (measured 366 s at the 64×
    * blow-up; 256-cap cuts those windows whole while the other 7
    * windows keep the recall, see SimHashSpec). sf0.01 buckets are far
    * below the cap, so gate results are unchanged.
    */
  private val simhashQ = GraftQuery(
    "d_simhash",
    None, // 64-bit simhash + banding not SQL-expressible; see SimHashSpec
    // rows-only: no output sort (round-7 rule, applied r11)
    (s, dir) => Dedup.simhashPairs(Tables(s, dir).documents, maxHamming = 10,
        maxBucket = 256))

  private val ngramJaccard = GraftQuery(
    "d_ngram_jaccard",
    Some("""WITH d0 AS (SELECT doc_id, substr(text, 1, 40) AS pre,
        list_distinct(string_split(text, ' ')) AS ws FROM documents),
      d AS (SELECT doc_id, pre, ws FROM (SELECT *,
          COUNT(*) OVER (PARTITION BY pre) AS n FROM d0) WHERE n <= 32)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
          / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
      FROM d a JOIN d b ON a.pre = b.pre AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
          / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.prefixJaccardPairs(Tables(s, dir).documents,
        prefixLen = 40, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("doc_a", "doc_b"))

  /** The REGISTERED near-dup operator is the LSH scale path: candidate
    * generation is an equi-join on (table, hyperplane-signature) —
    * O(Σ bucket²), never probes×corpus. Recall < 1 by construction, so
    * the check is rows-only; LlmOpsSpec gates recall vs the exact
    * variant (d_embed_neardup_exact keeps the DuckDB oracle).
    */
  private val embedNearDup = GraftQuery(
    "d_embed_neardup",
    None, // LSH recall < 1: rows-only; recall gated vs exact in LlmOpsSpec
    // rows-only: no output sort (round-7 rule, applied r11)
    (s, dir) => Dedup.embeddingNearDupLsh(Tables(s, dir).embeddings,
        tau = 0.4, bits = 0, nTables = 8)) // bits auto-sized from n

  /** Exact brute-force reference for d_embed_neardup (oracle-backed;
    * BroadcastNestedLoopJoin is acceptable ONLY here — probe side is
    * deliberately small, and this exists as the recall/correctness
    * reference, not the scale path).
    */
  private val embedNearDupExact = GraftQuery(
    "d_embed_neardup_exact",
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      p AS (SELECT * FROM n WHERE vec_id % 10 = 0)
      SELECT p.vec_id AS vec_a, n.vec_id AS vec_b
      FROM p JOIN n ON p.vec_id < n.vec_id
      WHERE round(list_inner_product(p.v, n.v) / (p.nrm * n.nrm), 6) > 0.4
      ORDER BY vec_a, vec_b"""),
    (s, dir) => Dedup.embeddingNearDup(Tables(s, dir).embeddings,
        col("vec_id") % 10 === 0, tau = 0.4)
      .orderBy("vec_a", "vec_b"))

  /** The REGISTERED ANN operator is the IVF scale path: corpus
    * partitioned into KMeans cells, each probe scans nProbe cells —
    * candidate generation is an equi-join on cell id. Rows-only
    * (approximate); recall gated vs brute force in PipelineSpec.
    *
    * Routed through the session-scoped persisted index
    * ([[graft.sources.AnnIndexCache]]): the first probe in a process
    * builds the index (the same seeded fit ivfTopK runs — results
    * bit-identical, IvfIndexSpec pins the registry path), repeated
    * probes pay only probe-batch cost. Repeated probing IS the ANN
    * access pattern; the in-query re-fit was 2/3 of the 256× wall.
    */
  private val annTopK = GraftQuery(
    "d_ann_topk",
    None, // IVF recall < 1: rows-only; recall gated vs brute in PipelineSpec
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$dir#embeddings")
      // rows-only: no output sort (round-7 rule, applied r11)
      graft.sources.IvfIndex.topK(s, idx,
          emb.filter(col("vec_id") % 50 === 0), k = 5)
    })

  /** Mutual k-NN graph (Similarity.knnGraph): cell-blocked top-k
    * neighbors + mutuality join. KMeans blocking → rows-only;
    * exactness at nCells=1 and edge properties are spec-gated
    * (SimilaritySpec "knn graph").
    */
  private val knnGraphQ = GraftQuery(
    "d_knn_graph",
    None,
    // session-cached cell assignment (CellAssignCache): one fit per
    // corpus per process, repeated calls pay scan+join cost only
    // rows-only: no output sort (round-7 rule, applied r11)
    (s, dir) => Similarity.knnGraph(Tables(s, dir).embeddings, k = 4,
        cacheKey = Some(s"$dir#embeddings")))

  /** Exact top-k reference for d_ann_topk (oracle-backed recall
    * baseline; see bruteForceTopK note on scale).
    */
  private val annTopKExact = GraftQuery(
    "d_ann_topk_exact",
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      p AS (SELECT * FROM n WHERE vec_id % 50 = 0),
      pairs AS (SELECT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
          list_inner_product(p.v, n.v) / (p.nrm * n.nrm) AS cos
        FROM p JOIN n ON p.vec_id <> n.vec_id),
      ranked AS (SELECT probe_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY probe_id
            ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
        FROM pairs)
      SELECT probe_id, rank, neighbor_id, round(cos, 4) AS cos_r
      FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank"""),
    (s, dir) => Similarity.bruteForceTopK(Tables(s, dir).embeddings,
        col("vec_id") % 50 === 0, k = 5)
      .orderBy("probe_id", "rank"))

  /** Semi-supervised label propagation (#78, round 6): every
    * non-seed vector takes the majority label of its k nearest seeds
    * (ties → smaller label). The exact twin is oracle-backed — the
    * prediction is a pure function of the embedding geometry and the
    * deterministic tie rules, so DuckDB replays rank → vote → argmax
    * bit-for-bit. The IVF path (seeds-only KMeans index + SQ8 codes +
    * bounded-heap scan) is rows-only, agreement-gated against the
    * exact twin in SimilaritySpec.
    */
  private val labelPropExact = GraftQuery(
    "d_label_prop_exact",
    Some("""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      s AS (SELECT * FROM n WHERE vec_id % 5 = 0),
      p AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
      pairs AS (SELECT p.vec_id AS probe_id, s.vec_id AS seed_id,
          s.label AS seed_label,
          list_inner_product(p.v, s.v) / (p.nrm * s.nrm) AS cos
        FROM p JOIN s ON p.vec_id <> s.vec_id),
      ranked AS (SELECT probe_id, seed_id, seed_label,
          ROW_NUMBER() OVER (PARTITION BY probe_id
            ORDER BY round(cos, 6) DESC, seed_id) AS rank
        FROM pairs),
      votes AS (SELECT probe_id, seed_label, COUNT(*) AS n_votes
        FROM ranked WHERE rank <= 5 GROUP BY probe_id, seed_label),
      best AS (SELECT probe_id, seed_label, n_votes,
          ROW_NUMBER() OVER (PARTITION BY probe_id
            ORDER BY n_votes DESC, seed_label) AS vr FROM votes)
      SELECT probe_id AS vec_id, seed_label AS pred_label, n_votes
      FROM best WHERE vr = 1 ORDER BY vec_id"""),
    (s, dir) => Similarity.labelPropagateExact(Tables(s, dir).embeddings,
        col("vec_id") % 5 === 0, k = 5)
      .orderBy("vec_id"))

  private val labelProp = GraftQuery(
    "d_label_prop",
    None, // seeds-only KMeans cells + SQ8 codes: engine-specific; agreement spec-gated
    // no orderBy: rows-only check, and a total sort over the
    // zero-shuffle kernel projection makes RangePartitioner's
    // sampling pass evaluate the kernel a SECOND time (2048× stress:
    // two identical 160 s probe-scan stages)
    (s, dir) => Similarity.labelPropagate(Tables(s, dir).embeddings,
        col("vec_id") % 5 === 0, k = 5))

  private val langIdQ = GraftQuery(
    "d_langid",
    Some {
      val scores = TextAnalysis.Markers
        .map { case (l, ms) => s"${langScoreSql(ms)} AS s_$l" }
      val best = TextAnalysis.Markers.map { case (l, _) => s"s_$l" }
        .reduceRight((a, b) => s"greatest($a, $b)")
      val cases = TextAnalysis.Markers
        .map { case (l, _) => s"WHEN s_$l = best AND s_$l > 0 THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (SELECT doc_id, lang, ${scores.mkString(", ")} FROM documents),
        b AS (SELECT *, $best AS best FROM scored)
        SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred
        FROM b ORDER BY doc_id"""
    },
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id"))

  private val qualityQ = GraftQuery(
    "d_quality",
    Some {
      val stopSql = langScoreSql(Seq("the", "and", "of", "to", "a", "in", "is"))
      s"""WITH m AS (SELECT doc_id,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct,
        len(regexp_extract_all(text, '[0-9]')) AS n_digits,
        $stopSql AS n_stop
        FROM documents)
      SELECT doc_id, n_chars, n_tokens,
        round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 4) AS avg_token_len,
        round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        round(CAST(n_digits AS DOUBLE) / n_chars, 6) AS digit_ratio,
        round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
        CASE WHEN n_tokens < 5 THEN 0.0 ELSE round(
          (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.2 END)
          + (CASE WHEN (CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END)
          + (CASE WHEN (CAST(n_punct AS DOUBLE) / n_chars) <= 0.1 THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN n_stop > 0 THEN 0.1 ELSE 0.0 END), 4) END AS quality_score
      FROM m ORDER BY doc_id"""
    },
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id") +: TextAnalysis.quality(col("text")): _*)
      .orderBy("doc_id"))

  /** Gopher-rule battery (TextAnalysis.gopherRules): stats, one
    * boolean per hard filter rule, AND'd keep flag. One narrow
    * projection — see the builder's determinism note (raw-double
    * rule comparisons on identical operands, round only in outputs).
    */
  private val gopherQ = GraftQuery(
    "d_gopher_rules",
    Some {
      val stopSql = langScoreSql(TextAnalysis.StopSet)
      s"""WITH m AS (SELECT doc_id,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_words,
        ${occSql("text", "#")} + ${occSql("text", "...")} AS n_symbol,
        len(list_filter(string_split(text, ' '),
          w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        $stopSql AS n_stop
        FROM documents),
      r AS (SELECT *,
        CAST(n_chars - n_words + 1 AS DOUBLE) / n_words AS mwl,
        CAST(n_symbol AS DOUBLE) / n_words AS sr,
        CAST(n_alpha AS DOUBLE) / n_words AS ar
        FROM m)
      SELECT doc_id, n_words,
        round(mwl, 4) AS mean_word_len,
        round(sr, 6) AS symbol_ratio,
        round(ar, 6) AS alpha_ratio,
        n_stop,
        (n_words BETWEEN 10 AND 100000) AS r_word_count,
        (mwl BETWEEN 2 AND 10) AS r_mean_word,
        (sr <= 0.1) AS r_symbol,
        (ar >= 0.8) AS r_alpha,
        (n_stop >= 2) AS r_stop,
        ((n_words BETWEEN 10 AND 100000) AND (mwl BETWEEN 2 AND 10)
          AND (sr <= 0.1) AND (ar >= 0.8) AND (n_stop >= 2)) AS keep_flag
      FROM r ORDER BY doc_id"""
    },
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id") +: TextAnalysis.gopherRules(col("text")): _*)
      .orderBy("doc_id"))

  private val tokenCountQ = GraftQuery(
    "d_token_count",
    Some("""SELECT doc_id,
      len(string_split(text, ' ')) AS ws_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_ish_tokens,
      len(list_distinct(string_split(lower(text), ' '))) AS distinct_tokens
      FROM documents ORDER BY doc_id"""),
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id") +: TextAnalysis.tokenCounts(col("text")): _*)
      .orderBy("doc_id"))

  private val fingerprintQ = GraftQuery(
    "d_fingerprint",
    None, // xxhash64-based winnowing has no SQL twin; see TextAnalysisSpec
    (s, dir) => Tables(s, dir).documents
      // no orderBy: rows-only, and the sort's range sampling would
      // run the narrow fingerprint kernel twice over the corpus
      .select(col("doc_id") +: TextAnalysis.fingerprint(col("text")): _*))

  private val editDistance = GraftQuery(
    "d_edit_distance",
    Some("""WITH d AS (SELECT doc_id, substr(text, 1, 40) AS pre,
        substr(text, 1, 200) AS head FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        levenshtein(a.head, b.head) AS edit_dist
      FROM d a JOIN d b ON a.pre = b.pre AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"),
        substring(col("text"), 1, 40).as("pre"),
        substring(col("text"), 1, 200).as("head"))
      d.select(col("pre"), col("doc_id").as("doc_a"), col("head").as("head_a"))
        .join(d.select(col("pre"), col("doc_id").as("doc_b"), col("head").as("head_b")),
          Seq("pre"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("head_a"), col("head_b")).as("edit_dist"))
        .orderBy("doc_a", "doc_b")
    })

  // The DuckDB twin reproduces the whole pipeline declaratively:
  // exact-dup edges (md5 group → min rep), near-dup edges as TRUE
  // all-pairs jaccard ≥ 0.8 over the representatives, then connected
  // components as a WITH RECURSIVE min-label fixpoint. The oracle's
  // edge set equals the LSH edge set exactly when banding recall is 1
  // at the verify scale — it is (deterministic fixed-seed signatures;
  // verified exhaustively at sf0.01), so the iterative CC op is
  // hash-gated, not just rows-only. PipelineSpec keeps the driver-side
  // union-find property check for scales where recall < 1 is allowed.
  private val dedupCorpus = GraftQuery(
    "d_dedup_corpus",
    Some("""WITH RECURSIVE ws AS (SELECT doc_id, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT doc_id, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM sh),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      reach AS (SELECT src, MIN(dst) AS component FROM r GROUP BY src)
      SELECT d.doc_id, rc.component, d.lang, d.source
      FROM documents d JOIN reach rc ON d.doc_id = rc.src
      WHERE d.doc_id = rc.component
      ORDER BY d.doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // the kept view over the session-cached labels (cachedComponents
      // — five registry queries share one CC per corpus per process)
      docs.join(DedupPipeline.cachedComponents(docs, dir), "doc_id")
        .filter(col("doc_id") === col("component"))
        .select("doc_id", "component", "lang", "source")
        .orderBy("doc_id")
    })

  /** Leakage-safe holdout split (#80, round 6): train/val/test drawn
    * at the duplicate-FAMILY level — every doc in a connected dup
    * component gets the same split, so a near-duplicate of a test
    * document can never land in train (the contamination path a
    * doc-level split like d_split leaves open; Lee et al. 2022
    * measure the effect on eval loss). Composition of two
    * oracle-proven pieces: d_dedup_corpus's CC labeling (recursive
    * CTE fixpoint) keyed through d_split's md5-hex draw on the
    * component representative — so the whole query stays an exact
    * hash match. Scale shape: componentsOf's checkpointed
    * min-label propagation plus one narrow projection; the draw adds
    * NO shuffle.
    */
  private val leakageSplitQ = GraftQuery(
    "d_leakage_split",
    Some(s"""WITH RECURSIVE ws AS (SELECT doc_id, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT doc_id, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM sh),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      reach AS (SELECT src, MIN(dst) AS component FROM r GROUP BY src)
      SELECT d.doc_id, rc.component,
        CASE WHEN substr(md5(CAST(rc.component AS VARCHAR)), 1, 8)
               < '${Sampling.hexCut(0.10)}' THEN 'val'
             WHEN substr(md5(CAST(rc.component AS VARCHAR)), 1, 8)
               < '${Sampling.hexCut(0.20)}' THEN 'test'
             ELSE 'train' END AS split
      FROM documents d JOIN reach rc ON d.doc_id = rc.src
      ORDER BY d.doc_id"""),
    (s, dir) => Sampling.holdoutSplit(
        DedupPipeline.cachedComponents(Tables(s, dir).documents, dir),
        "component", valFraction = 0.10, testFraction = 0.10)
      .select("doc_id", "component", "split")
      .orderBy("doc_id"))

  /** Quality-keyed family representative (#89): rewrite policy for a
    * deduplicated corpus that keeps the BEST member of each duplicate
    * family, not the arbitrary min-id — what production rewrites
    * actually do (near-dup families often pair a clean copy with a
    * boilerplate-wrapped one; min-id keeps whichever crawled first).
    * Composition of two oracle-proven pieces (the d_leakage_split
    * rule): componentsOf's CC labeling ∘ d_quality's score, argmax
    * per family by (quality_score desc, doc_id). Scale shape: the CC
    * pipeline + ONE component-partitioned window over (doc_id,
    * score) pairs. ORACLE-BACKED end to end.
    */
  private val familyKeepQ = GraftQuery(
    "d_family_keep",
    Some {
      val stopSql = langScoreSql(TextAnalysis.StopSet)
      s"""WITH RECURSIVE ws AS (SELECT doc_id, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT doc_id, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM sh),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      reach AS (SELECT src, MIN(dst) AS component FROM r GROUP BY src),
      qm AS (SELECT doc_id,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct,
        $stopSql AS n_stop
        FROM documents),
      qs AS (SELECT doc_id,
        CASE WHEN n_tokens < 5 THEN 0.0 ELSE round(
          (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.2 END)
          + (CASE WHEN (CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END)
          + (CASE WHEN (CAST(n_punct AS DOUBLE) / n_chars) <= 0.1 THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN n_stop > 0 THEN 0.1 ELSE 0.0 END), 4) END AS quality_score
        FROM qm),
      rk AS (SELECT q.doc_id, rc.component, q.quality_score,
          ROW_NUMBER() OVER (PARTITION BY rc.component
            ORDER BY q.quality_score DESC, q.doc_id) AS rn
        FROM qs q JOIN reach rc ON q.doc_id = rc.src)
      SELECT doc_id, component, quality_score, (rn = 1) AS kept
      FROM rk ORDER BY doc_id"""
    },
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val scored = docs.select(
        col("doc_id") +: TextAnalysis.quality(col("text")): _*)
        .select("doc_id", "quality_score")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component")
        .orderBy(col("quality_score").desc, col("doc_id"))
      DedupPipeline.cachedComponents(docs, dir)
        .join(scored, Seq("doc_id"))
        .withColumn("kept", row_number().over(w) === 1)
        .select("doc_id", "component", "quality_score", "kept")
        .orderBy("doc_id")
    })

  /** Token-budget selection (#90): keep the highest-quality prefix of
    * the corpus under a TOKEN budget — the "select the best N tokens
    * for annealing/mid-training" op. The budget splits evenly across
    * 16 md5-char shards (the d_pack sharding rule) so the running
    * token sum parallelizes: per-shard window, never one global
    * unpartitioned cumsum. Deterministic (score + id ordering, hash
    * sharding) and ORACLE-BACKED.
    */
  private val tokenBudgetQ = GraftQuery(
    "d_token_budget",
    Some {
      val stopSql = langScoreSql(TextAnalysis.StopSet)
      s"""WITH qm AS (SELECT doc_id,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct,
        $stopSql AS n_stop
        FROM documents),
      qs AS (SELECT doc_id, n_tokens,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        CASE WHEN n_tokens < 5 THEN 0.0 ELSE round(
          (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.2 END)
          + (CASE WHEN (CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END)
          + (CASE WHEN (CAST(n_punct AS DOUBLE) / n_chars) <= 0.1 THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN n_stop > 0 THEN 0.1 ELSE 0.0 END), 4) END AS quality_score
        FROM qm),
      c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
          ORDER BY quality_score DESC, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM qs)
      SELECT doc_id, shard, n_tokens, quality_score, cum_tokens,
        (cum_tokens <= 512) AS kept
      FROM c ORDER BY doc_id"""
    },
    (s, dir) => {
      val scored = Tables(s, dir).documents.select(
        col("doc_id") +: TextAnalysis.quality(col("text")): _*)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .withColumn("shard",
          substring(md5(col("doc_id").cast("string")), 1, 1))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard")
        .orderBy(col("quality_score").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      scored
        .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(w))
        .withColumn("kept", col("cum_tokens") <= lit(512L))
        .select("doc_id", "shard", "n_tokens", "quality_score",
          "cum_tokens", "kept")
        .orderBy("doc_id")
    })

  /** Duplicate-family size distribution — the dedup report an
    * operator actually reads before committing a corpus rewrite (how
    * much is duplicated, in how large families). Same edge set + CC
    * labeling as d_dedup_corpus (DedupPipeline.componentsOf), then
    * two tiny aggregations; oracle composes the same WITH RECURSIVE
    * fixpoint with the histogram GROUP BYs.
    */
  private val dupFamilies = GraftQuery(
    "d_dup_families",
    Some("""WITH RECURSIVE ws AS (SELECT doc_id, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT doc_id, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM sh),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM r GROUP BY src),
      fam AS (SELECT component, COUNT(*) AS family_size FROM comp GROUP BY component)
      SELECT CAST(family_size AS BIGINT) AS family_size,
        CAST(COUNT(*) AS BIGINT) AS n_families,
        CAST(SUM(family_size) AS BIGINT) AS n_docs
      FROM fam GROUP BY family_size ORDER BY family_size"""),
    (s, dir) => DedupPipeline.cachedComponents(Tables(s, dir).documents, dir)
      .groupBy("component").agg(count(lit(1)).as("family_size"))
      .groupBy("family_size")
      .agg(count(lit(1)).as("n_families"),
        sum(col("family_size")).as("n_docs"))
      .orderBy("family_size"))

  private val contamination = GraftQuery(
    "d_contamination",
    None, // xxhash-based fingerprints have no SQL twin; self-overlap
          // and disjointness properties in LlmOpsSpec
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // rows-only: no output sort (round-7 rule, applied r11 — the
      // sort's sampling pass re-ran the whole fingerprint scan)
      TextAnalysis.contamination(
          candidates = docs.filter(col("source") =!= "src0"),
          benchmark = docs.filter(col("source") === "src0"))
        .filter(col("overlap_ratio") > 0.5)
    })

  /** Exact n-gram contamination (TextAnalysis.ngramContamination) —
    * the oracle-backed reference twin of the winnowing/bloom paths:
    * string 8-grams join the benchmark set directly, so the DuckDB
    * twin replays it bit-for-bit. Reports every candidate doc.
    */
  private val contaminationExact = GraftQuery(
    "d_contamination_exact",
    Some("""WITH sp AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents),
      cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(ws) - 7, 1)),
          i -> array_to_string(ws[i:least(i+7, len(ws))], ' ')))) AS ng
        FROM sp WHERE source <> 'src0'),
      bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(ws) - 7, 1)),
          i -> array_to_string(ws[i:least(i+7, len(ws))], ' ')))) AS ng
        FROM sp WHERE source = 'src0'),
      j AS (SELECT cg.doc_id, cg.ng, bg.ng AS hit
        FROM cg LEFT JOIN bg ON cg.ng = bg.ng)
      SELECT doc_id, COUNT(*) AS n_ngrams,
        CAST(COUNT(hit) AS BIGINT) AS n_hits,
        round(CAST(COUNT(hit) AS DOUBLE) / COUNT(*), 6) AS overlap_ratio
      FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      TextAnalysis.ngramContamination(
          candidates = docs.filter(col("source") =!= "src0"),
          benchmark = docs.filter(col("source") === "src0"))
        .orderBy("doc_id")
    })

  /** Scale path of d_contamination: broadcast bloom membership, no
    * benchmark-set join (one-sided error — superset of exact hits;
    * the no-false-negative property is spec-gated in LlmOpsSpec).
    */
  private val bloomContam = GraftQuery(
    "d_bloom_decontam",
    None, // bloom bit layout is engine-specific: rows-only + property spec
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // sizing auto-derived from the benchmark fingerprint count (the
      // filter binary rides every task closure, so oversizing taxes
      // each task; undersizing blows up the FP rate as data grows)
      // rows-only: no output sort (round-7 rule, applied r11)
      TextAnalysis.bloomContamination(
          candidates = docs.filter(col("source") =!= "src0"),
          benchmark = docs.filter(col("source") === "src0"))
        .filter(col("maybe_overlap_ratio") > 0.5)
    })

  private val consistentSample = GraftQuery(
    "d_consistent_sample",
    Some("""SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS hr
        FROM documents) t
      WHERE hr <= 5 ORDER BY lang, doc_id"""),
    (s, dir) => Sampling.consistentSample(
        Tables(s, dir).documents, Seq("lang"), "doc_id", k = 5)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id"))

  /** Within-document repetition (the public Gopher repetition rule):
    * share of word 3-grams that are duplicates of an earlier 3-gram in
    * the same doc. High ratio = boilerplate/spam → filtered before
    * training. Distinct shingles come from the native one-pass
    * expression; totals are plain arithmetic.
    */
  private val repetition = GraftQuery(
    "d_repetition",
    Some("""WITH m AS (SELECT doc_id,
        string_split(text, ' ') AS ws,
        greatest(len(string_split(text, ' ')) - 2, 1) AS total3
      FROM documents),
      g AS (SELECT doc_id, total3,
        -- truncated slice (not ws[i]||ws[i+1]||ws[i+2]): on docs with
        -- fewer than 3 words the concat form yields a NULL shingle
        -- that list_distinct drops (distinct3=0) while WordShingles
        -- emits one truncated shingle — slice to min(i+2, len) so both
        -- sides agree on short docs
        len(list_distinct(list_transform(
          generate_series(1, CAST(total3 AS INT)),
          i -> array_to_string(ws[i:least(i+2, len(ws))], ' ')))) AS distinct3
      FROM m)
      SELECT doc_id, CAST(total3 AS INT) AS total3, CAST(distinct3 AS INT) AS distinct3,
        round(1.0 - CAST(distinct3 AS DOUBLE) / total3, 6) AS repetition_ratio
      FROM g ORDER BY doc_id"""),
    (s, dir) => {
      import graft.plans.native
      Tables(s, dir).documents
        .select(col("doc_id"),
          greatest(size(split(col("text"), " ")) - 2, lit(1)).as("total3"),
          size(native.wordShingles(col("text"), 3)).as("distinct3"))
        .select(col("doc_id"), col("total3"), col("distinct3"),
          round(lit(1.0) - col("distinct3").cast("double") / col("total3"), 6)
            .as("repetition_ratio"))
        .orderBy("doc_id")
    })

  /** Corpus-wide top bigrams by DOCUMENT frequency (vocab/stopword
    * construction; doc-frequency, not term-frequency, so each doc
    * votes once — the dedup-robust statistic). One explode + one
    * count shuffle; top-k via global sort of the (tiny) aggregate.
    */
  private val topNgrams = GraftQuery(
    "d_top_ngrams",
    Some("""WITH b AS (SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
          -- truncated slice: agrees with WordShingles on one-word docs
          -- (a single-word "bigram", not a NULL that list_distinct drops)
          i -> array_to_string(string_split(text, ' ')[i:least(i+1, len(string_split(text, ' ')))], ' ')))) AS bigram
        FROM documents)
      SELECT bigram, COUNT(*) AS doc_freq FROM b
      GROUP BY bigram ORDER BY doc_freq DESC, bigram LIMIT 50"""),
    (s, dir) => {
      import graft.plans.native
      Tables(s, dir).documents
        .select(explode(native.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("bigram"))
        .limit(50)
    })

  /** Fixed-window token chunking with overlap (context-window prep:
    * size 32, stride 24). Chunk construction is explode(sequence) +
    * slice — NO higher-order lambda capturing the token array (the
    * O(n²) interpreted trap), so the whole op stays in codegen.
    */
  private val chunk = GraftQuery(
    "d_chunk",
    Some("""WITH m AS (SELECT doc_id, string_split(text, ' ') AS ws,
        len(string_split(text, ' ')) AS n FROM documents),
      c AS (SELECT doc_id, ws,
        unnest(generate_series(0, CAST(greatest((n - 9) // 24, 0) AS INT))) AS chunk_id
      FROM m)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        array_to_string(ws[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk
      FROM c ORDER BY doc_id, chunk_id"""),
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          greatest(floor((col("n") - 9) / 24), lit(0)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("ws"), col("chunk_id") * 24 + 1, lit(32)), " ").as("chunk"))
      .orderBy("doc_id", "chunk_id"))

  /** Per-(source, lang) corpus statistics — the pipeline's reporting
    * surface (mean tokens, char bounds, doc counts). Integer sums stay
    * exact; the mean divides two exact integers so it is
    * order-independent and oracle-safe.
    */
  private val domainStats = GraftQuery(
    "d_domain_stats",
    Some("""SELECT source, lang, COUNT(*) AS n_docs,
        round(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 4) AS avg_tokens,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM documents GROUP BY source, lang ORDER BY source, lang"""),
    (s, dir) => Tables(s, dir).documents
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(size(split(col("text"), " "))).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source", "lang"))

  /** Domain mixing (see Sampling.mixSample): capped proportional
    * quotas per source + consistent hash fill.
    */
  private val mixSampleQ = GraftQuery(
    "d_mix_sample",
    Some("""WITH d AS (SELECT source, COUNT(*) AS n_d FROM documents GROUP BY source),
      t AS (SELECT SUM(n_d) AS n FROM d),
      q AS (SELECT source,
          CAST(least(greatest(floor(100.0 * n_d / n + 0.5), 1), 25) AS INT) AS quota
        FROM d, t),
      r AS (SELECT doc_id, documents.source AS source, quota,
          ROW_NUMBER() OVER (PARTITION BY documents.source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS hr
        FROM documents JOIN q ON documents.source = q.source)
      SELECT source, doc_id FROM r WHERE hr <= quota
      ORDER BY source, doc_id"""),
    (s, dir) => Sampling.mixSample(Tables(s, dir).documents,
        domainCol = "source", idCol = "doc_id", totalTarget = 100)
      .select("source", "doc_id")
      .orderBy("source", "doc_id"))

  /** Dataset card — the one-row corpus datasheet a curation run
    * publishes (docs/chars/words, exact-dup share, language/source
    * diversity, head-language share, length quantiles). Pure
    * aggregation composition: one pass for the global aggregates +
    * one vocab-sized lang count, the head pick via
    * TakeOrderedAndProject. The word-count quantiles go through
    * [[Quantiles.interpolated]] — same interpolated `percentile`
    * semantics, but computed from the nw value histogram (bounded by
    * max document length) instead of Spark's exact `percentile`
    * aggregate, whose single merge buffer is corpus-sized at scale
    * (the round-5 verdict's structural finding). The oracle replays
    * the identical histogram lookup + interpolation expression.
    * All exact → oracle-backed.
    */
  private val datasetCardQ = GraftQuery(
    "d_dataset_card",
    Some("""WITH b AS (SELECT doc_id, lang, source,
        CAST(length(text) AS BIGINT) AS nc,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        md5(text) AS h FROM documents),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nc) AS BIGINT) AS n_chars,
        CAST(SUM(nw) AS BIGINT) AS n_words,
        CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM b),
      hc AS (SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM (SELECT nw AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM b GROUP BY nw)),
      k AS (SELECT hc.*,
          0.5 * CAST(a.n_docs - 1 AS DOUBLE) AS pos50,
          CAST(floor(0.5 * CAST(a.n_docs - 1 AS DOUBLE)) AS BIGINT) AS lo50,
          0.9 * CAST(a.n_docs - 1 AS DOUBLE) AS pos90,
          CAST(floor(0.9 * CAST(a.n_docs - 1 AS DOUBLE)) AS BIGINT) AS lo90
        FROM hc, a),
      q AS (SELECT
          MAX(CASE WHEN cum - cnt <= lo50 AND lo50 < cum THEN v END) AS vlo50,
          MAX(CASE WHEN cum - cnt <= lo50 + 1 AND lo50 + 1 < cum THEN v END)
            AS vhi50,
          MAX(pos50) AS pos50, MAX(lo50) AS lo50,
          MAX(CASE WHEN cum - cnt <= lo90 AND lo90 < cum THEN v END) AS vlo90,
          MAX(CASE WHEN cum - cnt <= lo90 + 1 AND lo90 + 1 < cum THEN v END)
            AS vhi90,
          MAX(pos90) AS pos90, MAX(lo90) AS lo90
        FROM k),
      t AS (SELECT lang AS top_lang, CAST(COUNT(*) AS BIGINT) AS top_docs
        FROM b GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1)
      SELECT n_docs, n_chars, n_words, n_distinct_texts,
        ((n_docs - n_distinct_texts) * CAST(1000000 AS BIGINT)) // n_docs
          AS dup_ppm,
        n_langs, n_sources, top_lang,
        (top_docs * CAST(1000000 AS BIGINT)) // n_docs AS top_lang_ppm,
        round(CASE WHEN pos50 = CAST(lo50 AS DOUBLE)
          THEN CAST(vlo50 AS DOUBLE)
          ELSE (CAST(lo50 AS DOUBLE) + 1 - pos50) * CAST(vlo50 AS DOUBLE)
            + (pos50 - CAST(lo50 AS DOUBLE)) * CAST(vhi50 AS DOUBLE) END, 4)
          AS p50_words,
        round(CASE WHEN pos90 = CAST(lo90 AS DOUBLE)
          THEN CAST(vlo90 AS DOUBLE)
          ELSE (CAST(lo90 AS DOUBLE) + 1 - pos90) * CAST(vlo90 AS DOUBLE)
            + (pos90 - CAST(lo90 AS DOUBLE)) * CAST(vhi90 AS DOUBLE) END, 4)
          AS p90_words,
        (n_words * CAST(1000 AS BIGINT)) // n_docs AS mean_words_milli
      FROM a, q, t"""),
    (s, dir) => {
      val base = Tables(s, dir).documents.select(col("doc_id"), col("lang"),
        col("source"), length(col("text")).cast("long").as("nc"),
        graft.functions.TextFns.wordCount(col("text")).cast("long").as("nw"),
        md5(col("text")).as("h"))
      val a = base.agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"), sum(col("nw")).as("n_words"),
        countDistinct(col("h")).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      val q = Quantiles.interpolated(base.select("nw"), "nw",
        Seq(0.5, 0.9), Seq("p50_raw", "p90_raw"))
      val top = base.groupBy("lang").agg(count(lit(1)).as("top_docs"))
        .orderBy(col("top_docs").desc, col("lang")).limit(1)
        .withColumnRenamed("lang", "top_lang")
      a.crossJoin(broadcast(top)).crossJoin(broadcast(q))
        .select(col("n_docs"), col("n_chars"),
        col("n_words"), col("n_distinct_texts"),
        expr("((n_docs - n_distinct_texts) * CAST(1000000 AS BIGINT)) div n_docs")
          .as("dup_ppm"),
        col("n_langs"), col("n_sources"), col("top_lang"),
        expr("(top_docs * CAST(1000000 AS BIGINT)) div n_docs")
          .as("top_lang_ppm"),
        round(col("p50_raw"), 4).as("p50_words"),
        round(col("p90_raw"), 4).as("p90_words"),
        expr("(n_words * CAST(1000 AS BIGINT)) div n_docs")
          .as("mean_words_milli"))
    })

  /** Temperature-scaled mixture weights (Sampling.temperatureWeights,
    * α = 1/2): integer-quantized √count masses so the normalizer is
    * an order-independent integer sum and every weight/quota is
    * integer div — exact cross-engine, sqrt included (one IEEE op).
    */
  private val temperatureMixQ = GraftQuery(
    "d_temperature_mix",
    Some("""WITH d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_d,
        CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE) * 1000000.0)) AS BIGINT) AS s_d
      FROM documents GROUP BY source),
      t AS (SELECT CAST(SUM(s_d) AS BIGINT) AS s_tot,
        CAST(SUM(n_d) AS BIGINT) AS n_tot FROM d)
      SELECT source, n_d, s_d,
        (s_d * CAST(1000000 AS BIGINT)) // s_tot AS weight_ppm,
        (n_d * CAST(1000000 AS BIGINT)) // n_tot AS raw_ppm,
        (CAST(100000 AS BIGINT) * s_d) // s_tot AS quota_docs
      FROM d, t ORDER BY source"""),
    (s, dir) => Sampling.temperatureWeights(Tables(s, dir).documents,
        domainCol = "source", budget = 100000L)
      .orderBy("source"))

  /** PII scrub (emails / NNN-NNN-NNNN phones / IPv4): per-class match
    * counts + typed-placeholder redaction. The corpus has no PII, so
    * the query plants deterministic spans derived from doc_id — the
    * SAME construction on both sides — and both engines then detect
    * and redact with the shared ASCII regexes (TextAnalysis.Pii*).
    * Pure regexp Column ops: codegen end to end, no UDFs.
    */
  private val piiQ = {
    import TextAnalysis.{PiiEmail, PiiPhone, PiiIpv4}
    GraftQuery(
      "d_pii",
      Some(s"""WITH aug AS (SELECT doc_id, text
          || CASE WHEN doc_id % 3 = 0
               THEN ' contact u' || doc_id || '@example.com now' ELSE '' END
          || CASE WHEN doc_id % 5 = 0
               THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 7 = 0
               THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS t
        FROM documents),
      red AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(t,
          '$PiiEmail', '<EMAIL>', 'g'),
          '$PiiPhone', '<PHONE>', 'g'),
          '$PiiIpv4', '<IP>', 'g') AS redacted
        FROM aug)
      SELECT doc_id,
        CAST((len(redacted) - len(replace(redacted, '<EMAIL>', ''))) // 7 AS INT) AS n_emails,
        CAST((len(redacted) - len(replace(redacted, '<PHONE>', ''))) // 7 AS INT) AS n_phones,
        CAST((len(redacted) - len(replace(redacted, '<IP>', ''))) // 4 AS INT) AS n_ipv4,
        CASE WHEN len(redacted) <> len(replace(replace(replace(redacted,
          '<EMAIL>', ''), '<PHONE>', ''), '<IP>', '')) THEN 1 ELSE 0 END AS has_pii,
        redacted
      FROM red ORDER BY doc_id"""),
      (s, dir) => {
        val aug = Tables(s, dir).documents.select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact u"), col("doc_id").cast("string"),
                lit("@example.com now"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
                lit("."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")))
            .as("t"))
        aug.select(col("doc_id") +: TextAnalysis.piiDetectRedact(col("t")): _*)
          .orderBy("doc_id")
      })
  }

  /** Incremental ingest dedup (DedupPipeline.incrementalDedup):
    * src0 is the arriving batch, everything else the standing corpus.
    * The DuckDB twin runs the same four stages declaratively — exact
    * admit (md5 anti-membership), near admit (all-pairs batch×corpus
    * jaccard, exact where LSH recall is 1 at the verify scale), then
    * within-batch exact+near CC via the same WITH RECURSIVE min-label
    * fixpoint as d_dedup_corpus. PipelineSpec keeps the admit/reject
    * property checks.
    */
  private val incrDedup = GraftQuery(
    "d_incr_dedup",
    Some("""WITH RECURSIVE doc AS (SELECT doc_id, source, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      shin AS (SELECT doc_id, source, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM doc),
      corpus AS (SELECT * FROM shin WHERE source <> 'src0'),
      batch AS (SELECT * FROM shin WHERE source = 'src0'),
      fresh AS (SELECT b.* FROM batch b
        WHERE b.h NOT IN (SELECT h FROM corpus)),
      dupc AS (SELECT DISTINCT f.doc_id FROM fresh f JOIN corpus c
        ON CAST(len(list_intersect(f.s, c.s)) AS DOUBLE)
            / len(list_distinct(list_concat(f.s, c.s))) >= 0.8),
      admitted AS (SELECT * FROM fresh
        WHERE doc_id NOT IN (SELECT doc_id FROM dupc)),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM admitted),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM admitted
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      reach AS (SELECT src, MIN(dst) AS component FROM r GROUP BY src)
      SELECT a.doc_id, a.source
      FROM admitted a JOIN reach rc ON a.doc_id = rc.src
      WHERE a.doc_id = rc.component
      ORDER BY a.doc_id"""),
    (s, dir) => {
      val d = Tables(s, dir).documents
      DedupPipeline.incrementalDedup(
          d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    })

  /** Holdout split (Sampling.holdoutSplit): 5% val / 5% test by
    * md5-prefix draw, shuffle-free and stable under corpus rewrites.
    */
  private val splitQ = GraftQuery(
    "d_split",
    Some(s"""SELECT doc_id,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               < '${Sampling.hexCut(0.05)}' THEN 'val'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               < '${Sampling.hexCut(0.10)}' THEN 'test'
             ELSE 'train' END AS split
      FROM documents ORDER BY doc_id"""),
    (s, dir) => Sampling.holdoutSplit(
        Tables(s, dir).documents, "doc_id", 0.05, 0.05)
      .select("doc_id", "split")
      .orderBy("doc_id"))

  /** Sequence packing (context-window prep, the GPT-style
    * concatenate-and-cut): docs are concatenated in a deterministic
    * order and the token stream is cut every `budget` tokens; each
    * doc's pack is the cut its FIRST token falls in, and span_packs
    * says how many cuts it straddles. Packing is sharded by the first
    * md5 hex char (16 independent streams, identical in both
    * engines), so the only shuffle is the per-shard window and shards
    * pack in parallel — the formulation that survives a corpus that
    * doesn't fit one timeline.
    */
  private val packQ = GraftQuery(
    "d_pack",
    Some("""WITH t AS (SELECT doc_id,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        len(string_split(text, ' ')) AS n_tok FROM documents),
      c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
      SELECT doc_id, shard, CAST(n_tok AS BIGINT) AS n_tok,
        CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id,
        CAST((cum - 1) // 512 - (cum - n_tok) // 512 + 1 AS BIGINT) AS span_packs
      FROM c ORDER BY doc_id"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).documents
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tok"),
          expr("(cum - n_tok) div 512").as("pack_id"),
          expr("(cum - 1) div 512 - (cum - n_tok) div 512 + 1").as("span_packs"))
        .orderBy("doc_id")
    })

  /** Normalization surface + its dedup payoff in one result: the
    * canonical text (lowercase / punctuation→space / collapsed
    * whitespace) and the md5 group size under RAW vs NORMALIZED
    * hashing — normalization can only merge groups, so n_norm_copies
    * >= n_raw_copies, and the delta is exactly what case/punct
    * variants the scrub recovers. Pure Column regexps, codegen.
    */
  private val normalizeQ = GraftQuery(
    "d_normalize",
    Some("""WITH n AS (SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]', ' ', 'g'),
          ' +', ' ', 'g')) AS norm_text FROM documents),
      g AS (SELECT doc_id, norm_text,
        COUNT(*) OVER (PARTITION BY md5(norm_text)) AS n_norm_copies FROM n),
      r AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY md5(text)) AS n_raw_copies
        FROM documents)
      SELECT g.doc_id, length(norm_text) AS n_norm_chars,
        substr(norm_text, 1, 80) AS norm_prefix,
        CAST(n_raw_copies AS BIGINT) AS n_raw_copies,
        CAST(n_norm_copies AS BIGINT) AS n_norm_copies
      FROM g JOIN r ON g.doc_id = r.doc_id ORDER BY g.doc_id"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir).documents
        .withColumn("norm_text", graft.functions.TextFns.normalize(col("text")))
      d.select(col("doc_id"),
          length(col("norm_text")).as("n_norm_chars"),
          substring(col("norm_text"), 1, 80).as("norm_prefix"),
          count(lit(1)).over(Window.partitionBy(md5(col("text"))))
            .as("n_raw_copies"),
          count(lit(1)).over(Window.partitionBy(md5(col("norm_text"))))
            .as("n_norm_copies"))
        .orderBy("doc_id")
    })

  /** Segment-level exact dedup (C4's "deduplicate paragraphs" pass —
    * Dedup.segmentDedup): 20-word segments, corpus-wide keep-first,
    * docs rebuilt from survivors. The full rebuilt text is verified
    * via md5 on both sides, not just a prefix.
    */
  private val segmentDedup = GraftQuery(
    "d_segment_dedup",
    Some("""WITH m AS (SELECT doc_id, string_split(text, ' ') AS ws,
        len(string_split(text, ' ')) AS n FROM documents),
      s AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
          array_to_string(ws[CAST(i*20+1 AS INT) : CAST(i*20+20 AS INT)], ' ') AS seg
        FROM m, unnest(generate_series(0, CAST((n-1)//20 AS INT))) AS t(i)),
      k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(seg)
          ORDER BY doc_id, seg_idx) AS rn FROM s)
      SELECT doc_id, COUNT(*) AS n_segments,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
          FILTER (WHERE rn = 1), '')) AS clean_md5
      FROM k GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => Dedup.segmentDedup(Tables(s, dir).documents, segWords = 20)
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id"))

  /** Substring-level duplicate pairs (Dedup.substrDedup): winnowing
    * buckets generate candidates with GUARANTEED recall for spans ≥
    * w+k−1 = 27 chars (minLen 60), plain-string gram verify — so the
    * DuckDB all-grams join is an exact twin despite the hash-based
    * candidate stage.
    */
  private val substrDedupQ = GraftQuery(
    "d_substr_dedup",
    Some("""WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(text) - 59, 0)),
        i -> substr(text, CAST(i AS INT), 60)))) AS gram
      FROM documents WHERE len(text) >= 60)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(COUNT(DISTINCT a.gram) AS INT) AS n_shared
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.substrDedup(Tables(s, dir).documents, minLen = 60)
      .orderBy("doc_a", "doc_b"))

  /** Within-document segment dedup (Dedup.intraDocDedup — the
    * RefinedWeb "remove duplicated lines within a document" pass at
    * 20-word windows): keep-first WITHIN each doc, zero shuffles
    * (one codegen'd narrow projection). Rebuilt text md5-verified.
    * The oracle keeps segmentDedup's windowed form with the
    * partition key widened to (doc_id, segment hash).
    */
  private val intraDedupQ = GraftQuery(
    "d_intradoc_dedup",
    Some("""WITH m AS (SELECT doc_id, string_split(text, ' ') AS ws,
        len(string_split(text, ' ')) AS n FROM documents),
      s AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
          array_to_string(ws[CAST(i*20+1 AS INT) : CAST(i*20+20 AS INT)], ' ') AS seg
        FROM m, unnest(generate_series(0, CAST((n-1)//20 AS INT))) AS t(i)),
      k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, md5(seg)
          ORDER BY seg_idx) AS rn FROM s)
      SELECT doc_id, COUNT(*) AS n_segments,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
          FILTER (WHERE rn = 1), '')) AS clean_md5
      FROM k GROUP BY doc_id ORDER BY doc_id"""),
    // sort the INPUT: the kernel is a narrow projection (order
    // preserved), so range sampling scans only the pruned doc_id
    // column instead of evaluating the kernel a second time
    (s, dir) => Dedup.intraDocDedup(
        Tables(s, dir).documents.orderBy("doc_id"), segWords = 20)
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5")))

  /** CCNet-style boilerplate excision (Dedup.boilerplateStrip):
    * segments occurring in ≥ 3 distinct docs are dropped from EVERY
    * doc (vs segment_dedup's keep-first). Same 20-word windows, same
    * md5-verified rebuilt text.
    */
  private val boilerplateQ = GraftQuery(
    "d_boilerplate",
    Some("""WITH m AS (SELECT doc_id, string_split(text, ' ') AS ws,
        len(string_split(text, ' ')) AS n FROM documents),
      s AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
          array_to_string(ws[CAST(i*20+1 AS INT) : CAST(i*20+20 AS INT)], ' ') AS seg
        FROM m, unnest(generate_series(0, CAST((n-1)//20 AS INT))) AS t(i)),
      f AS (SELECT md5(seg) AS h, COUNT(DISTINCT doc_id) AS nd
        FROM s GROUP BY md5(seg)),
      k AS (SELECT s.*, f.nd FROM s JOIN f ON md5(s.seg) = f.h)
      SELECT doc_id, COUNT(*) AS n_segments,
        CAST(SUM(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
          FILTER (WHERE nd < 3), '')) AS clean_md5
      FROM k GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => Dedup.boilerplateStrip(Tables(s, dir).documents,
        segWords = 20, minDocs = 3)
      .select(col("doc_id"), col("n_segments"), col("n_dropped"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id"))

  /** BM25 keyword relevance over the corpus (Retrieval.bm25): fixed
    * query terms, rational idf (no transcendentals — see Retrieval's
    * determinism note), conditional-aggregate stats + broadcast back,
    * TakeOrderedAndProject top-k.
    */
  private val bm25Q = {
    val terms = Seq("spark", "join", "window")
    GraftQuery(
      "d_bm25",
      Some {
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"${occSql(padSql, s" $t ")} AS tf_$i" }
        val dfs = terms.indices.map(i =>
          s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
        val termScores = terms.indices.map { i =>
          s"""((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
             / (CAST(df_$i AS DOUBLE) + 0.5))
           * ((CAST(tf_$i AS DOUBLE) * 2.2)
             / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"""
        }
        s"""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
            ${tfs.mkString(", ")} FROM documents),
          stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
            ${dfs.mkString(", ")} FROM base),
          sc AS (SELECT base.*, n_docs, ${terms.indices.map(i => s"df_$i").mkString(", ")},
            CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
            FROM base, stats)
          SELECT doc_id, dl, ${terms.zipWithIndex.map { case (t, i) => s"tf_$i AS tf_$t" }.mkString(", ")},
            round(${termScores.mkString(" + ")}, 6) AS bm25
          FROM sc ORDER BY bm25 DESC, doc_id LIMIT 25"""
      },
      (s, dir) => Retrieval.bm25(Tables(s, dir).documents, terms, limit = 25))
  }

  /** MMR diversification (Similarity.mmrDiversify): greedy
    * maximal-marginal-relevance re-rank of the dense top-20 — the
    * de-redundancy step between retrieval and use. ORACLE-BACKED even
    * though the op is an iterative greedy: DuckDB replays the
    * selection loop as a recursive CTE carrying (ids, scores) lists,
    * picking each step's argmax with correlated MAX-similarity
    * subqueries — selection-for-selection identical because scores
    * round to 6 with id tie-breaks and every float comes from the
    * same IEEE expression tree (μ is a literal 0.3, never 1−λ).
    */
  private val mmrDiversifyQ = GraftQuery(
    "d_mmr_diversify",
    Some("""WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      p AS (SELECT * FROM n WHERE vec_id = 0),
      cr AS (SELECT n.vec_id, n.v, n.nrm,
          list_inner_product(p.v, n.v) / (p.nrm * n.nrm) AS rel,
          ROW_NUMBER() OVER (ORDER BY
            round(list_inner_product(p.v, n.v) / (p.nrm * n.nrm), 6) DESC,
            n.vec_id) AS rnk
        FROM p JOIN n ON p.vec_id <> n.vec_id),
      cand AS (SELECT * FROM cr WHERE rnk <= 20),
      first AS (SELECT c.vec_id, round(CAST(0.7 AS DOUBLE) * c.rel, 6) AS sc
        FROM cand c
        ORDER BY round(CAST(0.7 AS DOUBLE) * c.rel, 6) DESC, c.vec_id LIMIT 1),
      sel(step, ids, scores) AS (
        SELECT 1, [f.vec_id], [f.sc] FROM first f
        UNION ALL
        SELECT s.step + 1, list_append(s.ids, pk.vec_id),
          list_append(s.scores, pk.sc)
        FROM sel s, LATERAL (
          SELECT c.vec_id, round(CAST(0.7 AS DOUBLE) * c.rel
              - CAST(0.3 AS DOUBLE) * (
              SELECT MAX(list_inner_product(c.v, c2.v) / (c.nrm * c2.nrm))
              FROM cand c2 WHERE list_contains(s.ids, c2.vec_id)), 6) AS sc
          FROM cand c WHERE NOT list_contains(s.ids, c.vec_id)
          ORDER BY sc DESC, c.vec_id LIMIT 1) pk
        WHERE s.step < 8),
      lastsel AS (SELECT ids, scores FROM sel WHERE step = 8)
      SELECT CAST(0 AS BIGINT) AS probe_id, gs.g AS mmr_rank,
        l.ids[gs.g] AS neighbor_id, l.scores[gs.g] AS mmr
      FROM lastsel l, generate_series(1, 8) gs(g) ORDER BY mmr_rank"""),
    (s, dir) => Similarity.mmrDiversify(Tables(s, dir).embeddings,
        col("vec_id") === 0, topN = 20, k = 8)
      .orderBy("mmr_rank"))

  /** Exact distributed PCA projection (Pca.fitProject): embedding
    * compression in front of semantic dedup / clustering — one
    * constant-size moment pass to fit (partition-ordered reduction,
    * deterministic Jacobi eigensolve with a fixed sign convention),
    * then a zero-shuffle native projection of the corpus. Rows-only:
    * the eigensolve is iterative driver-side numerics no single SQL
    * query replays; PcaSpec pins orthonormal loadings, descending
    * eigenvalues, planted-subspace recovery, fit-twice equality, and
    * reconstruction-error agreement with MLlib's PCA.
    */
  private val embedPcaQ = GraftQuery(
    "d_embed_pca",
    None,
    // no orderBy: rows-only + zero-shuffle projection (a total sort
    // would double-evaluate it through RangePartitioner sampling)
    (s, dir) => Pca.fitProject(Tables(s, dir).embeddings, nComponents = 8))

  /** Model-based quality filter (Classifier.qualityClassifier): a
    * logistic regression over cheap text statistics, trained
    * distributed with Newton/IRLS on a deterministic 1-in-5 id slice
    * and applied to the full corpus as a zero-shuffle projection —
    * the fasttext-classifier filtering stage of public pretraining
    * pipelines (GPT-3/LLaMA/CCNet style). Weak label: the doc passes
    * EVERY heuristic quality rule (quality_score = 1.0) — the
    * classifier distills the rule set into one linear scorer (the
    * synthetic lang column is independent of the text by generator
    * construction, so a language label would be unlearnable).
    * Rows-only: the trained weights come from an iterative solver no
    * single SQL query replays; ClassifierSpec pins bit-reproducible
    * training, planted-separation recovery, and prediction agreement
    * with MLlib's LogisticRegression.
    */
  private val qualityClassifierQ = GraftQuery(
    "d_quality_classifier",
    None,
    // no orderBy: rows-only, and the scoring projection is
    // zero-shuffle — a total sort would double-evaluate it through
    // RangePartitioner sampling
    (s, dir) => Classifier.qualityClassifier(
      Tables(s, dir).documents,
      TextAnalysis.quality(col("text")).last >= 1.0))

  /** Hybrid sparse+dense retrieval with reciprocal-rank fusion
    * (Retrieval.hybridRrf): BM25 keyword top-N and exact-cosine
    * embedding top-N fused by 1/(60+rank) — the two-retriever RAG
    * stack, oracle-backed end to end. First registered query to JOIN
    * the two modality tables (vec_id is doc_id's embedding by the
    * driver-schema construction). All post-top-N work is on ≤2·topN
    * rows — constant, never corpus-sized.
    */
  private val rrfHybridQ = {
    val terms = Seq("spark", "join", "window")
    GraftQuery(
      "d_rrf_hybrid",
      Some {
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"${occSql(padSql, s" $t ")} AS tf_$i" }
        val dfs = terms.indices.map(i =>
          s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
        val termScores = terms.indices.map { i =>
          s"""((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
             / (CAST(df_$i AS DOUBLE) + 0.5))
           * ((CAST(tf_$i AS DOUBLE) * 2.2)
             / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"""
        }
        s"""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
            ${tfs.mkString(", ")} FROM documents),
          stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
            ${dfs.mkString(", ")} FROM base),
          sc AS (SELECT base.*, n_docs, ${terms.indices.map(i => s"df_$i").mkString(", ")},
            CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
            FROM base, stats),
          spr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
              AS sparse_rank
            FROM (SELECT doc_id, round(${termScores.mkString(" + ")}, 6) AS bm25
              FROM sc)),
          sp AS (SELECT * FROM spr WHERE sparse_rank <= 50),
          e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
          p AS (SELECT * FROM n WHERE vec_id = 0),
          dr AS (SELECT n.vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY
              round(list_inner_product(p.v, n.v) / (p.nrm * n.nrm), 6) DESC,
              n.vec_id) AS dense_rank
            FROM p JOIN n ON p.vec_id <> n.vec_id),
          dn AS (SELECT * FROM dr WHERE dense_rank <= 50),
          f AS (SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
              COALESCE(sparse_rank, 0) AS sparse_rank,
              COALESCE(dense_rank, 0) AS dense_rank
            FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
          SELECT doc_id, sparse_rank, dense_rank,
            round(CASE WHEN sparse_rank > 0
                THEN CAST(1 AS DOUBLE) / CAST(60 + sparse_rank AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END
              + CASE WHEN dense_rank > 0
                THEN CAST(1 AS DOUBLE) / CAST(60 + dense_rank AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END, 6) AS rrf
          FROM f ORDER BY rrf DESC, doc_id LIMIT 20"""
      },
      (s, dir) => {
        val t = Tables(s, dir)
        Retrieval.hybridRrf(t.documents, t.embeddings, terms,
          probeVecId = 0L, topN = 50, rrfK = 60, limit = 20)
      })
  }

  /** Unigram-frequency rarity (Retrieval.rarity): the exact-arithmetic
    * perplexity-proxy quality filter — integer-quantized inverse
    * corpus frequency summed per doc.
    */
  private val rarityQ = GraftQuery(
    "d_unigram_rarity",
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      v AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
      j AS (SELECT doc_id, CAST(1000000000 AS BIGINT) // c AS w
        FROM tok JOIN v USING (term))
      SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS rarity_sum,
        round(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS mean_rarity
      FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => Retrieval.cachedRarityStats(Tables(s, dir).documents, dir)
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        round(col("rarity_sum").cast("double") / col("n_tokens").cast("double"),
          4).as("mean_rarity"))
      .orderBy("doc_id"))

  /** Curriculum phase assignment — order-of-presentation prep for
    * curriculum training: per-doc difficulty = integer mean token
    * rarity (the d_unigram_rarity core), phases = quartile buckets.
    * Scale shape: a global ntile would sort the whole corpus on ONE
    * task, and Spark's exact `percentile` merges a value→count map
    * into one buffer that is corpus-sized when difficulties are
    * mostly distinct (the round-5 verdict's structural finding).
    * Instead the difficulty is coarsened to a 0.001 grid (div 1000 →
    * ≤1e6+1 distinct cells regardless of corpus size) and the three
    * quartile boundaries are all-integer type-1 quantiles of the grid
    * histogram ([[Quantiles.typeOneBoundaries]]), broadcast back; the
    * phase is a narrow three-comparison projection. Boundary wiggle
    * within a grid cell is the documented tolerance; the oracle
    * replays the identical grid + boundary rule, so the gate stays an
    * exact hash match.
    */
  private val curriculumQ = GraftQuery(
    "d_curriculum",
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      v AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
      j AS (SELECT doc_id, CAST(1000000000 AS BIGINT) // c AS w
        FROM tok JOIN v USING (term)),
      d AS (SELECT doc_id,
          CAST(SUM(w) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS difficulty
        FROM j GROUP BY doc_id),
      g AS (SELECT doc_id, difficulty, difficulty // 1000 AS gd FROM d),
      hc AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM (SELECT gd AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM g GROUP BY gd)),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
      b AS (SELECT
          MIN(CASE WHEN cum >= (1 * n + 3) // 4 THEN v END) AS b1,
          MIN(CASE WHEN cum >= (1 * n + 1) // 2 THEN v END) AS b2,
          MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS b3
        FROM hc, n)
      SELECT doc_id, difficulty,
        CAST(1 + CAST(gd > b1 AS INT) + CAST(gd > b2 AS INT)
          + CAST(gd > b3 AS INT) AS INT) AS phase
      FROM g, b ORDER BY doc_id"""),
    (s, dir) => {
      // the difficulty frame feeds THREE consumers (the grid
      // histogram, the corpus count inside typeOneBoundaries, and the
      // final phase projection) — each is now a narrow projection of
      // the SHARED materialized rarity cache (r7 fusion: the same
      // stats frame d_unigram_rarity serves, built once per corpus
      // per process instead of re-running the token explode + vocab
      // join per registry entry; one narrow row per doc, the
      // cache-one-row-per-doc rule; r6 measured the uncached form at
      // 52.3 s vs 39.8 s cached at the 256× blow-up)
      val g = Retrieval.cachedRarityStats(Tables(s, dir).documents, dir)
        .select(col("doc_id"), expr("rarity_sum div n_tokens").as("difficulty"))
        .withColumn("gd", expr("difficulty div 1000"))
      val b = Quantiles.typeOneBoundaries(g, "gd",
        Seq((1, 4), (1, 2), (3, 4)), Seq("b1", "b2", "b3"))
      g.crossJoin(broadcast(b))
        .select(col("doc_id"), col("difficulty"),
          (lit(1) + (col("gd") > col("b1")).cast("int")
            + (col("gd") > col("b2")).cast("int")
            + (col("gd") > col("b3")).cast("int"))
            .as("phase"))
        .orderBy("doc_id")
    })

  /** Top-3 characteristic terms per doc by rational tf-idf
    * (Retrieval.tfidf) — all-integer scoring, term-string tiebreak,
    * so the DuckDB twin hash-matches exactly.
    */
  private val tfidfQ = GraftQuery(
    "d_tfidf",
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      dt AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      v AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      s AS (SELECT doc_id, term, tf, df,
        tf * ((n_docs * CAST(1000000 AS BIGINT)) // df) AS score
        FROM dt JOIN v USING (term), n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS rnk FROM s)
      SELECT doc_id, CAST(rnk AS INT) AS rank, term, tf, df, score
      FROM r WHERE rnk <= 3 ORDER BY doc_id, rank"""),
    (s, dir) => Retrieval.tfidf(Tables(s, dir).documents, topK = 3)
      .orderBy("doc_id", "rank"))

  /** Bigram-LM fluency (Retrieval.bigramFluency): corpus-trained
    * conditional bigram counts, exact-integer surprisal totals (the
    * perplexity-filter analog — see the builder's rationale for the
    * rational 1/p form). All-integer, so the oracle is exact.
    */
  private val bigramLmQ = GraftQuery(
    "d_bigram_lm",
    Some("""WITH m AS (SELECT doc_id, string_split(lower(text), ' ') AS ws,
        len(string_split(lower(text), ' ')) AS n FROM documents),
      b AS (SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] AS bg
        FROM m, unnest(generate_series(1, CAST(n - 1 AS INT))) AS t(i)
        WHERE n >= 2),
      dt AS (SELECT doc_id, bg, COUNT(*) AS tf FROM b GROUP BY doc_id, bg),
      cf AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS cf FROM dt GROUP BY bg),
      cx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(cf) AS BIGINT) AS cf_ctx
        FROM cf GROUP BY 1),
      s AS (SELECT doc_id, tf,
          tf * ((cf_ctx * CAST(1000000 AS BIGINT)) // cf) AS score
        FROM dt JOIN cf USING (bg)
        JOIN cx ON split_part(dt.bg, ' ', 1) = cx.w1)
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        CAST(SUM(score) AS BIGINT) AS surprisal,
        CAST(SUM(score) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS ppl_proxy
      FROM s GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => Retrieval.bigramFluency(Tables(s, dir).documents)
      .orderBy("doc_id"))

  /** CCNet-style perplexity bucketing (Retrieval.perplexityBucket):
    * per-language bigram LM trained on the Gopher-rule-clean slice,
    * rational 1/p surprisal scores over all docs with deterministic
    * integer smoothing for unseen events, type-1 tercile cuts into
    * head/middle/tail on the coarsened score grid. The oracle
    * replays the whole chain — keep flag, per-lang counts, smoothed
    * left joins, grid, per-lang cum-sum boundaries — in integer
    * arithmetic, so the bucket labels hash-match exactly.
    */
  private val perplexityBucketQ = GraftQuery(
    "d_perplexity_bucket",
    Some {
      val stopSql = langScoreSql(TextAnalysis.StopSet)
      s"""WITH m AS (SELECT doc_id, lang, text,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_words,
        ${occSql("text", "#")} + ${occSql("text", "...")} AS n_symbol,
        len(list_filter(string_split(text, ' '),
          w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        $stopSql AS n_stop
        FROM documents),
      k AS (SELECT doc_id, lang, text,
        ((n_words BETWEEN 10 AND 100000)
          AND ((CAST(n_chars - n_words + 1 AS DOUBLE) / n_words) BETWEEN 2 AND 10)
          AND ((CAST(n_symbol AS DOUBLE) / n_words) <= 0.1)
          AND ((CAST(n_alpha AS DOUBLE) / n_words) >= 0.8)
          AND (n_stop >= 2)) AS keep
        FROM m),
      w AS (SELECT doc_id, lang, keep, string_split(lower(text), ' ') AS ws,
        len(string_split(lower(text), ' ')) AS n FROM k),
      b AS (SELECT doc_id, lang, keep,
          ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] AS bg
        FROM w, unnest(generate_series(1, CAST(n - 1 AS INT))) AS t(i)
        WHERE n >= 2),
      dt AS (SELECT lang, doc_id, keep, bg, COUNT(*) AS tf
        FROM b GROUP BY lang, doc_id, keep, bg),
      cf AS (SELECT lang, bg, CAST(SUM(tf) AS BIGINT) AS cf
        FROM dt WHERE keep GROUP BY lang, bg),
      cx AS (SELECT lang, split_part(bg, ' ', 1) AS w1,
          CAST(SUM(cf) AS BIGINT) AS cf_ctx FROM cf GROUP BY lang, w1),
      tt AS (SELECT lang, CAST(SUM(cf) AS BIGINT) AS c_tot
        FROM cf GROUP BY lang),
      s AS (SELECT dt.lang AS lang, doc_id, tf,
          tf * ((coalesce(cf_ctx, c_tot, CAST(1 AS BIGINT))
            * CAST(1000000 AS BIGINT)) // coalesce(cf, CAST(1 AS BIGINT)))
            AS score
        FROM dt
        LEFT JOIN cf ON dt.lang = cf.lang AND dt.bg = cf.bg
        LEFT JOIN cx ON dt.lang = cx.lang
          AND split_part(dt.bg, ' ', 1) = cx.w1
        LEFT JOIN tt ON dt.lang = tt.lang),
      d AS (SELECT lang, doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
          CAST(SUM(score) AS BIGINT) AS surprisal,
          CAST(SUM(score) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS ppl_proxy
        FROM s GROUP BY lang, doc_id),
      g AS (SELECT *,
          least(ppl_proxy, CAST(100000000000 AS BIGINT)) // 1000000 AS gd
        FROM d),
      hc AS (SELECT lang, v, CAST(SUM(cnt) OVER (PARTITION BY lang
            ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM (SELECT lang, gd AS v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM g GROUP BY lang, gd)),
      nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY lang),
      bd AS (SELECT hc.lang AS lang,
          MIN(CASE WHEN cum >= (1 * n + 2) // 3 THEN v END) AS b33,
          MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS b67
        FROM hc JOIN nl ON hc.lang = nl.lang GROUP BY hc.lang)
      SELECT doc_id, g.lang AS lang, n_bigrams, surprisal, ppl_proxy,
        CASE WHEN gd <= b33 THEN 'head' WHEN gd <= b67 THEN 'middle'
          ELSE 'tail' END AS bucket
      FROM g JOIN bd ON g.lang = bd.lang ORDER BY doc_id"""
    },
    (s, dir) => Retrieval.perplexityBucket(Tables(s, dir).documents)
      .orderBy("doc_id"))

  /** T5-style span corruption (TextAnalysis.spanCorrupt): denoising
    * training-target construction. Masking is an md5-prefix draw per
    * (doc, span) — the d_split idiom — so the oracle rebuilds the
    * exact corrupted/target strings and both are compared verbatim.
    */
  private val spanCorruptQ = GraftQuery(
    "d_span_corrupt",
    Some(s"""WITH m AS (SELECT doc_id, string_split(text, ' ') AS ws,
        len(string_split(text, ' ')) AS n FROM documents),
      s AS (SELECT doc_id, CAST(i AS INT) AS g,
          array_to_string(ws[CAST(i*3+1 AS INT) : CAST(i*3+3 AS INT)], ' ') AS seg,
          substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)
            < '${Sampling.hexCut(0.15)}' AS msk
        FROM m, unnest(generate_series(0, CAST((n-1)//3 AS INT))) AS t(i)),
      k AS (SELECT *, CAST(coalesce(SUM(CASE WHEN msk THEN 1 END) OVER
          (PARTITION BY doc_id ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS VARCHAR) AS kidx
        FROM s)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(coalesce(SUM(CASE WHEN msk THEN 1 END), 0) AS BIGINT) AS n_masked,
        string_agg(CASE WHEN msk THEN '<extra_id_' || kidx || '>'
          ELSE seg END, ' ' ORDER BY g) AS corrupted,
        coalesce(string_agg(CASE WHEN msk
          THEN '<extra_id_' || kidx || '> ' || seg END, ' ' ORDER BY g), '')
          AS targets
      FROM k GROUP BY doc_id ORDER BY doc_id"""),
    // input-sorted for the same narrow-projection reason as
    // d_intradoc_dedup
    (s, dir) => TextAnalysis.spanCorrupt(
        Tables(s, dir).documents.orderBy("doc_id"),
        spanWords = 3, rate = 0.15))

  /** Inverted-index build (Retrieval.invertedIndex): per-term df /
    * total tf / bounded ascending posting sample. The bounded-heap
    * posting aggregate is the scale story (no unbounded collect_list
    * per term); the oracle replays it as a plain sorted-list slice.
    */
  private val invertedIndexQ = GraftQuery(
    "d_inverted_index",
    Some("""WITH dt AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM
        (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         FROM documents) GROUP BY term, doc_id)
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        CAST(SUM(tf) AS BIGINT) AS tf_total,
        array_to_string(list_transform(list_sort(list(doc_id))[1:20],
          x -> CAST(x AS VARCHAR)), ',') AS postings
      FROM dt GROUP BY term ORDER BY df DESC, term LIMIT 200"""),
    (s, dir) => Retrieval.invertedIndex(Tables(s, dir).documents,
        topTerms = 200, postingCap = 20)
      .orderBy(col("df").desc, col("term")))

  /** Windowed PMI co-occurrence (Retrieval.cooccurrencePmi):
    * collocation mining over a ±3 position window. Counts are exact
    * integers; the PMI ratio is one double multiply/divide of those
    * integers on both engines (bit-identical, so even the
    * score-ordered LIMIT agrees).
    */
  private val cooccurQ = GraftQuery(
    "d_cooccur",
    Some("""WITH m AS (SELECT string_split(lower(text), ' ') AS ws,
        len(string_split(lower(text), ' ')) AS n FROM documents),
      pr AS (SELECT least(ws[CAST(i AS INT)], ws[CAST(i + d AS INT)]) AS a,
          greatest(ws[CAST(i AS INT)], ws[CAST(i + d AS INT)]) AS b
        FROM m, unnest([1, 2, 3]) AS dd(d),
          unnest(generate_series(1, CAST(n - d AS INT))) AS t(i)),
      pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM pr GROUP BY a, b),
      u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM
        (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        GROUP BY w),
      nt AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tokens FROM u)
      SELECT a, b, c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
        (CAST(c_ab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
          / (CAST(ua.c_w AS DOUBLE) * CAST(ub.c_w AS DOUBLE)) AS pmi
      FROM pc JOIN u ua ON pc.a = ua.w JOIN u ub ON pc.b = ub.w, nt
      WHERE c_ab >= 5 ORDER BY pmi DESC, a, b LIMIT 100"""),
    (s, dir) => Retrieval.cooccurrencePmi(Tables(s, dir).documents,
        window = 3, topPairs = 100, minCount = 5)
      .orderBy(col("pmi").desc, col("a"), col("b")))

  /** One TextRank iteration as a materialized CTE (the Bpe oracle
    * pattern: MATERIALIZED is load-bearing — every iteration reads
    * the previous score table, and inlined CTEs grow the plan
    * per iteration). All-integer update ⇒ bit-exact replay.
    */
  private def textRankIterSql(k: Int): String =
    s""",
      s$k AS MATERIALIZED (SELECT e.dst AS word,
          CAST(150000 + SUM((85 * e.w * s.q) // (100 * wt.wsum)) AS BIGINT) AS q
        FROM e JOIN s${k - 1} s ON e.src = s.word JOIN wt ON e.src = wt.src
        GROUP BY e.dst)"""

  /** TextRank keywords (#88, Retrieval.textRank): weighted PageRank
    * over the d_cooccur edge set, 8 all-integer iterations — the
    * first ITERATIVE GRAPH algorithm in the registry with an exact
    * SQL twin (integer micro-unit scores make every iteration
    * order-independent; the oracle unrolls them as materialized
    * CTEs, merge-for-merge like d_bpe_train).
    */
  private val textRankQ = GraftQuery(
    "d_textrank",
    Some(s"""WITH m AS (SELECT string_split(lower(text), ' ') AS ws,
        len(string_split(lower(text), ' ')) AS n FROM documents),
      pr AS (SELECT least(ws[CAST(i AS INT)], ws[CAST(i + d AS INT)]) AS a,
          greatest(ws[CAST(i AS INT)], ws[CAST(i + d AS INT)]) AS b
        FROM m, unnest([1, 2, 3]) AS dd(d),
          unnest(generate_series(1, CAST(n - d AS INT))) AS t(i)),
      pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM pr
        GROUP BY a, b HAVING COUNT(*) >= 5),
      e AS (SELECT a AS src, b AS dst, c_ab AS w FROM pc
        UNION ALL SELECT b AS src, a AS dst, c_ab AS w FROM pc),
      wt AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e GROUP BY src),
      s0 AS MATERIALIZED (SELECT src AS word, CAST(1000000 AS BIGINT) AS q
        FROM wt)${(1 to 8).map(textRankIterSql).mkString}
      SELECT word, q AS score_micro, q / 1e6 AS score
      FROM s8 ORDER BY score_micro DESC, word LIMIT 50"""),
    (s, dir) => Retrieval.textRank(Tables(s, dir).documents,
      window = 3, minCount = 5, iters = 8, topK = 50))

  // ------------------------------------------------- BPE tokenizer

  /** DuckDB twin of one Bpe.learn iteration: pair counts → argmax
    * merge (count desc, pair asc) → greedy application via
    * gaps-and-islands (consecutive candidate positions = an island,
    * apply at even offsets). MATERIALIZED is load-bearing — each
    * iteration reads the previous symbol table twice, and inlined
    * CTEs double the plan per merge (exponential; never finished at
    * 8 merges without it). Mirrors Bpe.scala's barrier() exactly.
    */
  private def bpeIterSql(k: Int): String = {
    val prev = s"s${k - 1}"
    s"""
  p$k AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS c FROM (
      SELECT freq, sym AS l,
        lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r
      FROM $prev) WHERE r IS NOT NULL GROUP BY l, r),
  m$k AS MATERIALIZED (SELECT l, r, c FROM p$k
    ORDER BY c DESC, l ASC, r ASC LIMIT 1),
  c$k AS (SELECT s.word, s.freq, s.pos, s.sym,
      lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
      (s.sym = m.l AND coalesce(lead(s.sym)
        OVER (PARTITION BY s.word ORDER BY s.pos) = m.r, false)) AS cand
    FROM $prev s CROSS JOIN m$k m),
  i$k AS (SELECT *, CASE WHEN cand THEN pos - ROW_NUMBER()
      OVER (PARTITION BY word, cand ORDER BY pos) END AS isl FROM c$k),
  a$k AS (SELECT *, (cand AND (pos - MIN(pos)
      OVER (PARTITION BY word, isl)) % 2 = 0) AS act FROM i$k),
  b$k AS (SELECT *, coalesce(lag(act)
      OVER (PARTITION BY word ORDER BY pos), false) AS consumed FROM a$k),
  s$k AS MATERIALIZED (SELECT word, freq,
      CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS INT) AS pos,
      CASE WHEN act THEN sym || nxt ELSE sym END AS sym
    FROM b$k WHERE NOT consumed)"""
  }

  private def bpeBaseSql: String =
    """WITH wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM
    (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY w),
  s0 AS MATERIALIZED (SELECT word, freq, CAST(i AS INT) AS pos,
      substr(word, CAST(i AS INT), 1) AS sym
    FROM wf, unnest(generate_series(1, length(word))) AS t(i))"""

  private def bpeChainSql: String =
    bpeBaseSql + "," + (1 to Bpe.Merges).map(bpeIterSql).mkString(",")

  /** BPE tokenizer TRAINING (Bpe.trainReport — Sennrich et al. 2016):
    * the learned merge list, replayed merge-for-merge by the oracle.
    * All-integer pair counts + lexicographic tie-break make training
    * fully deterministic, so the hash gate covers the whole iterative
    * algorithm, not just a summary.
    */
  private val bpeTrainQ = GraftQuery(
    "d_bpe_train",
    Some(bpeChainSql + "\n  " +
      (1 to Bpe.Merges).map(k =>
        s"SELECT $k AS rank, l AS left_sym, r AS right_sym, c AS pair_freq FROM m$k")
        .mkString(" UNION ALL ") + " ORDER BY rank"),
    (s, dir) => Bpe.trainReportFrom(Tables(s, dir).documents,
      Bpe.cachedLearn(Tables(s, dir).documents, dir)._1)
      .orderBy("rank"))

  /** BPE vocabulary artifact (Bpe.vocabReport): distinct final
    * symbols with token-weighted corpus counts and deterministic ids
    * — the second half of the shipped tokenizer (merges + vocab).
    */
  private val bpeVocabQ = GraftQuery(
    "d_bpe_vocab",
    Some(bpeChainSql + s""",
  v AS (SELECT sym, CAST(SUM(freq) AS BIGINT) AS sym_freq
    FROM s${Bpe.Merges} GROUP BY sym)
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY sym_freq DESC, sym) AS INT)
      AS token_id, sym, sym_freq
  FROM v ORDER BY token_id"""),
    (s, dir) => Bpe.vocabReportFrom(
      Bpe.cachedLearn(Tables(s, dir).documents, dir)._2)
      .orderBy("token_id"))

  /** BPE ENCODING under the learned merges (Bpe.encodeStats):
    * per-document word/char/BPE-token counts. Encoding happens on the
    * distinct-word table and joins back — the corpus is never
    * re-segmented per merge.
    */
  private val bpeEncodeQ = GraftQuery(
    "d_bpe_encode",
    Some(bpeChainSql + s""",
  wt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sym
    FROM s${Bpe.Merges} GROUP BY word),
  dw AS (SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS n FROM
    (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY doc_id, w)
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
    CAST(SUM(n * length(word)) AS BIGINT) AS n_chars,
    CAST(SUM(n * n_sym) AS BIGINT) AS n_tokens
  FROM dw JOIN wt USING (word) GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => Bpe.encodeStatsFrom(Tables(s, dir).documents,
      Bpe.cachedLearn(Tables(s, dir).documents, dir)._2)
      .orderBy("doc_id"))

  /** Per-language tokenizer fertility (Bpe.fertility): tokens/word
    * and chars/token by language under the learned merges — the
    * multilingual-tokenizer evaluation step. Exact integer ppm
    * ratios; the oracle replays training merge-for-merge (the
    * d_bpe_encode chain) then the per-language sums.
    */
  private val tokenizerFertilityQ = GraftQuery(
    "d_tokenizer_fertility",
    Some(bpeChainSql + s""",
  wt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sym
    FROM s${Bpe.Merges} GROUP BY word),
  lw AS (SELECT lang, w AS word, CAST(COUNT(*) AS BIGINT) AS n FROM
    (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY lang, w)
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_words,
    CAST(SUM(n * length(word)) AS BIGINT) AS n_chars,
    CAST(SUM(n * n_sym) AS BIGINT) AS n_tokens,
    (CAST(SUM(n * n_sym) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT)
      AS fertility_ppm,
    (CAST(SUM(n * length(word)) AS BIGINT) * 1000000)
      // (CAST(SUM(n * n_sym) AS BIGINT)) AS chars_per_token_ppm
  FROM lw JOIN wt USING (word) GROUP BY lang ORDER BY lang"""),
    (s, dir) => Bpe.fertilityFrom(Tables(s, dir).documents,
      Bpe.cachedLearn(Tables(s, dir).documents, dir)._2)
      .orderBy("lang"))

  /** Scalar quantization of the embedding column
    * (Similarity.scalarQuantize): per-dimension global stats →
    * 256-level integer codes. The oracle recomputes the same codes in
    * DuckDB (floor arithmetic — no rounding ties) and compares
    * order-independent integer summaries plus a code prefix.
    */
  private val vecQuantize = GraftQuery(
    "d_vec_quantize",
    Some("""WITH dims AS (SELECT CAST(i AS INT) AS dim,
        min(CAST(embedding[i] AS DOUBLE)) AS mn,
        max(CAST(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      GROUP BY i),
      arrs AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        FROM dims),
      q AS (SELECT vec_id, list_transform(embedding, (x, i) ->
          CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS BIGINT)
          ELSE CAST(least(floor(((CAST(x AS DOUBLE) - mns[i]) * 256.0)
            / (mxs[i] - mns[i])), 255.0) AS BIGINT) END) AS q
        FROM embeddings, arrs)
      SELECT vec_id, CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        CAST(list_aggregate(q, 'min') AS BIGINT) AS q_min,
        CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max,
        array_to_string(list_transform(q[1:8], y -> CAST(y AS VARCHAR)), ',') AS q_prefix
      FROM q ORDER BY vec_id"""),
    (s, dir) => Similarity.scalarQuantize(Tables(s, dir).embeddings, levels = 256)
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        array_join(transform(slice(col("q"), 1, 8), _.cast("string")), ",")
          .as("q_prefix"))
      .orderBy("vec_id"))

  /** Semantic dedup (Similarity.semanticDedup — the SemDeDup recipe).
    * KMeans clustering is not SQL-expressible → rows-only; the keep
    * policy's one-sided correctness and its recall vs the exact
    * cosine pair set are property-tested in PipelineSpec.
    */
  private val semDedup = GraftQuery(
    "d_semdedup",
    None,
    // rows-only: no output sort (round-7 rule, applied r11)
    (s, dir) => Similarity.semanticDedup(Tables(s, dir).embeddings, tau = 0.4,
        cacheKey = Some(s"$dir#embeddings")))

  /** DSIR-style importance weighting (Retrieval.importance): target =
    * English docs; add-one-smoothed integer-quantized unigram ratio
    * summed per doc. Same determinism recipe as d_unigram_rarity.
    */
  private val importanceQ = GraftQuery(
    "d_importance",
    Some("""WITH tok AS (SELECT doc_id,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        unnest(string_split(lower(text), ' ')) AS term FROM documents),
      dt AS (SELECT doc_id, term, COUNT(*) AS cnt, MAX(tgt) AS tgt
        FROM tok GROUP BY doc_id, term),
      v AS (SELECT term, SUM(cnt) AS c, SUM(cnt * tgt) AS tc
        FROM dt GROUP BY term),
      j AS (SELECT doc_id, dt.tgt, cnt,
        (CAST(1000000 AS BIGINT) * (tc + 1)) // (c + 1) AS w
        FROM dt JOIN v USING (term))
      SELECT doc_id, CAST(MAX(tgt) AS INT) AS is_target,
        CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        CAST(SUM(w * cnt) AS BIGINT) AS imp_sum,
        round(CAST(SUM(w * cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 4)
          AS mean_importance
      FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => Retrieval.importance(Tables(s, dir).documents,
      col("lang") === "en").orderBy("doc_id"))

  /** Sequence-length histogram (TextAnalysis.lengthHistogram): word
    * counts in 64-wide bins + cumulative doc share — the packing /
    * curriculum planning distribution.
    */
  private val lenHist = GraftQuery(
    "d_len_hist",
    Some("""WITH n AS (SELECT CAST(len(text) - len(replace(text, ' ', '')) + 1
          AS BIGINT) AS n_tok FROM documents),
      a AS (SELECT n_tok // 64 AS bucket, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM n GROUP BY n_tok // 64)
      SELECT bucket, bucket * 64 AS lo_word, n_docs, n_tokens,
        CAST(SUM(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cum_docs,
        round(CAST(SUM(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS cum_share
      FROM a ORDER BY bucket"""),
    (s, dir) => TextAnalysis.lengthHistogram(Tables(s, dir).documents)
      .orderBy("bucket"))

  /** Per-label embedding outliers (Similarity.labelOutliers): cosine
    * to the integer-quantized label centroid, bottom-10 per label —
    * the prototypicality / mislabel screen. Centroid sums are exact
    * integer aggregations (order-independent); see the operator doc.
    */
  private val embedOutlier = GraftQuery(
    "d_embed_outlier",
    Some("""WITH s AS (SELECT label, CAST(i AS INT) AS dim,
        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
          AS BIGINT)) AS BIGINT) AS s, COUNT(*) AS n
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        GROUP BY label, i),
      c AS (SELECT label, list(CAST(s // n AS DOUBLE) ORDER BY dim) AS m
        FROM s GROUP BY label),
      e AS (SELECT vec_id, emb.label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, m
        FROM embeddings emb JOIN c USING (label)),
      sc AS (SELECT vec_id, label, list_inner_product(v, m)
          / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(m, m)))
          AS cos FROM e),
      r AS (SELECT label, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY label
          ORDER BY round(cos, 6) ASC, vec_id) AS rank FROM sc)
      SELECT label, rank, vec_id, round(cos, 4) AS cos_r
      FROM r WHERE rank <= 10 ORDER BY label, rank"""),
    (s, dir) => Similarity.labelOutliers(Tables(s, dir).embeddings, k = 10)
      .orderBy("label", "rank"))

  private val mediaFeatures = GraftQuery(
    "d_media_features",
    None, // synthetic binary media (no media table in testdata); the
          // header decode is property-tested against the written
          // bytes in MediaOpsSpec — see MediaCodecs
    // no repartition (r14): syntheticMedia now GENERATES on a
    // distributed range (encode parallelism = session cores), so the
    // round-6 repartition(8) — which existed to split the local-Seq
    // relation — only capped the decode at 8 tasks and shuffled the
    // payload bytes through an exchange. Plan is now zero-exchange:
    // Range → encode map → decode mapPartitions.
    (s, _) => MediaOps.extractFeatures(MediaOps.syntheticMedia(s, 200))
      .select(col("media_id"), col("mime"), col("n_bytes"), col("fmt"),
        col("width"), col("height"), col("bit_depth"), col("channels"),
        col("sample_rate")))
      // (no orderBy: rows-only, and range sampling re-runs the decode)

  /** Video-frame sampling surface (#79, round 6): real APNG demux —
    * every video-like payload explodes to `nFrames` evenly spaced
    * animation frames re-wrapped as standalone stills; non-animated
    * payloads keep the deterministic chunk stand-in. Rows-only
    * (binary payloads); the demux itself is pinned frame-for-frame
    * against the builder formula in MediaOpsSpec.
    */
  private val mediaFrames = GraftQuery(
    "d_media_frames",
    None,
    // no repartition (r14): same zero-exchange rationale as
    // d_media_features above
    (s, _) => MediaOps.sampleFrames(
        MediaOps.syntheticMedia(s, 200), nFrames = 4)
      .select(col("media_id"), col("mime"), col("frame_idx"),
        length(col("frame")).as("n_bytes"),
        (substring(col("frame"), 2, 3) === lit("PNG".getBytes("US-ASCII")))
          .as("is_png")))
      // (no orderBy: rows-only, and range sampling re-runs the demux)

  /** Cluster-level curation report (Similarity.clusterTopics): the
    * corpus partitioned in embedding space, each cluster sized and
    * described by its top lift terms. Rows-only (KMeans cells are
    * engine-specific); determinism + planted-topic recovery in
    * QuantizeSpec.
    */
  private val clusterTopicsQ = GraftQuery(
    "d_cluster_topics",
    None,
    (s, dir) => {
      val t = Tables(s, dir)
      // rows-only: no output sort (round-7 rule, applied r11)
      Similarity.clusterTopics(t.embeddings, t.documents, nClusters = 8,
          cacheKey = Some(s"$dir#embeddings"))
    })

  /** Fill-in-the-middle transform (#85, TextAnalysis.fimTransform):
    * PSM reorder of one md5-drawn span per transformed doc — the
    * infilling pretraining objective. Zero-shuffle narrow projection;
    * input-sorted for the narrow-projection reason (d_intradoc_dedup
    * note). Oracle replays the draws and cuts verbatim (conv hex→int
    * ≡ CAST('0x'||h AS BIGINT)).
    */
  private val fimQ = GraftQuery(
    "d_fim",
    Some(s"""WITH c AS (SELECT doc_id, text, length(text) AS n,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim_a'), 1, 6) AS BIGINT)
          % (length(text) + 1) AS c1,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim_b'), 1, 6) AS BIGINT)
          % (length(text) + 1) AS c2,
        substr(md5(CAST(doc_id AS VARCHAR) || ':fim'), 1, 8)
          < '${Sampling.hexCut(0.5)}' AS fim_applied
      FROM documents),
      s AS (SELECT doc_id, fim_applied, least(c1, c2) AS lo,
        greatest(c1, c2) AS hi, text, n FROM c)
      SELECT doc_id, fim_applied, lo AS cut_lo, hi AS cut_hi,
        CASE WHEN fim_applied THEN
            '<fim_prefix>' || substr(text, 1, CAST(lo AS INT))
            || '<fim_suffix>' || substr(text, CAST(hi + 1 AS INT), CAST(n AS INT))
            || '<fim_middle>' || substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
          ELSE text END AS fim_text
      FROM s ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.fimTransform(
        Tables(s, dir).documents.orderBy("doc_id"), rate = 0.5))

  /** Hard-negative mining (#86, Similarity.hardNegatives): per probe,
    * the k most-confusable differently-labeled vectors below the
    * near-dup ceiling. Oracle-backed — thresholds and ordering run on
    * the floor(cos·1e6+0.5) grid both engines compute identically;
    * ties in the heap's (score desc, id asc) order equal the oracle's
    * neighbor_id tiebreak because the packed id is monotone in vec_id.
    */
  private val hardNegativesQ = GraftQuery(
    "d_hard_negatives",
    Some("""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      p AS (SELECT * FROM n WHERE vec_id % 10 = 0),
      pairs AS (SELECT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
          n.label AS neg_label,
          floor(list_inner_product(p.v, n.v) / (p.nrm * n.nrm) * 1e6 + 0.5) AS grid
        FROM p JOIN n ON p.vec_id <> n.vec_id AND p.label <> n.label),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
          ORDER BY grid DESC, neighbor_id) AS rank
        FROM pairs WHERE grid < 900000)
      SELECT probe_id, rank, neighbor_id, neg_label, grid / 1e6 AS cos6
      FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank"""),
    (s, dir) => Similarity.hardNegatives(Tables(s, dir).embeddings,
        col("vec_id") % 10 === 0, k = 5)
      .orderBy("probe_id", "rank"))

  /** Many-probe hard negatives (#86 scale path): IVF-index candidates
    * (the SAME session-scoped index d_ann_topk builds — one fit
    * serves both queries per process) + bounded label-exclusion
    * re-rank. Rows-only (IVF recall < 1); recall and invariants gated
    * vs d_hard_negatives in LlmOpsSpec.
    */
  private val hardNegativesIvfQ = GraftQuery(
    "d_hard_negatives_ivf",
    None,
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$dir#embeddings")
      // rows-only: no output sort (round-7 rule, applied r11)
      Similarity.hardNegativesIvf(emb, col("vec_id") % 10 === 0, idx, k = 5)
    })

  /** Margin-based alignment mining (#91, Similarity.marginAlign):
    * best-over-second-best ratio margin — the LASER/CCMatrix pair
    * mining criterion. ORACLE-BACKED: ranking on the cos grid, the
    * margin one IEEE division of two integer-valued doubles.
    */
  private val marginAlignQ = GraftQuery(
    "d_margin_align",
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      p AS (SELECT * FROM n WHERE vec_id % 10 = 0),
      t AS (SELECT * FROM n WHERE vec_id % 2 = 1),
      pairs AS (SELECT p.vec_id AS probe_id, t.vec_id AS match_id,
          floor(list_inner_product(p.v, t.v) / (p.nrm * t.nrm) * 1e6 + 0.5) AS grid
        FROM p JOIN t ON p.vec_id <> t.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
          ORDER BY grid DESC, match_id) AS rn FROM pairs),
      tw AS (SELECT probe_id,
          MAX(CASE WHEN rn = 1 THEN match_id END) AS match_id,
          MAX(CASE WHEN rn = 1 THEN grid END) AS g1,
          MAX(CASE WHEN rn = 2 THEN grid END) AS g2
        FROM rk WHERE rn <= 2 GROUP BY probe_id HAVING COUNT(*) = 2)
      SELECT probe_id, match_id, g1 / 1e6 AS cos6, g1 / g2 AS margin
      FROM tw WHERE g2 > 0 AND g1 / g2 >= 1.02
      ORDER BY probe_id"""),
    (s, dir) => Similarity.marginAlign(Tables(s, dir).embeddings,
        col("vec_id") % 10 === 0, col("vec_id") % 2 === 1, marginMin = 1.02)
      .orderBy("probe_id"))

  /** Global-mining margin alignment (#91 scale path): the CCMatrix
    * regime runs every side-A sentence as a probe, so the exact scan
    * is quadratic; candidates come from the SAME session-scoped IVF
    * index as d_ann_topk / d_hard_negatives_ivf (one fit per
    * process). Rows-only (IVF recall < 1); agreement vs
    * d_margin_align gated in LlmOpsSpec.
    */
  private val marginAlignIvfQ = GraftQuery(
    "d_margin_align_ivf",
    None,
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$dir#embeddings")
      // rows-only: no output sort (the round-7 rule — a global orderBy
      // adds a range-sampling pass that re-runs the final lineage)
      Similarity.marginAlignIvf(emb, col("vec_id") % 10 === 0,
          col("vec_id") % 2 === 1, idx, marginMin = 1.02)
    })

  /** Escalated margin mining (#91 deployment loop, §17.7): the IVF
    * miner at HALF the default probe width with headroom-aware
    * escalation back to the full width — emitted pairs inside the
    * low-headroom band (the threshold-flip class a missed cell can
    * flip) re-mine at nProbe=16 and the wide verdict replaces
    * theirs. Rows-only (IVF recall < 1); the flag-band mechanics,
    * the exact-pair recovery, and the unflagged-passthrough are all
    * spec-pinned (LlmOpsSpec), the trade curve measured on drifted
    * and planted-geometry blow-ups (§17.7).
    */
  private val marginAlignEscQ = GraftQuery(
    "d_margin_align_esc",
    None,
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$dir#embeddings")
      // rows-only: no output sort (the round-7 rule — a global orderBy
      // adds a range-sampling pass that re-runs the post-escalation
      // union's lineage, the priciest subtree here)
      Similarity.marginAlignIvf(emb, col("vec_id") % 10 === 0,
          col("vec_id") % 2 === 1, idx, marginMin = 1.02,
          nProbe = 8, escalateNProbe = 16)
    })

  /** Compression-ratio quality signal (#87): deflate length over raw
    * UTF-8 length — templated/repetitive docs compress far below
    * natural text (the whole-document complement to d_repetition's
    * n-gram rules; a standard web-corpus filter feature). The zlib
    * encoder's byte choices are engine-specific → rows-only; gated by
    * round-trip and monotonicity property specs in LlmOpsSpec. ppm is
    * an exact integer DIV. No orderBy: rows-only, and range sampling
    * would run the deflate twice.
    */
  private val compressRatioQ = GraftQuery(
    "d_compress_ratio",
    None,
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_len"),
        graft.plans.native.deflateLen(col("text")).cast("long").as("deflate_len"))
      .withColumn("ratio_ppm",
        expr("deflate_len * 1000000 DIV raw_len")))

  /** Semantic decontamination (#95, Similarity.semanticDecontam): the
    * embedding rung of the decontamination ladder — per candidate
    * vector, its best benchmark match and a contaminated flag at the
    * 0.40 grid cosine (≈ the corpus's p99 cross-similarity; the
    * planted-copy spec pins the flag itself). The benchmark is the
    * capped smallest-id slice — fixed-size by premise, so the scan is
    * corpus-linear. ORACLE-BACKED (grid argmax ∘ ROW_NUMBER twin).
    */
  private val semanticDecontamQ = GraftQuery(
    "d_semantic_decontam",
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      b AS (SELECT * FROM n WHERE vec_id % 20 = 0 AND nrm > 0
        ORDER BY vec_id LIMIT 256),
      t AS (SELECT * FROM n WHERE vec_id % 20 <> 0 AND nrm > 0),
      pairs AS (SELECT t.vec_id, b.vec_id AS bench_id,
          floor(list_inner_product(t.v, b.v) / (t.nrm * b.nrm) * 1e6 + 0.5) AS grid
        FROM t JOIN b ON t.vec_id <> b.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY grid DESC, bench_id) AS rn FROM pairs)
      SELECT vec_id, bench_id, grid / 1e6 AS cos6, grid >= 400000 AS contaminated
      FROM rk WHERE rn = 1 ORDER BY vec_id"""),
    // no output orderBy: the op sorts its INPUT key before the narrow
    // kernel (the d_fim rule) and emits in vec_id order
    (s, dir) => Similarity.semanticDecontam(Tables(s, dir).embeddings,
        col("vec_id") % 20 =!= 0, col("vec_id") % 20 === 0))

  /** Corpus drift report (#96, TextAnalysis.corpusDrift): per-term
    * ppm deltas between two deterministic snapshot halves plus the
    * corpus L1 distance — the ingest-monitoring report run before a
    * new crawl joins the training mix. All-integer → ORACLE-BACKED.
    */
  private val corpusDriftQ = GraftQuery(
    "d_corpus_drift",
    Some(s"""WITH occ AS (SELECT
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.hexCut(0.5)}' AS in_a,
        unnest(string_split(lower(text), ' ')) AS term FROM documents),
      vc AS (SELECT term,
          CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
          CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        FROM occ GROUP BY term),
      t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
          CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM vc),
      p AS (SELECT term, cnt_a, cnt_b,
          cnt_a * CAST(1000000 AS BIGINT) // greatest(tot_a, 1) AS ppm_a,
          cnt_b * CAST(1000000 AS BIGINT) // greatest(tot_b, 1) AS ppm_b
        FROM vc, t),
      d AS (SELECT *, abs(ppm_a - ppm_b) AS d_ppm FROM p),
      s AS (SELECT CAST(SUM(d_ppm) AS BIGINT) AS l1_ppm FROM d)
      SELECT term, cnt_a, cnt_b, ppm_a, ppm_b, d_ppm, l1_ppm
      FROM d, s ORDER BY d_ppm DESC, term LIMIT 50"""),
    (s, dir) => TextAnalysis.corpusDrift(Tables(s, dir).documents))

  /** Soft dedup (#99): down-weight duplicates instead of dropping —
    * every member of a duplicate family keeps an inverse-family-size
    * sampling weight (weight_ppm = 10⁶ div family_size), so the
    * family's EXPECTED sampled mass equals one document while
    * phrasing variation inside it is preserved. The third rewrite
    * policy of the dedup family (drop-to-min-id d_dedup_corpus,
    * best-member d_family_keep, weighted keep-all here); composition
    * of the CC fixpoint ∘ one component-count aggregate, so it is
    * ORACLE-BACKED and nearly free under the shared cachedComponents.
    */
  private val softDedupQ = GraftQuery(
    "d_soft_dedup",
    Some("""WITH RECURSIVE ws AS (SELECT doc_id, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT doc_id, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM sh),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      reach AS (SELECT src AS doc_id, MIN(dst) AS component FROM r GROUP BY src),
      fam AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS family_size
        FROM reach GROUP BY component)
      SELECT rc.doc_id, rc.component, f.family_size,
        CAST(1000000 AS BIGINT) // f.family_size AS weight_ppm
      FROM reach rc JOIN fam f ON rc.component = f.component
      ORDER BY doc_id"""),
    (s, dir) => {
      val comp = DedupPipeline.cachedComponents(Tables(s, dir).documents, dir)
      // family_size as a window count, NOT a groupBy + self-join: on a
      // mostly-unique corpus the per-component stats frame is
      // corpus-sized, i.e. the non-spillable hash-BUILD class the
      // round-5 rule bans (the d_incr_dedup OOM precedent). The window
      // form is ONE exchange by component and WindowExec's partition
      // buffer spills; the join form was two exchanges plus an
      // unbounded build side.
      val famW = org.apache.spark.sql.expressions.Window
        .partitionBy("component")
      comp.withColumn("family_size", count(lit(1)).over(famW))
        .select(col("doc_id"), col("component"), col("family_size"),
          expr("CAST(1000000 AS BIGINT) div family_size").as("weight_ppm"))
        .orderBy("doc_id")
    })

  /** Curation ledger (#98): the per-document audit trail a
    * data-governance review asks for — WHY is each document in or out
    * of the training set? One row per doc with every stage's verdict:
    * benchmark membership (eval sources are excluded from training),
    * the Gopher rule battery, PII presence (redacted, not dropped —
    * the flag records that the scrub touched it), exact-dup
    * keep-first, duplicate-FAMILY representative (the CC component —
    * exact + verified-near edges), n-gram contamination vs the
    * benchmark source, and the AND'd final keep. The Dolma/RefinedWeb
    * "removal ledger" artifact, and the d_leakage_split precedent
    * taken to its conclusion: every piece is an oracle-proven
    * fragment (gopher CASE ∘ md5 window ∘ recursive-CC fixpoint ∘
    * 8-gram LEFT join ∘ regex flags), so the COMPOSITION is
    * ORACLE-BACKED end to end.
    */
  private val curationLedgerQ = GraftQuery(
    "d_curation_ledger",
    Some {
      val stopSql = langScoreSql(TextAnalysis.StopSet)
      import TextAnalysis.{PiiEmail, PiiPhone, PiiIpv4}
      s"""WITH RECURSIVE ws AS (SELECT doc_id, md5(text) AS h,
        string_split(lower(text), ' ') AS w FROM documents),
      sh AS (SELECT doc_id, h,
        list_distinct(list_transform(
          generate_series(1, CAST(greatest(len(w) - 2, 1) AS INT)),
          i -> array_to_string(w[i:least(i + 2, len(w))], ' '))) AS s
        FROM ws),
      rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM sh),
      exact_edges AS (SELECT rep_id AS a, doc_id AS b FROM rep WHERE doc_id <> rep_id),
      reps AS (SELECT doc_id, s FROM rep WHERE doc_id = rep_id),
      near_edges AS (SELECT x.doc_id AS a, y.doc_id AS b
        FROM reps x JOIN reps y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.8),
      edges AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges),
      und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      r(src, dst) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a),
      reach AS (SELECT src, MIN(dst) AS component FROM r GROUP BY src),
      gm AS (SELECT doc_id,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_words,
        ${occSql("text", "#")} + ${occSql("text", "...")} AS n_symbol,
        len(list_filter(string_split(text, ' '),
          w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        $stopSql AS n_stop
        FROM documents),
      gk AS (SELECT doc_id, ((n_words BETWEEN 10 AND 100000)
          AND ((CAST(n_chars - n_words + 1 AS DOUBLE) / n_words) BETWEEN 2 AND 10)
          AND ((CAST(n_symbol AS DOUBLE) / n_words) <= 0.1)
          AND ((CAST(n_alpha AS DOUBLE) / n_words) >= 0.8)
          AND (n_stop >= 2)) AS gopher_keep
        FROM gm),
      ex AS (SELECT doc_id,
          doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
        FROM documents),
      sp AS (SELECT doc_id, source, string_split(text, ' ') AS cw
        FROM documents),
      cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(cw) - 7, 1)),
          i -> array_to_string(cw[i:least(i+7, len(cw))], ' ')))) AS ng
        FROM sp WHERE source <> 'src0'),
      bgr AS (SELECT DISTINCT unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(cw) - 7, 1)),
          i -> array_to_string(cw[i:least(i+7, len(cw))], ' ')))) AS ng
        FROM sp WHERE source = 'src0'),
      cr AS (SELECT cg.doc_id,
          (CAST(COUNT(bgr.ng) AS DOUBLE) / COUNT(*)) > 0.5 AS contaminated
        FROM cg LEFT JOIN bgr ON cg.ng = bgr.ng GROUP BY cg.doc_id),
      pii AS (SELECT doc_id,
          (regexp_matches(text, '$PiiEmail') OR regexp_matches(text, '$PiiPhone')
            OR regexp_matches(text, '$PiiIpv4')) AS pii_found
        FROM documents)
      SELECT d.doc_id, (d.source = 'src0') AS is_benchmark,
        gk.gopher_keep, pii.pii_found, ex.exact_dup,
        reach.component, (d.doc_id <> reach.component) AS dedup_drop,
        coalesce(cr.contaminated, false) AS contaminated,
        ((d.source <> 'src0') AND gk.gopher_keep
          AND d.doc_id = reach.component
          AND NOT coalesce(cr.contaminated, false)) AS keep
      FROM documents d
      JOIN gk USING (doc_id) JOIN ex USING (doc_id) JOIN pii USING (doc_id)
      JOIN reach ON d.doc_id = reach.src
      LEFT JOIN cr ON d.doc_id = cr.doc_id
      ORDER BY doc_id"""
    },
    (s, dir) => {
      val docs = Tables(s, dir).documents
      curationLedger(docs, dir, contamGateUseBloom(docs))
    })

  /** d_curation_ledger over `docs` (the documents table of `dir`),
    * with the contamination-leg verdict passed in so ContamGateSpec
    * runs both legs.
    */
  private[graft] def curationLedger(docs: org.apache.spark.sql.DataFrame,
      dir: String, useBloom: Boolean): org.apache.spark.sql.DataFrame = {
    val exactW = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val flags = docs.select(
      col("doc_id"), col("source"),
      (col("source") === "src0").as("is_benchmark"),
      TextAnalysis.gopherRules(col("text")).last.as("gopher_keep"),
      (TextAnalysis.piiCounts(col("text")).last > 0).as("pii_found"),
      (col("doc_id") =!= min(col("doc_id")).over(exactW)).as("exact_dup"))
    val comp = DedupPipeline.cachedComponents(docs, dir)
    // Contamination leg is VOLUME-GATED (the Retrieval perplexity
    // pattern): the exact 8-gram equi-join ships ~8× the corpus
    // text bytes through a shuffle (every word starts an 8-word
    // gram), which is the oracle-backed leg below the shared cache
    // budget but the dominant spill-regime stage at blow-up scale
    // (the 1024× ledger profile). Past the budget the benchmark's
    // grams become ONE broadcast bloom and the leg is a zero-join
    // per-row membership scan — one-sided on the same grams (never
    // misses a contaminated doc; ContamGateSpec pins flag
    // containment and both paths row-identical off the flag).
    // The auto gate keys on a FIXED corpus-size knee, NOT the live
    // heap: the oracle verdict must not depend on the JVM's memory
    // config (a small-heap run at oracle scale would flip to the
    // one-sided bloom leg and over-flag vs DuckDB). The constant is
    // the measured 8 GiB-heap knee from the 1024× ledger profile
    // (exact-leg gram shuffle ~8× corpus bytes vs a 2 GiB budget),
    // frozen so the same corpus always takes the same leg.
    val candDocs = docs.filter(col("source") =!= "src0")
    val benchDocs = docs.filter(col("source") === "src0")
    val contam =
      if (useBloom)
        TextAnalysis.bloomNgramContamination(candDocs, benchDocs)
          .select(col("doc_id"),
            (col("maybe_overlap_ratio") > 0.5).as("contam0"))
      else
        TextAnalysis.ngramContamination(candDocs, benchDocs)
          .select(col("doc_id"), (col("overlap_ratio") > 0.5).as("contam0"))
    flags.join(comp, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contam0"), lit(false)))
      .withColumn("dedup_drop", col("doc_id") =!= col("component"))
      .withColumn("keep", !col("is_benchmark") && col("gopher_keep")
        && !col("dedup_drop") && !col("contaminated"))
      .select("doc_id", "is_benchmark", "gopher_keep", "pii_found",
        "exact_dup", "component", "dedup_drop", "contaminated", "keep")
      .orderBy("doc_id")
  }

  val queries: Seq[GraftQuery] = Seq(
    fimQ, hardNegativesQ, hardNegativesIvfQ, compressRatioQ, marginAlignQ,
    marginAlignIvfQ, marginAlignEscQ, semanticDecontamQ, corpusDriftQ,
    curationLedgerQ,
    softDedupQ,
    clusterTopicsQ,
    exactDedup, minhashLsh, simhashQ, ngramJaccard,
    embedNearDup, embedNearDupExact, annTopK, annTopKExact, knnGraphQ,
    labelPropExact, labelProp,
    langIdQ, qualityQ, qualityClassifierQ, gopherQ, tokenCountQ,
    fingerprintQ, editDistance,
    dedupCorpus,
    dupFamilies, leakageSplitQ, familyKeepQ, tokenBudgetQ,
    consistentSample, contamination, contaminationExact, bloomContam,
    mediaFeatures, mediaFrames,
    repetition, topNgrams, chunk, domainStats, mixSampleQ, temperatureMixQ,
    datasetCardQ,
    piiQ, normalizeQ,
    splitQ, packQ, incrDedup, intraDedupQ, segmentDedup, boilerplateQ,
    substrDedupQ,
    bm25Q, rrfHybridQ, rarityQ, curriculumQ, tfidfQ, bigramLmQ,
    perplexityBucketQ,
    bpeTrainQ, bpeVocabQ, bpeEncodeQ, tokenizerFertilityQ,
    invertedIndexQ, cooccurQ, textRankQ, spanCorruptQ,
    vecQuantize, semDedup, importanceQ, lenHist, embedOutlier, embedPcaQ,
    mmrDiversifyQ)
}
