package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Text analysis for training-data pipelines (SURVEY.md §2.3 #28-31):
  * language ID, quality scoring, token counting, fingerprinting.
  * All pure Column arithmetic (codegen, SQL-mirrorable except the
  * fingerprint which uses xxhash64).
  */
object TextAnalysis {

  /** Stopword markers per language for the n-gram/marker heuristic.
    * Scores are occurrence counts of ' marker ' in the padded text —
    * the classic replace-length construction, identical in any SQL
    * dialect.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "zh" -> Seq("de", "shi", "bu", "zai", "le"))

  /** Score for one language = Σ occurrences of its markers — a
    * single-language call of the one-pass native scorer (semantics
    * identical to counting " marker " in the space-padded lowered
    * text, which the oracles keep as the SQL construction).
    */
  def langScore(text: Column, markers: Seq[String]): Column =
    graft.plans.native.markerScores(lower(text), Seq(markers)).getItem(0)

  /** Predicted language: argmax score, first-listed wins ties
    * (deterministic; 'und' = undetermined when all scores are 0).
    * All 25 marker counts come from ONE text scan (MarkerScores);
    * the argmax tree runs over array accesses, not re-counts.
    */
  def langId(text: Column): Column = {
    val arr = graft.plans.native.markerScores(lower(text), Markers.map(_._2))
    val scores = Markers.indices.map(arr.getItem(_))
    val best = scores.reduce((a, b) => greatest(a, b))
    Markers.map(_._1).zip(scores).foldRight(lit("und"): Column) {
      case ((l, s), acc) => when(s === best && s > 0, l).otherwise(acc)
    }
  }

  /** Quality metrics + a composite score in [0,1]. Heuristics follow
    * the public Gopher/C4-style rules: length bounds, word length,
    * punctuation/digit density, stopword density.
    */
  def quality(text: Column): Seq[Column] = {
    val nChars = length(text)
    val nTokens = TextFns.wordCount(text)
    val avgTokLen = (nChars - nTokens + 1).cast("double") / nTokens.cast("double")
    // byte-class counts — single pass, no regex machine; identical to
    // counting "[!-/:-@\[-`{-~]" / "[0-9]" single-char matches (the
    // oracle keeps the regex form)
    val punct = graft.plans.native.byteClassCount(text,
      Seq(('!', '/'), (':', '@'), ('[', '`'), ('{', '~')))
    val digits = graft.plans.native.byteClassCount(text, Seq(('0', '9')))
    val stop = langScore(text, StopSet)
    val punctRatio = punct.cast("double") / nChars.cast("double")
    val digitRatio = digits.cast("double") / nChars.cast("double")
    val stopRatio = stop.cast("double") / nTokens.cast("double")
    val score =
      when(nTokens < 5, 0.0).otherwise(
        round(
          when(nChars.between(100, 2000), 0.4).otherwise(0.2)
            + when(avgTokLen.between(3, 10), 0.3).otherwise(0.0)
            + when(punctRatio <= 0.1, 0.2).otherwise(0.0)
            + when(stopRatio > 0, 0.1).otherwise(0.0), 4))
    Seq(nChars.as("n_chars"), nTokens.as("n_tokens"),
      round(avgTokLen, 4).as("avg_token_len"),
      round(punctRatio, 6).as("punct_ratio"),
      round(digitRatio, 6).as("digit_ratio"),
      round(stopRatio, 6).as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Stop set shared by [[quality]]'s stopword ratio and
    * [[gopherRules]]'s minimum-stopword rule (and their SQL oracles).
    */
  val StopSet: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is")

  /** Gopher-style quality-RULE battery (Rae et al. 2021 §A1.1): the
    * hard per-document filters a pretraining pipeline applies before
    * any scoring — word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (# and ellipsis), fraction of words with an
    * alphabetic character, and a minimum stop-word count. Emits the
    * measured stats, one boolean per rule, and the AND'd keep flag,
    * so downstream can both filter and report per-rule kill counts.
    * (The paper's line-level bullet/ellipsis rules need newlines,
    * which this corpus does not carry — out of scope here.)
    *
    * Determinism: every ratio is ONE division of exact integer counts
    * computed identically by the DuckDB oracle, and rules compare
    * those raw doubles to constants — identical operands, identical
    * IEEE results on both sides. round() appears only in output
    * columns (the oracle-locked exception in the round() rule).
    */
  def gopherRules(text: Column): Seq[Column] = {
    val nWords = TextFns.wordCount(text)
    val nChars = length(text)
    val meanWordLen = (nChars - nWords + 1).cast("double") / nWords.cast("double")
    val nSymbol = TextFns.countOccurrences(text, "#") +
      TextFns.countOccurrences(text, "...")
    val symbolRatio = nSymbol.cast("double") / nWords.cast("double")
    val nAlpha = size(filter(TextFns.words(text), w => w.rlike("[A-Za-z]")))
    val alphaRatio = nAlpha.cast("double") / nWords.cast("double")
    val nStop = langScore(text, StopSet)
    val rWords = nWords.between(10, 100000)
    val rMean = meanWordLen.between(2.0, 10.0)
    val rSymbol = symbolRatio <= 0.1
    val rAlpha = alphaRatio >= 0.8
    val rStop = nStop >= 2
    Seq(nWords.as("n_words"),
      round(meanWordLen, 4).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(alphaRatio, 6).as("alpha_ratio"),
      nStop.as("n_stop"),
      rWords.as("r_word_count"),
      rMean.as("r_mean_word"),
      rSymbol.as("r_symbol"),
      rAlpha.as("r_alpha"),
      rStop.as("r_stop"),
      (rWords && rMean && rSymbol && rAlpha && rStop).as("keep_flag"))
  }

  /** Whitespace tokens + BPE-ish segment count (letter runs, digit
    * runs, punctuation runs — ASCII so Java and RE2 regex agree).
    */
  def tokenCounts(text: Column): Seq[Column] = Seq(
    TextFns.wordCount(text).as("ws_tokens"),
    // one-pass byte scan, match-sequence-identical to the regex
    // [A-Za-z]+|[0-9]+|[^A-Za-z0-9 ] (the form the oracle keeps)
    graft.plans.native.bpeishTokenCount(text).as("bpe_ish_tokens"),
    size(array_distinct(TextFns.words(lower(text)))).as("distinct_tokens"))

  /** Sequence-length histogram: docs bucketed by word count in fixed
    * `bucketWords`-wide bins, with cumulative document share — the
    * distribution a packing/curriculum planner reads before choosing
    * a context length (what share of docs fit in 1/2/4 buckets, how
    * much token mass sits in the tail).
    *
    * Scale shape: one narrow native word-count scan, one groupBy on
    * the bucket id (map-side partials collapse each task to its
    * bucket set); the cumulative window runs over the aggregated
    * frame (≤ max_len/bucketWords rows — trivially single-partition).
    * All counts integer; shares divide at the end.
    */
  def lengthHistogram(docs: DataFrame, bucketWords: Int = 64,
      textCol: String = "text"): DataFrame = {
    val agg = docs
      .select((TextFns.wordCount(col(textCol)).cast("long")).as("n_tok"))
      .select(expr(s"n_tok div $bucketWords").as("bucket"), col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    val all = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    agg
      .withColumn("lo_word", col("bucket") * bucketWords)
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_share",
        round(sum(col("n_docs")).over(w).cast("double")
          / sum(col("n_docs")).over(all).cast("double"), 6))
      .select("bucket", "lo_word", "n_docs", "n_tokens", "cum_docs", "cum_share")
  }

  /** Corpus drift report between two snapshot slices — the ingest
    * monitoring step ("did today's crawl shift the token
    * distribution?") run before a new snapshot joins the training
    * mix: per-term counts and ppm shares in slice A vs slice B, the
    * per-term ppm delta, and the corpus-level L1 distance
    * Σ|ppmA − ppmB| (= 2·TVD in ppm — the rational stand-in for a KL
    * drift score, which needs transcendental logs; L1 bounds KL from
    * below via Pinsker and is exact-integer cross-engine). Output:
    * the `topK` biggest movers by (|Δppm| desc, term), each row
    * carrying the corpus L1 total.
    *
    * The two "snapshots" are a deterministic md5-hex draw on the id
    * (the d_split idiom) so the report is reproducible on any engine;
    * a real deployment passes snapshot membership as the flag column
    * via `sideA`.
    *
    * Scale shape: ONE corpus explode collapsed map-side straight to
    * per-term conditional sums — the (term) key is vocab-sized, so no
    * exchange ever carries corpus rows; the count table is barriered
    * (localCheckpoint, bounded by vocab size) before its consumers
    * (totals, L1 aggregate, top-K cut) so the corpus pass runs once.
    * Totals and the L1 scalar ride back as broadcasts; the top-K cut
    * is TakeOrderedAndProject. All-integer → ORACLE-BACKED.
    */
  def corpusDrift(docs: DataFrame, topK: Int = 50,
      textCol: String = "text", idCol: String = "doc_id",
      sideA: Option[Column] = None): DataFrame = {
    val inA = sideA.getOrElse(
      substring(md5(col(idCol).cast("string")), 1, 8)
        < lit(Sampling.hexCut(0.5)))
    val vc = docs
      .select(inA.as("in_a"),
        explode(TextFns.words(lower(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cnt_b"))
      .localCheckpoint()
    val tots = vc.agg(sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
    val ppm = vc.crossJoin(broadcast(tots))
      .withColumn("ppm_a",
        expr("cnt_a * CAST(1000000 AS BIGINT) div greatest(tot_a, CAST(1 AS BIGINT))"))
      .withColumn("ppm_b",
        expr("cnt_b * CAST(1000000 AS BIGINT) div greatest(tot_b, CAST(1 AS BIGINT))"))
      .withColumn("d_ppm", abs(col("ppm_a") - col("ppm_b")))
    val l1 = ppm.agg(sum("d_ppm").as("l1_ppm"))
    ppm.crossJoin(broadcast(l1))
      .orderBy(col("d_ppm").desc, col("term"))
      .limit(topK)
      .select("term", "cnt_a", "cnt_b", "ppm_a", "ppm_b", "d_ppm", "l1_ppm")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * hash char k-grams, take the min hash of each sliding window of w
    * — the distinct mins are the document's fingerprints. Returned
    * here as (n_fingerprints, min_fingerprint) summary columns.
    */
  def fingerprint(text: Column, k: Int = 5, w: Int = 4): Seq[Column] = {
    val fps = graft.plans.native.winnowing(text, k, w)
    Seq(size(fps).as("n_fingerprints"), array_min(fps).as("min_fingerprint"))
  }

  /** Contamination check (the decontamination op every training
    * pipeline runs): how much of each candidate document's winnowing
    * fingerprint set appears in the benchmark corpus. Exploded
    * fingerprints equi-join — shuffle O(Σ fps), never doc×doc.
    * Returns (doc_id, n_fingerprints, n_hits, overlap_ratio).
    */
  def contamination(candidates: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 20, w: Int = 8): DataFrame = {
    // k=20 chars ≈ a 3-4 word exact span: short k-grams (the dedup
    // default k=5) collide near-universally on small-vocabulary
    // corpora and would flag everything as contaminated.
    def fps(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      explode(graft.plans.native.winnowing(col(textCol), k, w)).as("fp"))
    // ONE winnowing pass per side: left-join the benchmark set with a
    // hit marker and count totals + hits in the same aggregation — the
    // old two-branch form (separate total and hit aggregates over the
    // same exploded frame) ran the winnowing expression twice. No
    // (doc_id, fp) dedup needed: WinnowingFingerprints returns the
    // DISTINCT mins per doc, so the exploded rows are already unique
    // per document and a dropDuplicates would be a pure extra shuffle.
    val candFps = fps(candidates)
    val benchFps = fps(benchmark).select(col("fp")).distinct()
      .withColumn("__hit", lit(1))
    candFps.join(benchFps, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fingerprints"),
        count(col("__hit")).as("n_hits"))
      .select(col("doc_id"), col("n_fingerprints"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_fingerprints"), 6)
          .as("overlap_ratio"))
  }

  /** Exact word-n-gram contamination — the oracle-backed reference
    * twin of [[contamination]] (which winnows with engine-specific
    * hashes): the fraction of each candidate doc's DISTINCT word
    * n-grams that appear verbatim anywhere in the benchmark corpus.
    * Same shape as the winnowing path — exploded n-grams equi-join,
    * shuffle O(Σ n-grams), never doc×doc — but the n-grams are the
    * strings themselves, so DuckDB can replay it exactly. Heavier
    * per row than fingerprints (full n-gram strings shuffle instead
    * of 64-bit mins); at scale run [[bloomContamination]] first and
    * this only on the flagged survivors.
    */
  def ngramContamination(candidates: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      explode(graft.plans.native.wordShingles(col(textCol), n)).as("ng"))
    val benchGrams = grams(benchmark).select(col("ng")).distinct()
      .withColumn("__hit", lit(1))
    grams(candidates).join(benchGrams, Seq("ng"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), count(col("__hit")).as("n_hits"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_ngrams"), 6)
          .as("overlap_ratio"))
  }

  /** PII patterns (ASCII-only, no lookarounds/backreferences so Java
    * regex and DuckDB/RE2 agree): emails, NNN-NNN-NNNN phones, IPv4.
    * The standard pre-training scrub surface (emails/phones/IPs are
    * the C4/CCNet-style redaction classes).
    */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val PiiIpv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Per-class match counts + a 0/1 flag (int, not boolean, so the
    * oracle types align across engines).
    */
  def piiCounts(text: Column): Seq[Column] = {
    // cheap byte prefilters gate the regex machines: an email match
    // requires '@', a phone/IP match requires a digit — most clean
    // docs skip the expensive scan entirely, matches are unchanged
    val hasAt = graft.plans.native.byteClassCount(text, Seq(('@', '@'))) > 0
    val hasDigit = graft.plans.native.byteClassCount(text, Seq(('0', '9'))) > 0
    val e = when(hasAt, TextFns.countMatches(text, PiiEmail)).otherwise(0)
    val p = when(hasDigit, TextFns.countMatches(text, PiiPhone)).otherwise(0)
    val ip = when(hasDigit, TextFns.countMatches(text, PiiIpv4)).otherwise(0)
    Seq(e.as("n_emails"), p.as("n_phones"), ip.as("n_ipv4"),
      when(e + p + ip > 0, 1).otherwise(0).as("has_pii"))
  }

  /** Replace every PII span with a typed placeholder. Emails first
    * (their local part can contain digits that the narrower patterns
    * would otherwise nibble at), then phones, then IPs.
    */
  def piiRedact(text: Column): Column = {
    // same prefilter trick as piiCounts: each replace stage only runs
    // its regex when the text can possibly match (codegen evaluates
    // the stage input once — subexpression elimination)
    def gated(t: Column, need: Column => Column, pat: String, rep: String) =
      when(need(t), regexp_replace(t, lit(pat), lit(rep))).otherwise(t)
    val hasAt = (t: Column) =>
      graft.plans.native.byteClassCount(t, Seq(('@', '@'))) > 0
    val hasDigit = (t: Column) =>
      graft.plans.native.byteClassCount(t, Seq(('0', '9'))) > 0
    gated(gated(gated(text, hasAt, PiiEmail, "<EMAIL>"),
        hasDigit, PiiPhone, "<PHONE>"),
      hasDigit, PiiIpv4, "<IP>")
  }

  /** Detect + redact in one regex pass per class: redact first, then
    * count each class as the literal occurrences of its typed
    * placeholder in the redacted text (a byte scan, not a second
    * regex machine — halves the regex work of counts-then-redact,
    * measured 2× on the 64× blow-up). Placeholders contain no digits
    * or '@', so later replace stages can't disturb earlier markers.
    * Semantics: counts = the number of spans the redaction actually
    * replaced per class (a phone inside an email local part counts
    * as the email it was redacted as — the chain's own precedence),
    * assuming source text doesn't already contain the literal
    * placeholder tokens. The oracle mirrors this formulation.
    */
  def piiDetectRedact(text: Column): Seq[Column] = {
    val red = piiRedact(text)
    val e = graft.plans.native.literalCount(red, "<EMAIL>")
    val p = graft.plans.native.literalCount(red, "<PHONE>")
    val ip = graft.plans.native.literalCount(red, "<IP>")
    Seq(e.as("n_emails"), p.as("n_phones"), ip.as("n_ipv4"),
      when(e + p + ip > 0, 1).otherwise(0).as("has_pii"),
      red.as("redacted"))
  }

  /** Bloom-filter decontamination — the constant-memory scale path of
    * [[contamination]]: the benchmark's fingerprint set becomes ONE
    * broadcast bloom filter (bloom_filter_agg), and candidates check
    * membership with might_contain — no shuffle of the benchmark set,
    * no join. One-sided error: n_maybe_hits is a SUPERSET count of
    * exact hits (possible false positives, never false negatives), so
    * it is the right pre-filter before the exact [[contamination]]
    * pass over the flagged slice.
    */
  /** Catalyst's internal bloom-membership test as a Column (Spark
    * uses BloomFilterMightContain for runtime join filters; no SQL
    * registration) — shared by the batch bloom legs. The streaming
    * intake gate's kernel ([[graft.plans.native.FingerprintOverlap]])
    * reads the same filter binary the same way (BloomFilter.readFrom,
    * mightContainLong).
    */
  private[graft] def bloomMightContain(bf: Column, v: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bf), expression(v)))
  }

  /** Build the benchmark fingerprint bloom and return the serialized
    * filter — the OFFLINE-fit decontamination artifact a streaming
    * intake broadcasts (the StreamingQuality model rule), and the
    * constant [[bloomContamination]] inlines.
    */
  def benchmarkBloomBytes(benchmark: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 20, w: Int = 8,
      expectedItems: Long = 0L, numBits: Long = 0L): Array[Byte] = {
    def fps(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      explode(graft.plans.native.winnowing(col(textCol), k, w)).as("fp"))
    // auto-sizing (expectedItems = 0): count the benchmark fingerprint
    // rows first — one extra narrow pass over the (small) benchmark
    // side, same derive-from-the-data precedent as RangeJoin's width.
    // The row count upper-bounds the distinct-fp count (winnowing
    // emits distinct mins per doc), so the filter is never undersized.
    // bits ≈ -n·ln(p)/ln2² ≈ 10·n targets p ≈ 1% FP; hardcoded sizing
    // either starved the filter (FP blow-up past the benchmark's
    // growth) or taxed every task closure with dead bits.
    bloomBytesOf(fps(benchmark), "fp", expectedItems, numBits)
  }

  /** Distributed bloom build over one column, returned as the
    * serialized filter binary — shared by the fingerprint
    * ([[benchmarkBloomBytes]]) and word-n-gram
    * ([[bloomNgramContamination]]) decontamination legs.
    */
  private def bloomBytesOf(vals: DataFrame, valueCol: String,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(vals.count(), 64L)
    // clamped to BloomFilterAggregate's maxNumBits (2^26 default):
    // past the cap the FP rate degrades gracefully instead of the
    // aggregate rejecting the size outright
    val bits =
      if (numBits > 0) numBits
      else math.min(
        java.lang.Long.highestOneBit(math.max(10L * items, 1024L) * 2 - 1),
        org.apache.spark.sql.internal.SQLConf.get.getConf(
          org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS))
    import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bfAgg = column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        expression(col(valueCol)), Literal(items), Literal(bits))
        .toAggregateExpression())
    vals.agg(bfAgg.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Bloom twin of [[ngramContamination]] over the SAME word-n-gram
    * features — the zero-join leg the curation ledger switches to
    * past its gram-volume budget: the benchmark's n-grams (hashed to
    * 64 bits) become ONE broadcast bloom filter, and candidates test
    * membership per exploded row — no shuffle of the benchmark set,
    * no corpus-gram equi-join. One-sided BY CONSTRUCTION on the same
    * grams: every gram the exact join matches hashes to an inserted
    * value, so might_contain is true — n_maybe_hits ≥ n_hits
    * doc-for-doc and a `ratio > tau` flag can only over-flag, never
    * miss a contaminated doc (ContamGateSpec pins the containment).
    */
  def bloomNgramContamination(candidates: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 8,
      expectedItems: Long = 0L, numBits: Long = 0L): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("doc_id"),
        explode(graft.plans.native.wordShingles(col(textCol), n)).as("ng"))
      .select(col("doc_id"), xxhash64(col("ng")).as("gh"))
    val bfBytes = bloomBytesOf(grams(benchmark), "gh", expectedItems, numBits)
    import org.apache.spark.sql.graftshim.GraftShim.column
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bfLit = column(Literal.create(bfBytes,
      org.apache.spark.sql.types.BinaryType))
    grams(candidates)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(bloomMightContain(bfLit, col("gh")), 1L).otherwise(0L))
          .as("n_maybe_hits"))
      .select(col("doc_id"), col("n_ngrams"), col("n_maybe_hits"),
        round(col("n_maybe_hits").cast("double") / col("n_ngrams"), 6)
          .as("maybe_overlap_ratio"))
  }

  def bloomContamination(candidates: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 20, w: Int = 8,
      expectedItems: Long = 0L, numBits: Long = 0L): DataFrame = {
    def fps(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      explode(graft.plans.native.winnowing(col(textCol), k, w)).as("fp"))
    def mightContain(bf: Column, v: Column) = bloomMightContain(bf, v)
    // might_contain requires a CONSTANT bloom: build it distributed,
    // fetch the one ~numBits/8-byte binary, and inline it as a
    // literal (exactly how Spark's runtime join-filter injection
    // ships its blooms) — the candidates side then filters with zero
    // joins and zero shuffles of the benchmark set
    val bfBytes = benchmarkBloomBytes(benchmark, textCol, idCol, k, w,
      expectedItems, numBits)
    import org.apache.spark.sql.graftshim.GraftShim.column
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bfLit = column(Literal.create(bfBytes,
      org.apache.spark.sql.types.BinaryType))
    // exploded rows are already distinct per doc (winnowing returns
    // distinct mins) and co-located with their doc, so the groupBy's
    // map-side partial aggregation reduces to |docs| rows pre-shuffle
    fps(candidates)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fingerprints"),
        sum(when(mightContain(bfLit, col("fp")), 1L).otherwise(0L)).as("n_maybe_hits"))
      .select(col("doc_id"), col("n_fingerprints"), col("n_maybe_hits"),
        round(col("n_maybe_hits").cast("double") / col("n_fingerprints"), 6)
          .as("maybe_overlap_ratio"))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) — the
    * denoising-objective TARGET CONSTRUCTION step of a pretraining
    * pipeline: fixed `spanWords`-word spans are masked at `rate`,
    * masked spans are replaced by numbered sentinels in the input and
    * emitted after their sentinel in the target sequence.
    *
    * Span selection is an md5-prefix draw on (doc_id, span index) —
    * the [[Sampling.holdoutSplit]] idiom — so masking is
    * deterministic, partitioning-invariant, and replayable in SQL
    * (no RNG state). Fixed-width spans; adjacent masked spans keep
    * separate sentinels (simpler than T5's merged variable-length
    * spans, same training-objective shape). Returns (doc_id,
    * n_groups, n_masked, corrupted, targets) with FULL rebuilt
    * strings, compared verbatim by the oracle.
    *
    * Scale shape: the whole operator is ONE narrow projection — a
    * native per-row expression ([[graft.plans.native.spanCorrupt]])
    * walks the document once, draws each span's mask and emits both
    * rebuilt strings. Zero shuffles (the relational explode + running
    * window + rebuild form moves every 3-word segment through two
    * corpus-sized exchanges — measured 26.7 s at the 64× blow-up
    * against ~2 s for this form).
    */
  def spanCorrupt(docs: DataFrame, spanWords: Int = 3, rate: Double = 0.15,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.plans.native.spanCorrupt(col(idCol), col(textCol),
          spanWords, rate).as("sc"))
      .select(col("doc_id"), col("sc.n_groups").as("n_groups"),
        col("sc.n_masked").as("n_masked"),
        col("sc.corrupted").as("corrupted"),
        col("sc.targets").as("targets"))

  /** Fill-in-the-middle transform (Bavarian et al. 2022): for a
    * `rate` fraction of documents, split the text at two
    * deterministic character cuts and re-emit it in PSM order —
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M` — the pretraining
    * objective that teaches infilling with no architecture change
    * (the autoregressive loss on the moved middle IS the infill
    * loss). Complements [[spanCorrupt]]: T5-style denoising masks
    * many short spans; FIM moves ONE contiguous span to the end.
    *
    * The rate draw is the [[Sampling.holdoutSplit]] md5-prefix idiom;
    * each cut position is an independent 6-hex-digit md5 draw mod
    * (len+1), so cuts land uniformly in [0, len], either may be the
    * empty split, and the transform is deterministic,
    * partitioning-invariant and exactly replayable in SQL (`conv`
    * hex→int twins DuckDB's `CAST('0x'||h AS BIGINT)`).
    *
    * Scale shape: ONE codegen'd narrow projection of builtin
    * md5/conv/substring Columns — zero shuffles at any corpus size.
    */
  def fimTransform(docs: DataFrame, rate: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val text = col(textCol)
    val len = length(text)
    def cutAt(salt: String): Column =
      (conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))),
        1, 6), 16, 10).cast("long") % (len + 1).cast("long")).cast("int")
    val applied =
      substring(md5(concat(col(idCol).cast("string"), lit(":fim"))), 1, 8) <
        lit(Sampling.hexCut(rate))
    val c1 = cutAt(":fim_a")
    val c2 = cutAt(":fim_b")
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val psm = concat(lit("<fim_prefix>"), text.substr(lit(1), lo),
      lit("<fim_suffix>"), text.substr(hi + 1, len),
      lit("<fim_middle>"), text.substr(lo + 1, hi - lo))
    docs.select(col(idCol).as("doc_id"), applied.as("fim_applied"),
      lo.cast("long").as("cut_lo"), hi.cast("long").as("cut_hi"),
      when(applied, psm).otherwise(text).as("fim_text"))
  }
}
