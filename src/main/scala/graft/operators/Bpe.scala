package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and encoding (Sennrich et
  * al. 2016) — the tokenizer-construction step of an LLM data
  * pipeline, run corpus-scale.
  *
  * Scale shape: the ONLY corpus-sized pass is the word-frequency
  * aggregation (one explode + one groupBy). Everything after runs on
  * the DISTINCT-WORD table (vocabulary-sized — millions of rows at
  * 100 TB, not trillions), exactly how production BPE trainers work:
  * pair statistics are weighted by word frequency, never recomputed
  * from raw text. Each merge iteration is a couple of window passes
  * plus a vocabulary-keyed aggregation over that small table, with a
  * lineage-truncation barrier per iteration (reliable `checkpoint()`
  * when a checkpoint dir is configured — the 100 TB mode — else
  * `localCheckpoint`, same policy as [[DedupPipeline]]). Without the
  * barrier the symbol table is referenced twice per iteration and the
  * logical plan doubles every merge — exponential in merge count
  * (measured: the equivalent DuckDB CTE chain without MATERIALIZED
  * never finished 8 iterations on 500 docs).
  *
  * Merge-application semantics are the standard greedy
  * left-to-right non-overlapping pass. Overlapping candidates only
  * arise in equal-symbol runs (a candidate at pos p and p+1 forces
  * left = right); greediness is expressed relationally as
  * gaps-and-islands: consecutive candidate positions form an island,
  * and a candidate is APPLIED iff its offset within the island is
  * even. Deterministic tie-break on pair choice: max count, then
  * lexicographic (left, right) — so results are reproducible
  * cross-engine and the DuckDB oracle can replay training exactly.
  */
object Bpe {
  import DedupPipeline.barrier

  /** Default merge count for the registered queries. Small because
    * the oracle unrolls one CTE block per merge; the Spark loop takes
    * any count.
    */
  val Merges = 8

  /** (word, freq) over the whitespace-split lowercased corpus — the
    * single corpus-scale aggregation.
    */
  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Run `merges` BPE iterations. Returns (chosen merges in order,
    * final per-word symbol table). Each element of the first seq is a
    * 1-row frame (l, r, c); the symbol table is (word, freq, pos,
    * sym).
    */
  def learn(docs: DataFrame, merges: Int = Merges,
      textCol: String = "text"): (Seq[DataFrame], DataFrame) = {
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var syms = barrier(
      wordFreq(docs, textCol)
        .select(col("word"), col("freq"),
          explode(sequence(lit(1), length(col("word")))).as("pos"))
        .withColumn("sym", col("word").substr(col("pos"), lit(1))))
    val chosen = Seq.newBuilder[DataFrame]
    var exhausted = false
    for (_ <- 1 to merges if !exhausted) {
      val pairs = syms
        .select(col("freq"), col("sym").as("l"),
          lead(col("sym"), 1).over(wOrd).as("r"))
        .filter(col("r").isNotNull)
        .groupBy("l", "r").agg(sum(col("freq")).as("c"))
      // deterministic argmax: TakeOrderedAndProject over the
      // vocabulary-sized pair table, never a full sort
      val m = barrier(pairs.orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1))
      // Pair table exhausted before `merges` iterations (every word is
      // a single symbol): stop at the last valid state. Joining the
      // empty argmax through would EMPTY the symbol table for all
      // remaining iterations. The check is a 1-row fetch of the frame
      // the barrier just materialized.
      if (m.isEmpty) exhausted = true
      else {
      chosen += m
      // Greedy left-to-right application. Overlapping candidates only
      // arise in equal-symbol runs; a candidate fires iff its offset
      // within the run is even. Run start comes from a RUNNING max of
      // the last non-candidate position (pos - prevNon odd ⟺ even
      // island offset) — every window here shares ONE partitioning
      // (word, ordered by pos), so an iteration pays a single
      // exchange and a few in-partition passes. The obvious
      // gaps-and-islands form (row_number over (word, cand), min over
      // (word, island)) costs two extra shuffles per merge — measured
      // as most of the learn() wall at the 64× blow-up.
      val next = syms
        .withColumn("nxt", lead(col("sym"), 1).over(wOrd))
        .crossJoin(broadcast(m))
        .withColumn("cand",
          col("sym") === col("l") &&
            coalesce(col("nxt") === col("r"), lit(false)))
        .withColumn("prevNon",
          coalesce(max(when(!col("cand"), col("pos"))).over(wRun), lit(0)))
        .withColumn("act",
          col("cand") && (col("pos") - col("prevNon")) % 2 === 1)
        .withColumn("consumed",
          coalesce(lag(col("act"), 1).over(wOrd), lit(false)))
        .filter(!col("consumed"))
        .select(col("word"), col("freq"),
          row_number().over(wOrd).cast("int").as("pos"),
          when(col("act"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("sym"))
      syms = barrier(next)
      }
    }
    (chosen.result(), syms)
  }

  /** Session-scoped learned tokenizer, shared by the four BPE
    * registry entries (train/vocab/encode/fertility re-ran the same
    * 8-merge training per call — the rarity-stats rationale, §15.7).
    * Keyed by corpus dir, [[LearnMaxLive]] corpora live: a multi-corpus
    * driver alternating between snapshots (the SoakCheck A→B→A
    * pattern) must not retrain on every flip. The cached frames are
    * barrier outputs (checkpoint/localCheckpoint), already
    * materialized.
    */
  def cachedLearn(docs: => DataFrame, key: String): (Seq[DataFrame], DataFrame) = {
    val fs = graft.SessionCaches.cached("bpe", key, LearnMaxLive) {
      val (picked, words) = learn(docs)
      picked :+ words
    }
    (fs.init, fs.last)
  }

  private[graft] val LearnMaxLive = 4

  /** The learned merge list: (rank, left_sym, right_sym, pair_freq)
    * in application order — the artifact a tokenizer ships.
    */
  def trainReport(docs: DataFrame, merges: Int = Merges,
      textCol: String = "text"): DataFrame =
    trainReportFrom(docs, learn(docs, merges, textCol)._1)

  private[graft] def trainReportFrom(docs: DataFrame,
      picked: Seq[DataFrame]): DataFrame = {
    if (picked.isEmpty)
      // no mergeable pair anywhere (all words single-symbol) — empty
      // merge list with the artifact schema
      docs.sparkSession.range(0).select(col("id").cast("int").as("rank"),
        lit("").as("left_sym"), lit("").as("right_sym"),
        lit(0L).as("pair_freq"))
    else picked.zipWithIndex.map { case (m, i) =>
      m.select(lit(i + 1).as("rank"), col("l").as("left_sym"),
        col("r").as("right_sym"), col("c").as("pair_freq"))
    }.reduce(_.union(_))
  }

  /** The tokenizer vocabulary after the learned merges — the second
    * shipped artifact (with [[trainReport]]'s merge list): every
    * distinct final symbol with its corpus occurrence count
    * (token-weighted) and a deterministic id assigned by
    * (count desc, symbol asc). Vocabulary-sized throughout; the id
    * window runs over the aggregated symbol table, never the corpus.
    * `syms` is [[learn]]'s final symbol table.
    */
  private[graft] def vocabReportFrom(syms: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    syms.groupBy("sym").agg(sum(col("freq")).as("sym_freq"))
      .withColumn("token_id", row_number()
        .over(Window.orderBy(col("sym_freq").desc, col("sym")))
        .cast("int"))
      .select("token_id", "sym", "sym_freq")
  }

  /** Per-document token statistics under the learned merges:
    * (doc_id, n_words, n_chars, n_tokens). Encoding is per DISTINCT
    * word (symbols-per-word from the final symbol table) joined back
    * to per-(doc, word) counts — the corpus is never re-segmented.
    * The join back is left to AQE: the (doc, word) side is
    * corpus-sized (always above the broadcast threshold, so the
    * d_tfidf wrong-side trap cannot bite), and the vocabulary side
    * broadcasts while it fits, degrading to a shuffle join at sizes
    * where it doesn't — measured 2× cheaper than forcing
    * shuffle_hash at the 64× blow-up.
    */
  def encodeStats(docs: DataFrame, merges: Int = Merges,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    encodeStatsFrom(docs, learn(docs, merges, textCol)._2, textCol, idCol)

  private[graft] def encodeStatsFrom(docs: DataFrame, syms: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wt = syms.groupBy("word").agg(count(lit(1)).as("n_sym"))
    val dw = docs
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
    dw.join(wt, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * length(col("word"))).as("n_chars"),
        sum(col("n") * col("n_sym")).as("n_tokens"))
  }

  /** Per-language tokenizer fertility under the learned merges —
    * the standard multilingual-tokenizer evaluation (tokens per word
    * and characters per token by language; a language the vocabulary
    * under-serves shows high fertility, meaning its documents consume
    * disproportionate sequence length at training). All integers
    * (ppm ratios are exact integer DIVs of exact counts) → the oracle
    * replays training merge-for-merge and the per-language sums.
    *
    * Scale shape: ONE corpus explode collapsed map-side to
    * (lang, word) — per-language-vocabulary-sized, so the exchange
    * and the symbols-per-word join never carry corpus rows; the
    * output is one row per language. `syms` is [[learn]]'s final
    * symbol table.
    */
  private[graft] def fertilityFrom(docs: DataFrame, syms: DataFrame,
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val wt = syms.groupBy("word").agg(count(lit(1)).as("n_sym"))
    val lw = docs
      .select(col(langCol).as("lang"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    lw.join(wt, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * length(col("word"))).as("n_chars"),
        sum(col("n") * col("n_sym")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("n_tokens * CAST(1000000 AS BIGINT) div n_words")
          .as("fertility_ppm"),
        expr("n_chars * CAST(1000000 AS BIGINT) div n_tokens")
          .as("chars_per_token_ppm"))
  }
}
