package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Streaming perplexity filtering (SURVEY.md §2.4) — the deployment
  * shape of the CCNet bucket op (Wenzek et al. 2020): the LM and the
  * bucket boundaries are FIT OFFLINE on a reference corpus (exactly
  * the batch op's counts and tercile cuts), then every arriving
  * document is scored and tagged head/middle/tail STATELESSLY in the
  * micro-batch — no streaming aggregation, no state store, so memory
  * is bounded by the model, not the stream.
  *
  * The model is the premise, not a shortcut: a production perplexity
  * filter ships a fixed LM artifact to every worker (CCNet ships a
  * KenLM file); the vocab-sized count table is that artifact here.
  * [[fit]] guards the collect with an explicit vocab cap so an
  * unexpectedly unbounded vocabulary fails loudly instead of
  * silently OOM-ing the driver.
  *
  * Batch parity is exact by construction: scoring calls the SAME
  * native tokenization ([[graft.plans.NativeImpl.wordNgrams]] over
  * `UTF8String.toLowerCase`) and replays the batch op's integer
  * smoothing arithmetic ((coalesce(cf_ctx, c_tot, 1) · 10⁶) div
  * coalesce(cf, 1)) in Long math — StreamingQualitySpec pins
  * stream output == batch [[graft.operators.Retrieval.perplexityBucket]]
  * row-for-row.
  */
object StreamingQuality {

  /** The offline-fit artifact: bigram counts, context counts,
    * per-language totals, and per-language (b33, b67) tercile
    * boundaries — all exact integers from the batch op.
    */
  case class PerplexityModel(
      bi: Map[(String, String), Long],
      ctx: Map[(String, String), Long],
      tot: Map[String, Long],
      bounds: Map[String, (Long, Long)]) extends Serializable

  /** Fit the model on a reference corpus with the batch op's exact
    * pipeline: clean-slice bigram counts (collected — the model
    * artifact), ctx/tot derived locally from those counts (identical
    * integer sums), boundaries from the batch tercile computation.
    */
  def fit(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang",
      maxVocab: Long = 20L * 1000 * 1000): PerplexityModel = {
    val (scores, lm) =
      graft.operators.Retrieval.perplexityScoresWithLm(
        docs, textCol, idCol, langCol,
        graft.operators.Retrieval.perplexityScoreTableGate(docs))
    val nVocab = lm.count()
    require(nVocab <= maxVocab,
      s"perplexity LM vocab $nVocab exceeds the deployable-artifact cap " +
        s"$maxVocab — a streaming filter ships the model to every worker; " +
        "cap the training slice or raise maxVocab deliberately")
    val scored = scores.localCheckpoint() // bounds consumes it twice
    val bi = lm.select("lang", "bg", "cf").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    graft.operators.Retrieval.releasePerplexityLm(lm)
    // ctx/tot are pure integer sums of the collected counts — derived
    // locally so the artifact is self-consistent with the batch op
    val ctx = bi.groupMapReduce { case ((lang, bg), _) =>
      (lang, bg.substring(0, bg.indexOf(' '))) }(_._2)(_ + _)
    val tot = bi.groupMapReduce { case ((lang, _), _) => lang }(_._2)(_ + _)
    val bounds = graft.operators.Retrieval.perplexityBoundaries(scored)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    PerplexityModel(bi, ctx, tot, bounds)
  }

  /** Score + bucket a document stream against a fit model. Input
    * needs (doc_id, lang, text); output matches the batch op's
    * columns (doc_id, lang, n_bigrams, surprisal, ppl_proxy, bucket).
    * Stateless per row; docs with no bigrams, a null text/lang, or a
    * language absent from the boundaries are dropped — the same rows
    * the batch explode and inner boundary join drop.
    */
  def bucketStream(docs: DataFrame, model: PerplexityModel,
      textCol: String = "text", idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val in = docs.select(col(idCol).cast("long").as("doc_id"),
      col(langCol).as("lang"), col(textCol).as("text"))
    implicit val inEnc = Encoders.product[(java.lang.Long, String, String)]
    implicit val outEnc =
      Encoders.product[(Long, String, Long, Long, Long, String)]
    in.as[(java.lang.Long, String, String)].mapPartitions { it =>
      val m = bc.value
      it.flatMap { case (id, lang, text) =>
        if (id == null || lang == null || text == null) Iterator.empty
        else m.bounds.get(lang) match {
          case None => Iterator.empty
          case Some((b33, b67)) =>
            // the batch tokenization, bit-for-bit: the same native
            // word-bigram pass over the same UTF8String lowercasing
            val u = UTF8String.fromString(text).toLowerCase
            val bgs = graft.plans.NativeImpl.wordNgrams(u, 2)
            val n = bgs.numElements()
            if (n == 0) Iterator.empty
            else {
              var i = 0
              var surprisal = 0L
              while (i < n) {
                val bg = bgs.getUTF8String(i).toString
                val w1 = bg.substring(0, bg.indexOf(' '))
                val cfCtx = m.ctx.get((lang, w1))
                  .orElse(m.tot.get(lang)).getOrElse(1L)
                surprisal += cfCtx * 1000000L / m.bi.getOrElse((lang, bg), 1L)
                i += 1
              }
              val ppl = surprisal / n
              val gd = math.min(ppl, 100000000000L) / 1000000L
              val bucket =
                if (gd <= b33) "head" else if (gd <= b67) "middle" else "tail"
              Iterator((id.longValue(), lang, n.toLong, surprisal, ppl, bucket))
            }
        }
      }
    }.toDF("doc_id", "lang", "n_bigrams", "surprisal", "ppl_proxy", "bucket")
  }
}
