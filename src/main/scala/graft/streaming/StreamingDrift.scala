package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming corpus-drift monitor (SURVEY.md §2.4 #97) — the
  * deployment twin of [[graft.operators.TextAnalysis.corpusDrift]]:
  * the batch op compares two finished snapshots; an ingest pipeline
  * instead wants "is the crawl arriving RIGHT NOW still shaped like
  * the reference corpus?", per time window, while the stream runs.
  *
  * A REFERENCE unigram distribution is fit offline ([[fit]] — the
  * StreamingQuality model rule: the artifact is collected once under
  * an explicit vocab cap and broadcast, never aggregated in-stream).
  * Arriving documents are tokenized with the batch op's exact
  * tokenization, counted per tumbling event-time window AGAINST THE
  * REFERENCE VOCABULARY — an out-of-vocabulary term collapses into a
  * single OOV bucket, so per-window state is bounded by the MODEL
  * size regardless of stream cardinality (the heavyHitters
  * bounded-state rule, but exact here because the domain is the
  * frozen vocab). When the watermark closes a window the window's L1
  * drift vs the reference is emitted:
  *
  *   l1_ppm = Σ_{t ∈ vocab} |ppm_window(t) − ppm_ref(t)| + ppm_window(OOV)
  *
  * — all-integer (ppm = cnt·10⁶ div total), so the score is exact and
  * arrival-order-independent: counts are commutative sums over the
  * frozen vocab, no evictions, and the fold needs no within-batch
  * sort. The emitted row also names the biggest in-vocab mover
  * ((|Δppm| desc, term) — the batch report's ordering) so an alerting
  * consumer can say WHAT drifted, not just how much.
  *
  * State is keyed by window start and evicted by EventTimeTimeout at
  * window close + watermark (clamped to watermark + 1, as
  * EventStream.heavyHitters does): in-flight
  * windows × (vocab size + 2) longs, bounded for any stream length.
  */
object StreamingDrift {

  /** The offline-fit artifact: reference term → ppm share (integer,
    * cnt·10⁶ div total — the batch op's grid). Terms whose count
    * rounds to 0 ppm stay in the vocab: they still anchor OOV vs
    * in-vocab membership.
    */
  final case class DriftModel(ppm: Map[String, Long]) extends Serializable

  final case class DriftState(counts: Map[String, Long], oov: Long, n: Long)

  final case class WindowDrift(window_start: Timestamp, n_tokens: Long,
      oov_ppm: Long, l1_ppm: Long, top_term: String, top_d_ppm: Long)

  /** Fit the reference distribution on a batch corpus. The vocab cap
    * guards the collect — a streaming monitor ships the model to
    * every worker (the StreamingQuality.fit contract), so an
    * unexpectedly unbounded vocabulary fails loudly.
    */
  def fit(docs: DataFrame, textCol: String = "text",
      maxVocab: Long = 1000000L): DriftModel = {
    val vc = docs
      .select(explode(graft.functions.TextFns.words(
        lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val nVocab = vc.count()
    require(nVocab <= maxVocab,
      s"drift reference vocab $nVocab exceeds the deployable-artifact " +
        s"cap $maxVocab — cap the reference slice or raise maxVocab " +
        "deliberately")
    val rows = vc.collect().map(r => r.getString(0) -> r.getLong(1))
    val tot = math.max(rows.map(_._2).sum, 1L)
    DriftModel(rows.map { case (t, c) => t -> c * 1000000L / tot }.toMap)
  }

  /** Per-window drift of a document stream against a fit model. Input
    * needs (ts, text); output is one [[WindowDrift]] row per closed
    * window. Null texts are dropped; a window with no tokens emits
    * nothing (no state row ever forms).
    */
  def driftStream(docs: DataFrame, model: DriftModel,
      windowMinutes: Int = 60, delay: String = "10 minutes")
      : Dataset[WindowDrift] = {
    import docs.sparkSession.implicits._
    val windowMs = windowMinutes * 60000L
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs
      // the batch tokenization (explode(split(lower(text), ' '))) as
      // Column expressions BEFORE the watermark tag — a typed flatMap
      // here would drop the event-time column's watermark metadata
      // and EventTimeTimeout below would be rejected
      .select(col("ts"), explode(graft.functions.TextFns.words(
        lower(col("text")))).as("term"))
      .filter(col("ts").isNotNull)
      .withWatermark("ts", delay)
      .as[(Timestamp, String)]
      // floorDiv, not /: truncation toward zero would misassign
      // pre-epoch event times (backfills) to the window after them
      .groupByKey { case (t, _) => Math.floorDiv(t.getTime, windowMs) * windowMs }
      .flatMapGroupsWithState[DriftState, WindowDrift](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, rows: Iterator[(Timestamp, String)],
            state: GroupState[DriftState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(finishWindow(winStart, s, bc.value))
          } else {
            val m = bc.value
            val counts = scala.collection.mutable.HashMap[String, Long]()
            state.getOption.foreach(_.counts.foreach { case (k, v) =>
              counts(k) = v
            })
            var oov = state.getOption.map(_.oov).getOrElse(0L)
            var n = state.getOption.map(_.n).getOrElse(0L)
            rows.foreach { case (_, term) =>
              n += 1
              if (m.ppm.contains(term))
                counts(term) = counts.getOrElse(term, 0L) + 1L
              else oov += 1L
            }
            state.update(DriftState(counts.toMap, oov, n))
            state.setTimeoutTimestamp(math.max(winStart + windowMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** The window close: exact integer L1 over the FULL reference vocab
    * (absent terms contribute their whole reference share) plus the
    * OOV mass, and the deterministic biggest mover. Shared by the
    * stream and the spec's local replay.
    */
  private[graft] def finishWindow(winStart: Long, s: DriftState,
      m: DriftModel): WindowDrift = {
    val n = math.max(s.n, 1L)
    var l1 = 0L
    var topTerm = ""
    var topD = -1L
    m.ppm.foreach { case (term, refPpm) =>
      val wPpm = s.counts.getOrElse(term, 0L) * 1000000L / n
      val d = math.abs(wPpm - refPpm)
      l1 += d
      // (d desc, term asc) — the batch report's mover ordering
      if (d > topD || (d == topD && term < topTerm)) {
        topD = d; topTerm = term
      }
    }
    val oovPpm = s.oov * 1000000L / n
    WindowDrift(new Timestamp(winStart), s.n, oovPpm, l1 + oovPpm,
      topTerm, topD)
  }
}
