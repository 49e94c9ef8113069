package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.TextAnalysis

/** Streaming corpus intake (SURVEY.md §2.4) — the continuous-ingestion
  * twin of the batch prep pipeline: quality gate → decontamination
  * gate → PII scrub → normalized exact dedup, as ONE streaming graph
  * over documents arriving with an event-time column.
  *
  * Everything before the dedup is stateless Column arithmetic (the
  * same TextAnalysis/TextFns expressions the batch ops use, so stream
  * and batch admit byte-identical documents); the only state is the
  * dedup key set, bounded by the watermark horizon — memory scales
  * with (arrival rate × allowed lateness), not stream length.
  *
  * The decontamination gate is the d_bloom_decontam scale path run
  * in-stream: the benchmark fingerprint bloom is fit OFFLINE
  * ([[graft.operators.TextAnalysis.benchmarkBloomBytes]] — the
  * StreamingQuality model rule: a fixed artifact ships to every
  * worker) and inlined as a literal; each arriving doc's winnowing
  * minima are membership-tested per row by one native kernel
  * ([[graft.plans.native.FingerprintOverlap]]: the minima stay a
  * primitive array, the bloom is deserialized once per expression, and
  * the gate's Filter and Project stay in whole-stage codegen — no
  * explode, no aggregation, no state), and docs whose maybe-overlap
  * ratio exceeds `maxOverlap` are rejected before they can enter the
  * corpus. One-sided error,
  * inherited from the bloom: a contaminated doc is NEVER admitted;
  * ~1% of clean docs may be over-rejected at the filter's designed FP
  * rate — the right side of that trade for eval hygiene.
  *
  * The SEMANTIC rung (d_semantic_decontam's streaming twin) follows
  * the same offline-fit rule: the capped benchmark embedding matrix
  * ships as a plan constant ([[graft.operators.Similarity
  * .benchArtifact]]) and each arriving doc's best benchmark cosine is
  * one stateless native argmax per row — the paraphrase overlap the
  * string rungs cannot see, gated before the corpus at the same
  * floor(cos·1e6+0.5) threshold as the batch screen.
  */
object StreamingIntake {

  private def prepared(docs: DataFrame, minQuality: Double,
      benchBloom: Option[Array[Byte]], maxOverlap: Double,
      fpK: Int, fpW: Int,
      semBench: Option[graft.operators.Similarity.BenchArtifact],
      semTauMicro: Long): DataFrame = {
    val q = docs
      .select(Seq(col("doc_id"), col("ts"), col("text"))
        ++ semBench.map(_ => col("embedding")).toSeq
        ++ TextAnalysis.quality(col("text")): _*)
      .filter(col("quality_score") >= minQuality)
    val gated = benchBloom match {
      // the per-row maybe-overlap ratio against the inlined bloom:
      // hits ÷ max(distinct winnowing minima, 1), one codegen'd kernel
      // call per evaluation, shared by the stream and the batch twin
      case Some(bytes) => q
        .withColumn("contam_ratio",
          round(graft.plans.native.fpOverlap(col("text"), lit(bytes), fpK, fpW), 6))
        .filter(col("contam_ratio") <= maxOverlap)
      case None => q
    }
    // the SEMANTIC rung of the decontamination ladder, in-stream
    // (SURVEY §2.4 / VERDICT r10 #4): the capped benchmark matrix is
    // an offline-fit plan constant (Similarity.benchArtifact — the
    // StreamingQuality model rule) and the per-row argmax is the same
    // stateless native projection the batch screen uses
    // (d_semantic_decontam's BenchArgmax kernel) — zero state, zero
    // shuffle, so the gate costs one narrow expression per doc. A doc
    // whose best benchmark cosine reaches `semTauMicro` on the
    // floor(cos·1e6+0.5) grid is rejected before it can enter the
    // corpus; the paraphrase/near-translation overlap the string
    // rungs (bloom fingerprints above) cannot see.
    val semGated = semBench match {
      // the kernel's self-id exclusion is for the BATCH screen, where
      // candidates and benchmark share one table and a vector must not
      // flag as its own contamination; a streamed doc's id lives in a
      // DIFFERENT id space than the benchmark suite, so an accidental
      // doc_id == bench vec_id collision must NOT grant a pass —
      // a sentinel id keeps the exclusion inert in-stream
      case Some(art) => gated
        .withColumn("__sc", graft.plans.native.benchArgmax(
          col("embedding"), lit(Long.MinValue), art.flat, art.ids, art.dim))
        // gate on the integer-valued grid itself (same comparison as
        // d_semantic_decontam's contaminated flag); a doc with no
        // benchmark match (empty artifact) is clean by definition.
        // POLICY for a null embedding (the argmax is null-safe, so
        // __sc is null): the doc CANNOT be semantically screened and
        // is ADMITTED — consistent with "no benchmark match is clean";
        // without the explicit isNull disjunct the null predicate
        // would silently REJECT it, indistinguishable from a genuine
        // contamination rejection
        .filter(col("__sc").isNull || col("__sc.bench_id") < 0 ||
          col("__sc.grid") < lit(semTauMicro.toDouble))
        // sem_cos6 is the downstream AUDIT column, so its three admit
        // shapes stay distinguishable: a real best-benchmark cosine;
        // -1 for "screened against an empty benchmark" (bench_id < 0);
        // NULL for "never screened at all" (no embedding — the
        // fail-open admit a curator may want to re-screen once the
        // embedding lands). Collapsing the last two onto one sentinel
        // would hide which admits bypassed the gate entirely.
        .withColumn("sem_cos6",
          when(col("__sc").isNull, lit(null).cast("double"))
            .when(col("__sc.bench_id") >= 0, col("__sc.grid") / 1e6)
            .otherwise(lit(-1.0)))
        .drop("__sc", "embedding")
      case None => gated
    }
    semGated
      // scrub before hashing: two docs differing only in their PII
      // spans are the same document after redaction
      .withColumn("clean_text", TextAnalysis.piiRedact(col("text")))
      .withColumn("dedup_key", md5(TextFns.normalize(col("clean_text"))))
  }

  private def outCols(benchBloom: Option[Array[Byte]],
      semBench: Option[graft.operators.Similarity.BenchArtifact])
      : Seq[String] =
    Seq("doc_id", "ts", "clean_text", "dedup_key", "quality_score") ++
      benchBloom.map(_ => "contam_ratio") ++
      semBench.map(_ => "sem_cos6")

  /** docs needs (doc_id, ts, text) — plus an `embedding` column when
    * `semBench` is supplied. Returns admitted documents with the
    * scrubbed text, dedup key and quality score (plus the
    * maybe-overlap ratio when a benchmark bloom is supplied, and the
    * best benchmark cosine when the semantic gate is on).
    */
  def intake(docs: DataFrame, minQuality: Double = 0.5,
      delay: String = "10 minutes",
      benchBloom: Option[Array[Byte]] = None, maxOverlap: Double = 0.5,
      fpK: Int = 20, fpW: Int = 8,
      semBench: Option[graft.operators.Similarity.BenchArtifact] = None,
      semTauMicro: Long = 400000L): DataFrame =
    prepared(docs, minQuality, benchBloom, maxOverlap, fpK, fpW,
        semBench, semTauMicro)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("dedup_key")
      .select(outCols(benchBloom, semBench).map(col): _*)

  /** Batch twin for parity tests: identical admit logic, batch dedup
    * keeps the FIRST doc per key in (ts, doc_id) order (streaming
    * keeps the first seen — same doc when the stream is in order).
    */
  def intakeBatch(docs: DataFrame, minQuality: Double = 0.5,
      benchBloom: Option[Array[Byte]] = None, maxOverlap: Double = 0.5,
      fpK: Int = 20, fpW: Int = 8,
      semBench: Option[graft.operators.Similarity.BenchArtifact] = None,
      semTauMicro: Long = 400000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dedup_key").orderBy(col("ts"), col("doc_id"))
    prepared(docs, minQuality, benchBloom, maxOverlap, fpK, fpW,
        semBench, semTauMicro)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(outCols(benchBloom, semBench).map(col): _*)
  }
}
