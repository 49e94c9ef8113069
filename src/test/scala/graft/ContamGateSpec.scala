package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** The curation ledger's volume-gated contamination leg: the exact
  * 8-gram join below the gram budget (oracle-backed), the broadcast
  * bloom membership scan above it. The bloom leg shares the exact
  * leg's gram universe, so its error is ONE-SIDED — these tests pin
  * the containment at the hit level and at the ledger-flag level,
  * plus that the two gated plan shapes agree on every non-flag
  * column.
  */
class ContamGateSpec extends SparkSpec {

  private def docs = Tables(spark, sf).documents
  private def cand = docs.filter(col("source") =!= "src0")
  private def bench = docs.filter(col("source") === "src0")

  test("bloom n-gram leg is one-sided on the same gram universe") {
    val exact = TextAnalysis.ngramContamination(cand, bench)
      .select("doc_id", "n_ngrams", "n_hits").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val bloom = TextAnalysis.bloomNgramContamination(cand, bench)
      .select("doc_id", "n_ngrams", "n_maybe_hits").collect()
    assert(bloom.nonEmpty && bloom.length == exact.size)
    bloom.foreach { r =>
      val (nExact, hits) = exact(r.getLong(0))
      assert(r.getLong(1) == nExact,
        "both legs count the same distinct-gram universe")
      assert(r.getLong(2) >= hits, "might_contain can never miss a hit")
    }
  }

  private def runLedger(useBloom: Boolean) =
    graft.operators.LlmOps.curationLedger(docs, sf, useBloom).collect()

  test("default auto gate: exact at oracle scale, bloom past the fixed knee") {
    // sf-scale corpora sit far under the 2 GiB fixed knee on ANY JVM
    // (the gate keys on the corpus, not the live heap): exact leg
    assert(!graft.operators.LlmOps.contamGateUseBloom(docs),
      "oracle-scale corpus must take the exact 8-gram leg")
    // a stats-inflated frame (same rows, blow-up-scale plan stats via
    // an unexecuted crossJoin) crosses the knee: bloom leg. Only the
    // optimizer stats are read — nothing materializes here.
    val inflated = docs.crossJoin(
      spark.range(1L << 28).toDF("blowup_rep"))
    assert(graft.operators.LlmOps.contamGateUseBloom(inflated),
      "past-knee stats must take the broadcast-bloom leg")
  }

  test("ledger: gated paths identical off the flag; bloom flag contains exact") {
    val ex = runLedger(useBloom = false)
    val bl = runLedger(useBloom = true)
    assert(ex.length == bl.length && ex.nonEmpty)
    val exM = ex.map(r => r.getLong(0) -> r).toMap
    bl.foreach { rb =>
      val ra = exM(rb.getLong(0))
      // every column up to the contamination flag is path-independent
      (1 to 6).foreach(i => assert(ra.get(i) == rb.get(i)))
      val ce = ra.getBoolean(7); val cb = rb.getBoolean(7)
      assert(!ce || cb, "bloom may over-flag but never under-flag")
      // keep recomputes consistently from the bloom path's own flag
      assert(rb.getBoolean(8) ==
        (!rb.getBoolean(1) && rb.getBoolean(2) && !rb.getBoolean(6) && !cb))
    }
  }
}
