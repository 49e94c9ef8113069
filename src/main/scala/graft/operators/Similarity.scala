package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.3 #27).
  *
  * Baseline: brute-force cosine top-k — probes broadcast against the
  * corpus (BroadcastNestedLoopJoin), exact. Scale path: LSH-bucketed
  * — random-hyperplane signatures turn the cross product into an
  * equi-join on (bucket), trading recall for O(n·buckets) work; at
  * 100 TB the corpus side stays partitioned, never replicated.
  */
object Similarity {

  /** Exact top-k neighbors for each probe row. Ranking uses cosine
    * rounded to 1e-6 with vec_id as tiebreak so ordering is stable
    * across engines and float summation orders.
    */
  def bruteForceTopK(emb: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    // ZERO-NORM POLICY (every cosine-ranking entry point in this
    // file and IvfIndex): a zero vector (failed encode / padding row)
    // makes cos = 0/0 = NaN, and NaN sorts ABOVE every double in a
    // desc ranking — one such row would be the rank-1 neighbor of
    // EVERY probe (and inside BoundedTopK it is never evicted). It is
    // unrankable by definition, so it is excluded from both sides —
    // the benchArtifact precedent, now uniform.
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val probes = base.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("emb_p"), col("nrm").as("nrm_p"))
    val pairs = broadcast(probes)
      .join(base, col("probe_id") =!= col("vec_id"))
      .withColumn("cos",
        VectorFns.dot(col("emb_p"), col("embedding")) / (col("nrm_p") * col("nrm")))
    val w = Window.partitionBy("probe_id")
      .orderBy(round(col("cos"), 6).desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** Hard-negative mining for retrieval/embedding training (the
    * DPR/contrastive curation step between "have embeddings" and
    * "train a retriever"): for each probe, the k highest-cosine
    * corpus vectors that are (a) labeled DIFFERENTLY from the probe
    * (presumed non-relevant — random negatives are too easy, these
    * are the confusable ones the loss needs) and (b) below a
    * near-duplicate cosine ceiling (a same-content vector with a
    * different label is a mislabel, not a negative). Ordering and
    * the ceiling both run on the floor(cos·1e6 + 0.5) grid — integer
    * -valued doubles both engines compute identically — so the
    * DuckDB oracle replays selection-for-selection.
    *
    * Scale shape: the thin probe set broadcasts (probes ≪ corpus is
    * the op's premise), the corpus streams through ONE scan, and the
    * per-probe cut is the bounded-heap aggregate (map-side partial
    * heaps; the shuffle carries ≤ tasks×probes×k entries) — never a
    * probes×corpus rank-window sort. The negative's label rides
    * INSIDE the heap id (vec_id·16 + label) so no corpus re-join is
    * needed to recover it; for many-probe regimes swap the candidate
    * scan for [[graft.sources.IvfIndex]] probes — the exclusion and
    * heap stages are unchanged.
    */
  def hardNegatives(emb: DataFrame, probeFilter: Column, k: Int = 5,
      dupCutMicro: Long = 900000L): DataFrame = {
    val base = emb.select(col("vec_id"), col("label"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    val probes = base.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("label").as("label_p"),
        col("embedding").as("emb_p"), col("nrm").as("nrm_p"))
    // labels must fit the 4-bit pack (the premise: contrastive
    // class/domain labels, small-k). ENFORCED per row: a label
    // outside 0..15 would silently corrupt both the unpacked
    // neighbor_id and neg_label (label 16 reads back as vec_id+1,
    // label 0) — raise_error costs nothing on valid rows and names
    // the violation instead of shipping wrong training pairs
    val packed = when(col("label").between(0, 15),
        col("vec_id") * 16 + col("label").cast("long"))
      .otherwise(raise_error(concat(
        lit("hardNegatives: label "), col("label").cast("string"),
        lit(" is outside the 4-bit pack range 0..15"))).cast("long"))
    val cands = broadcast(probes)
      .join(base, col("probe_id") =!= col("vec_id")
        && col("label_p") =!= col("label"))
      .select(col("probe_id"),
        // cast: Catalyst floor() is LongType, the heap score is Double
        // (and DuckDB's floor() is DOUBLE — the cast IS the parity)
        gridKey(VectorFns.dot(col("emb_p"), col("embedding"))
          / (col("nrm_p") * col("nrm"))).cast("double").as("grid"),
        packed.as("packed"))
    // the dup ceiling rides INSIDE the heap score (-Inf sinks below
    // every finite grid; padding rows drop after the explode) rather
    // than as a pre-heap filter — a filter on grid is pushed into the
    // join CONDITION, where the float dot evaluates a second time for
    // the projection (the whole candidate scan paid the dot twice)
    val eligible = when(col("grid") < lit(dupCutMicro.toDouble), col("grid"))
      .otherwise(lit(Double.NegativeInfinity))
    cands.groupBy("probe_id")
      .agg(graft.plans.BoundedTopK.boundedTopK(
        eligible, col("packed"), k).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .filter(col("col.score") =!= lit(Double.NegativeInfinity))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rank"),
        shiftright(col("col.id"), 4).as("neighbor_id"),
        (col("col.id").bitwiseAND(15L)).cast("int").as("neg_label"),
        (col("col.score") / 1e6).as("cos6"))
  }

  /** Embedding-level decontamination screen — the SEMANTIC rung of
    * the decontamination ladder (after d_contamination_exact's string
    * n-grams, d_contamination's winnowing and d_bloom_decontam's
    * membership sketch): for every candidate vector, its
    * highest-cosine BENCHMARK vector and a contaminated flag at
    * `tauMicro` on the floor(cos·1e6+0.5) grid. Catches the
    * paraphrase/near-translation overlap a string join cannot — the
    * reason eval-hygiene pipelines run an embedding screen on top of
    * the n-gram one.
    *
    * The benchmark side is capped to a FIXED size (the `benchCap`
    * smallest qualifying vec_ids — TakeOrderedAndProject,
    * deterministic): a benchmark suite does not grow with the
    * training corpus, so it is collected once as a plan constant (the
    * d_bloom_decontam inlined-filter premise, embedding-shaped) and
    * the whole screen is ONE zero-shuffle narrow projection via a
    * native per-row argmax ([[graft.plans.native.benchArgmax]] — the
    * MatVecProject rule). The first form aggregated candidates×bench
    * join rows through max(struct(grid, −id)): a STRUCT aggregation
    * buffer is not hash-aggregable, the plan fell to SortAggregate,
    * and every candidate row was sorted per partition (6.7 GB spill /
    * 20.5 s of a 28 s wall at the 256× blow-up — measured, replaced).
    * Ties at equal grid break to the smaller bench_id (≡ the oracle's
    * ROW_NUMBER(grid DESC, bench_id)). ORACLE-BACKED end to end: grid
    * ranking plus one IEEE division for cos6.
    */
  def semanticDecontam(emb: DataFrame, candFilter: Column,
      benchFilter: Column, benchCap: Int = 256,
      tauMicro: Long = 400000L): DataFrame = {
    val art = benchArtifact(emb, benchFilter, benchCap)
    import art.{dim, flat, ids}
    // barrier the narrow kernel output BEFORE the total sort (the
    // perplexity checkpoint rule): a sort directly over the
    // exchange-free argmax projection makes RangePartitioner's
    // sampling pass re-run the whole scan+argmax lineage (measured:
    // two identical ~34 s stages at the 2048× blow-up), and sorting
    // the INPUT instead shuffles the fat embedding arrays (1 GB
    // exchange vs 68 MB of kernel output at 2048×). The eager
    // localCheckpoint runs the kernel ONCE and the sort samples the
    // checkpointed narrow rows. 2048×: 74.8 (double-eval) / 66.9
    // (input-sort) / 43.3 s (this form — the kernel stage once, 34.9 s).
    emb.filter(candFilter)
      .select(col("vec_id"), graft.plans.native.benchArgmax(
        col("embedding"), col("vec_id"), flat, ids, dim).as("sc"))
      .filter(col("sc.bench_id") >= 0)
      .select(col("vec_id"),
        col("sc.bench_id").as("bench_id"),
        (col("sc.grid") / 1e6).as("cos6"),
        (col("sc.grid") >= lit(tauMicro.toDouble)).as("contaminated"))
      .localCheckpoint()
      .orderBy("vec_id")
  }

  /** The offline-fit benchmark side of the semantic decontamination
    * screen, as a flat plan constant: row-major float matrix + the
    * matching vec_ids. Fixed-size by premise (a benchmark suite does
    * not grow with the training corpus), so shipping it inline to
    * every worker is the d_bloom_decontam artifact rule,
    * embedding-shaped — shared by the batch screen and the streaming
    * intake gate so both flag identical vectors by construction.
    */
  final case class BenchArtifact(flat: Array[Float], ids: Array[Long],
    dim: Int)

  /** Collect the capped benchmark slice into a [[BenchArtifact]].
    * ≤ benchCap rows — the bounded model-artifact fetch. Zero-norm
    * vectors are excluded BEFORE the cap (cosine against them is
    * NaN; the kernel and the oracle both define them away, and the
    * cap must count the same rows on both engines).
    */
  def benchArtifact(emb: DataFrame, benchFilter: Column,
      benchCap: Int = 256): BenchArtifact = {
    val bench = emb.filter(benchFilter)
      .filter(graft.functions.VectorFns.norm(col("embedding")) > 0)
      .orderBy("vec_id").limit(benchCap)
      .select("vec_id", "embedding").collect()
    val dim = bench.headOption.map(_.getSeq[Float](1).length).getOrElse(0)
    val flat = new Array[Float](bench.length * dim)
    val ids = new Array[Long](bench.length)
    bench.zipWithIndex.foreach { case (r, b) =>
      ids(b) = r.getLong(0)
      val v = r.getSeq[Float](1)
      var i = 0
      while (i < math.min(dim, v.length)) { flat(b * dim + i) = v(i); i += 1 }
    }
    BenchArtifact(flat, ids, dim)
  }

  /** Margin-based alignment mining (the LASER/CCMatrix bitext
    * criterion, Artetxe & Schwenk 2019, ratio form): for each probe
    * on side A, its best side-B match qualifies only if
    * cos(best) / cos(second-best) ≥ `marginMin` — absolute
    * thresholds admit hubs (vectors near everything); the margin
    * demands the best match be DISTINCTLY better than the
    * runner-up. The pair-mining step that turns two monolingual /
    * two-modality embedding pools into training pairs.
    *
    * Determinism: ranking runs on the floor(cos·1e6+0.5) grid; the
    * margin is ONE IEEE division of two integer-valued doubles —
    * bit-identical cross-engine, so the op is ORACLE-BACKED
    * including the margin values. Scale shape: the thin probe side
    * broadcasts, side B streams through one scan, the per-probe
    * top-2 is the bounded-heap aggregate; for corpus-sized probe
    * pools route candidates through [[graft.sources.IvfIndex]] as
    * [[hardNegativesIvf]] does.
    */
  def marginAlign(emb: DataFrame, probeFilter: Column, targetFilter: Column,
      marginMin: Double = 1.02, withStats: Boolean = false): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    val probes = base.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("emb_p"),
        col("nrm").as("nrm_p"))
    val targets = base.filter(targetFilter)
    val cands = broadcast(probes)
      .join(targets, col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"),
        gridKey(VectorFns.dot(col("emb_p"), col("embedding"))
          / (col("nrm_p") * col("nrm"))).cast("double").as("grid"),
        col("vec_id"))
    marginFromTop2(cands, marginMin, withStats)
  }

  /** Many-probe scale path for [[marginAlign]] (the CCMatrix regime —
    * global mining runs EVERY side-A sentence as a probe, so the
    * probe pool is corpus-sized and the brute-force scan is
    * quadratic): best/second-best candidates come from the persisted
    * IVF index (the session-scoped build d_ann_topk amortizes),
    * widened to `m` so the top-2 among TARGETS survives the
    * index's target-blind cut; the bounded candidate set re-joins
    * the target frame once (shuffle_hash build — the bounded-side
    * rule) to drop non-targets and recover exact grid scores, and
    * the margin runs on the same top-2 total order as the exact
    * form. Approximate (IVF recall < 1, and a probe whose top-2
    * targets straddle an unprobed cell can differ) → rows-only;
    * agreement vs [[marginAlign]] is spec-gated.
    */
  /** Margin-mining precision beats ANN-recall economy here: a plain
    * ANN miss returns a slightly-worse neighbor, but a margin-op miss
    * EMITS A WRONG PAIR as confidently-aligned (the mined pair trains
    * the model) — measured on the sf corpus at the ANN defaults
    * (nProbe=8): a probe whose true best sat outside the probed cells
    * shipped the runner-up as its partner. So this op doubles the
    * probe width (nProbe=16 — 2× the d_ann_topk default, ~2× the
    * candidate-scan stage) and draws k=32 candidates because the
    * shared index ranks ALL vectors pre-target-filter (k must cover
    * 2/target-fraction plus crowding slack). The agreement spec pins
    * zero false partners on the test corpus and recall ≥ 0.8; an
    * adversarial distribution can still hide the true best outside 16
    * cells — emitted pairs remain approximate, the documented IVF
    * trade. The planted-hub spec CONSTRUCTS that distribution (the
    * true best just across a cell bisector): a 1-cell probe cannot
    * emit the exact pair, and exhaustive probing recovers the exact
    * miner row-for-row, margins included.
    */
  /** `escalateNProbe > nProbe` turns on HEADROOM-AWARE PROBE
    * ESCALATION (the §17.3 deployment loop): emitted pairs whose
    * margin sits inside the low-headroom band
    * (< marginMin + `escalateEps`, default [[MarginHeadroomEps]])
    * are exactly the
    * threshold-flip class the drift drive measured — near-tie
    * re-rankings a missed cell can flip — so ONLY those probes
    * re-mine at the wider `escalateNProbe`, and the wider verdict
    * replaces theirs (confirm with real headroom, flip to the true
    * partner, or drop — all three raise emitted-set precision). The
    * escalated fraction bounds the extra cost: escFrac × (esc/base)
    * of one probe pass, vs 2× for running everything wide.
    * Deliberately precision-directed: probes that emitted NOTHING
    * stay unmined (in a CCMatrix-sized pool the non-emitting
    * majority would cost a full second pass), and a confidently-
    * wrong partner with a HEALTHY margin is not flagged — that class
    * is what the op's default probe width is for (measured on a
    * drifted-probe blow-up: cross-family falses only appear below
    * nProbe=16). Off (0) by
    * default — registered results unchanged.
    */
  def marginAlignIvf(emb: DataFrame, probeFilter: Column,
      targetFilter: Column, indexDir: String, marginMin: Double = 1.02,
      nProbe: Int = 16, m: Int = 32, withStats: Boolean = false,
      escalateNProbe: Int = 0,
      escalateEps: Double = MarginHeadroomEps): DataFrame = {
    val spark = emb.sparkSession
    // escalation off is 0 EXPLICITLY; a positive width at or below
    // the base nProbe would silently never escalate — refuse instead
    require(escalateNProbe == 0 || escalateNProbe > nProbe,
      s"escalateNProbe=$escalateNProbe must be 0 (off) or > nProbe=$nProbe")
    val targets = emb.filter(targetFilter)
      .select(col("vec_id"), col("embedding"),
        VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    val probes = emb.filter(probeFilter)
    val baseScored0 =
      ivfMarginScores(spark, probes, targets, indexDir, nProbe, m)
    if (escalateNProbe <= nProbe) {
      val base = marginFromTop2(baseScored0, marginMin)
      if (withStats) attachHeadroomStats(base, marginMin) else base
    } else {
      // ONE materialization of the scored base candidates (probe-
      // bounded: ≤ m rows per probe) feeds BOTH the base verdicts and
      // the escalated union. The index probe inside ivfMarginScores is
      // already checkpointed (IvfIndex.topK), but the targets re-join
      // downstream of it is CORPUS-sized — without this checkpoint the
      // union's re-read re-executes that join a second time, a
      // flag-count-independent cost that dominates escalation on
      // thin-probe/big-corpus shapes (r12 planted curve: esc/wide
      // ~1.5-1.7 at EVERY flag rate before; the re-join, not the
      // re-probe, was the wall)
      val baseScored = baseScored0.localCheckpoint()
      val base = marginFromTop2(baseScored, marginMin)
      // the base verdict is read twice (flag split + union) and feeds
      // the escalated probe semi join — checkpoint, not persist: the
      // emitted set is probe-bounded, and a persisted plan would
      // canonicalize across index rebuilds (the IvfIndex.topK rule)
      val b = base.localCheckpoint()
      // flagged is read three times (emptiness, semi join, anti
      // join) — but b is ALREADY materialized, so each consumer's
      // re-filter is a narrow scan of a bounded checkpointed frame;
      // a second checkpoint here bought nothing and cost one more
      // driver action (at sf scale the esc wall is per-job fixed
      // cost — 57 stages for 2.5 s of summed stage time, r11 profile)
      val flagged = b
        .filter(col("margin") < lit(marginMin + escalateEps))
        .select(col("probe_id"))
      // no flags → the wide verdict IS the base verdict: skip the
      // escalated probe pass entirely (on healthy geometry the loop
      // costs nothing beyond the flag filter)
      if (flagged.isEmpty)
        return if (withStats) attachHeadroomStats(b, marginMin) else b
      val escProbes = probes.join(
        flagged.withColumnRenamed("probe_id", "vec_id"),
        Seq("vec_id"), "left_semi")
      // INCREMENTAL re-probe: the escalated pass scans only the
      // cells the base selection did not cover (IvfIndex.topK's
      // excludeNProbe replays the base selection and array_excepts
      // it), and the flagged probes' BASE candidates re-enter the
      // top-2 through the union — candidate re-derivation off the
      // base pass's checkpointed pairs, no index rescan. Coverage is
      // a superset of a fresh escalateNProbe-wide scan; at 2048×
      // the fresh form's 171.6 s re-probe kernel halves.
      val escScored = ivfMarginScores(spark, escProbes, targets, indexDir,
        escalateNProbe, m, skipNProbe = nProbe)
      val esc = marginFromTop2(
        baseScored.join(flagged, Seq("probe_id"), "left_semi")
          .unionAll(escScored), marginMin)
      val out = b.join(flagged, Seq("probe_id"), "left_anti").unionAll(esc)
      if (withStats) attachHeadroomStats(out, marginMin) else out
    }
  }

  /** Shared IVF candidate-scoring pipeline of [[marginAlignIvf]]'s
    * base and escalated passes: index candidates for the given probe
    * FRAME, re-joined to the target frame once (shuffle_hash build —
    * the bounded-side rule) to drop non-targets and recover exact
    * grid scores on the same total order as the exact miner.
    */
  private def ivfMarginScores(spark: SparkSession, probes: DataFrame,
      targets: DataFrame, indexDir: String, nProbe: Int, m: Int,
      skipNProbe: Int = 0): DataFrame = {
    val candPairs = graft.sources.IvfIndex.topK(spark, indexDir,
        probes, k = m, nProbe = nProbe, excludeNProbe = skipNProbe)
      .select(col("probe_id"), col("neighbor_id"))
    val pframe = probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("emb_p"),
        VectorFns.norm(col("embedding")).as("nrm_p"))
    val withNbr = targets.join(candPairs.hint("shuffle_hash"),
        targets("vec_id") === candPairs("neighbor_id"))
      .select(col("probe_id"), col("vec_id"), col("embedding"), col("nrm"))
    withNbr.join(pframe.hint("shuffle_hash"), Seq("probe_id"))
      .select(col("probe_id"),
        gridKey(VectorFns.dot(col("emb_p"), col("embedding"))
          / (col("nrm_p") * col("nrm"))).cast("double").as("grid"),
        col("vec_id"))
  }

  /** Low-headroom epsilon for [[marginAlign]]'s companion stats: the
    * mined population is "low headroom" when its MEDIAN margin sits
    * within this distance of `marginMin` — most emitted pairs barely
    * clear the ratio test, the §16.5 tie-field signature (threshold
    * flips away from re-ranking noise, drifted probes, or a
    * template-family corpus), so the emitted set's precision is
    * fragile to any score perturbation. Calibration: the sf corpora
    * mine at p50 ≈ 1.126 vs marginMin 1.02 (headroom ≈ 0.106 — the
    * healthy regime has 2× this slack); a structured replica
    * blow-up's near-tie population sits under 1.03
    * (headroom < 0.01). 0.05 splits the two regimes mid-gap.
    */
  val MarginHeadroomEps = 0.05

  /** Shared tail of [[marginAlign]] / [[marginAlignIvf]]: per-probe
    * bounded top-2 over (grid, vec_id) rows, then the ratio-margin
    * cut — identical total order and IEEE division on both paths.
    *
    * `withStats` appends population columns over the EMITTED pairs —
    * `margin_p50`, `margin_p90`, `low_headroom` (p50 − marginMin <
    * [[MarginHeadroomEps]]) — as a 1-row broadcast attach (the
    * benign scalar crossJoin pattern), constant per frame. Off by
    * default: the registered oracle queries keep the bare schema,
    * and the stats pass re-aggregates the mined subtree (ReuseExchange
    * picks the shuffle up; the emitted set is probe-bounded).
    */
  private def marginFromTop2(scored: DataFrame, marginMin: Double,
      withStats: Boolean = false): DataFrame = {
    val top2 = scored.groupBy("probe_id")
      .agg(graft.plans.BoundedTopK.boundedTopK(
        col("grid"), col("vec_id"), 2).as("top"))
      .filter(size(col("top")) === 2)
    val mined = top2.select(col("probe_id"),
        col("top")(0).getField("id").as("match_id"),
        col("top")(0).getField("score").as("g1"),
        col("top")(1).getField("score").as("g2"))
      // the runner-up grid must be positive: a ratio over a
      // non-positive score is not a confidence margin
      .filter(col("g2") > 0 && col("g1") / col("g2") >= lit(marginMin))
      .select(col("probe_id"), col("match_id"),
        (col("g1") / 1e6).as("cos6"),
        (col("g1") / col("g2")).as("margin"))
    if (!withStats) mined else attachHeadroomStats(mined, marginMin)
  }

  /** The `withStats` companion attach, shared by the direct and the
    * escalated miners (the latter attaches over the POST-escalation
    * emitted set — the population the deployment trains on).
    * Sketched percentiles, not exact: the emitted set is ≤ one row
    * per probe, but the CCMatrix regime runs corpus-sized probe
    * pools and exact percentile buffers EVERY value in one
    * single-group aggregation buffer — approx_percentile's bounded
    * mergeable sketch holds at any scale, and a 1e-4 rank error is
    * noise against the 0.05 epsilon gap.
    */
  private def attachHeadroomStats(mined: DataFrame,
      marginMin: Double): DataFrame = {
    val stats = mined.agg(
        expr("approx_percentile(margin, 0.5, 10000)").as("margin_p50"),
        expr("approx_percentile(margin, 0.9, 10000)").as("margin_p90"))
      .select(col("margin_p50"), col("margin_p90"),
        (col("margin_p50") - lit(marginMin) <
          lit(MarginHeadroomEps)).as("low_headroom"))
    mined.crossJoin(broadcast(stats))
  }

  /** Many-probe scale path for [[hardNegatives]]: candidates come
    * from the persisted IVF index (build once, probe per batch — the
    * d_ann_topk amortization) with a widened cut `m = 4k + 16` so the
    * label exclusion still finds k differently-labeled survivors
    * (labels are roughly balanced by the op's premise; recall vs the
    * exact form is spec-gated). The index is label-free, so the
    * bounded candidate set re-joins the corpus ONCE (broadcast build
    * side = candidates) to recover labels and exact cosines; the
    * exclusion, ceiling and final cut all run on probes×m rows.
    * Approximate (IVF recall < 1) → rows-only.
    */
  def hardNegativesIvf(emb: DataFrame, probeFilter: Column, indexDir: String,
      k: Int = 5, nProbe: Int = 8, dupCutMicro: Long = 900000L): DataFrame = {
    val spark = emb.sparkSession
    val m = 4 * k + 16
    val candPairs = graft.sources.IvfIndex.topK(spark, indexDir,
        emb.filter(probeFilter), k = m, nProbe = nProbe)
      .select(col("probe_id"), col("neighbor_id"))
    val pframe = emb.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("label").as("label_p"),
        col("embedding").as("emb_p"), VectorFns.norm(col("embedding")).as("nrm_p"))
      .filter(col("nrm_p") > 0) // zero-norm policy, see bruteForceTopK
    val nframe = emb.select(col("vec_id"), col("label"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    // bounded sides are shuffle_hash BUILDS, never broadcasts: the
    // candidate set and the probe frame are "bounded" relative to the
    // corpus but grow with the probe batch — at the 1024× blow-up
    // (512k probes × m candidates, probe rows carrying float
    // vectors) a broadcast of either OOMs the driver-side exchange.
    // A shuffled hash build holds only per-partition slices; AQE's
    // runtime broadcast conversion still upgrades genuinely small
    // batches (candPairs is checkpoint-materialized by topK, so its
    // stats are accurate).
    val withNbr = nframe.join(candPairs.hint("shuffle_hash"),
        nframe("vec_id") === candPairs("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("label"),
        col("embedding"), col("nrm"))
    val scored = withNbr.join(pframe.hint("shuffle_hash"), Seq("probe_id"))
      .withColumn("grid",
        gridKey(VectorFns.dot(col("emb_p"), col("embedding"))
          / (col("nrm_p") * col("nrm"))).cast("double"))
      .filter(col("label_p") =!= col("label")
        && col("grid") < lit(dupCutMicro.toDouble))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("grid").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("label").as("neg_label"), (col("grid") / 1e6).as("cos6"))
  }

  /** Maximal-marginal-relevance diversification (Carbonell &
    * Goldstein 1998) of a dense top-N retrieval: greedily select k of
    * the N candidates by score = λ·rel(c) − μ·max_{s∈selected}
    * cos(c, s) (μ passed explicitly, never derived as 1−λ — IEEE
    * 1.0−0.7 is NOT 0.3, the Bm25K1Plus1 rule). The de-redundancy
    * re-rank every retrieval/curation stack runs between "nearest"
    * and "useful".
    *
    * Scale shape: candidate generation is the exact top-N per probe
    * (swap in the IVF index for many probes — the greedy only needs
    * SOME bounded candidate frame); everything after is bounded by
    * construction — collect_list gathers ≤ topN candidates per probe
    * (arrival-order independent: the greedy is a pure function of the
    * SET, ties broken on id), and the per-probe greedy is
    * O(k·topN·dim) local work distributed by probe. Nothing
    * corpus-sized crosses an operator boundary after the top-N cut.
    *
    * Determinism (oracle-exact): rel is the Catalyst float-dot cosine
    * (sequential accumulation — the list_inner_product order);
    * pairwise sims replay the identical loop in Scala; scores are
    * rounded to 6 via the same BigDecimal HALF_UP Spark's round()
    * applies, with id tie-breaks — so DuckDB's recursive-CTE greedy
    * replays selection-for-selection.
    */
  /** Candidate stage of [[mmrDiversify]], exposed for plan auditing
    * (the greedy runs behind an RDD boundary, so the registered
    * frame's executedPlan cannot show this stage): exact top-N per
    * probe, grouped to one bounded candidate list per probe.
    */
  def mmrCandidates(emb: DataFrame, probeFilter: Column,
      topN: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    val probes = base.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("emb_p"),
        col("nrm").as("nrm_p"))
    val pairs = broadcast(probes)
      .join(base, col("probe_id") =!= col("vec_id"))
      .withColumn("rel",
        VectorFns.dot(col("emb_p"), col("embedding")) / (col("nrm_p") * col("nrm")))
    val w = Window.partitionBy("probe_id")
      .orderBy(round(col("rel"), 6).desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
      .select(col("probe_id"), col("vec_id"), col("embedding"),
        col("nrm"), col("rel"))
      .groupBy("probe_id")
      .agg(collect_list(struct(col("vec_id"), col("embedding"),
        col("nrm"), col("rel"))).as("cands"))
  }

  def mmrDiversify(emb: DataFrame, probeFilter: Column, topN: Int = 20,
      k: Int = 8, lambdaRel: Double = 0.7, muDiv: Double = 0.3): DataFrame = {
    val grouped = mmrCandidates(emb, probeFilter, topN)
    val session = emb.sparkSession
    import session.implicits._
    val kk = k
    val lam = lambdaRel
    val mu = muDiv
    grouped.select(col("probe_id"), col("cands")).rdd.flatMap { row =>
      val probeId = row.getLong(0)
      val rs = row.getSeq[org.apache.spark.sql.Row](1)
      val ids = rs.map(_.getLong(0)).toArray
      val vecs = rs.map(_.getSeq[Float](1).toArray).toArray
      val nrms = rs.map(_.getDouble(2)).toArray
      val rels = rs.map(_.getDouble(3)).toArray
      val n = ids.length
      // pair sims on demand: the same sequential float→double
      // accumulation as the Catalyst dot (list_inner_product order)
      def sim(a: Int, b: Int): Double = {
        val x = vecs(a); val y = vecs(b)
        var acc = 0.0; var i = 0
        val len = math.min(x.length, y.length)
        while (i < len) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
        acc / (nrms(a) * nrms(b))
      }
      def rnd6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val selected = new scala.collection.mutable.ArrayBuffer[Int](kk)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)](kk)
      var step = 1
      while (step <= math.min(kk, n)) {
        var bestIdx = -1
        var bestScore = 0.0
        var c = 0
        while (c < n) {
          if (!selected.contains(c)) {
            var maxSim = 0.0
            var s = 0
            while (s < selected.length) {
              val v = sim(c, selected(s))
              if (s == 0 || v > maxSim) maxSim = v
              s += 1
            }
            val score = rnd6(lam * rels(c) - mu * maxSim)
            if (bestIdx < 0 || score > bestScore ||
                (score == bestScore && ids(c) < ids(bestIdx))) {
              bestIdx = c; bestScore = score
            }
          }
          c += 1
        }
        selected += bestIdx
        out += ((probeId, step, ids(bestIdx), bestScore))
        step += 1
      }
      out
    }.toDF("probe_id", "mmr_rank", "neighbor_id", "mmr")
  }

  /** LSH-bucketed ANN: candidates share a hyperplane-signature bucket;
    * exact cosine + top-k within candidates. Recall < 1, cost
    * O(candidates); multi-probe (nTables signatures) recovers recall.
    */
  def lshTopK(emb: DataFrame, probeFilter: Column, k: Int,
      bits: Int = 12, nTables: Int = 4): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    // nTables signatures per vector: table t uses planes [t*bits, (t+1)*bits)
    val bucketed = base.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array((0 until nTables).map { tbl =>
        struct(lit(tbl).as("tbl"), signatureForTable(col("embedding"), bits, tbl).as("sig"))
      }: _*)).as("b"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("b.tbl"), col("b.sig"))
    val probes = bucketed.filter(probeFilter)
      .select(col("tbl"), col("sig"), col("vec_id").as("probe_id"),
        col("embedding").as("emb_p"), col("nrm").as("nrm_p"))
    val cands = probes.join(bucketed, Seq("tbl", "sig"))
      .filter(col("probe_id") =!= col("vec_id"))
      .dropDuplicates("probe_id", "vec_id")
      .withColumn("cos",
        VectorFns.dot(col("emb_p"), col("embedding")) / (col("nrm_p") * col("nrm")))
    val w = Window.partitionBy("probe_id")
      .orderBy(gridKey(col("cos")).desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** Cell count for the KMeans-partitioned ops when the caller doesn't
    * pin one (`nCells = 0`): ~one cell per `targetCellSize` vectors,
    * floored at 16 (the small-corpus / spec regime — unchanged
    * behavior below 8k vectors) and capped at 1024 (KMeans fit cost
    * grows with k·sample·dim; past ~1k cells, raise targetCellSize
    * instead). Within-cell pair work is n·cellSize, so the auto rule
    * keeps the SemDeDup verify stage LINEAR in the corpus: at the 64×
    * blow-up (320k vectors) fixed 16 cells meant 20k-vector cells and
    * a 3.2G-pair verify (383 s measured); auto (640 cells) is ~25×
    * less work.
    */
  private def autoCells(n: Long, nCells: Int,
      targetCellSize: Int = 500, maxCells: Int = 1024): Int =
    if (nCells > 0) nCells
    else math.min(maxCells.toLong, math.max(16L, n / targetCellSize)).toInt

  /** The ivfTopK sizing + seeded fit, exposed for the persisted-index
    * build ([[graft.sources.IvfIndex]]) so index-then-probe
    * reproduces the self-contained op exactly.
    */
  private[graft] def cellsFor(n: Long, nCells: Int): Int = autoCells(n, nCells)
  private[graft] def fitKMeansOn(base: DataFrame, cells: Int, trainSample: Int)
      : org.apache.spark.ml.clustering.KMeansModel =
    fitKMeans(base, cells, trainSample, initMode = "random")

  /** The default (k-means||) seeded fit, exposed for the session
    * cell-assignment cache ([[graft.sources.CellAssignCache]]) so a
    * cached assignment reproduces the direct ops' fit exactly.
    */
  private[graft] def fitKMeansShared(base: DataFrame, cells: Int,
      trainSample: Int): org.apache.spark.ml.clustering.KMeansModel =
    fitKMeans(base, cells, trainSample)

  /** 1e-6-grid ranking key: floor(c·1e6 + 0.5) orders like
    * round(c, 6) away from bucket boundaries. The two are NOT
    * bit-identical at half-grid neighborhoods — c·1e6 is binary-double
    * arithmetic while Catalyst's Round goes through Double.toString
    * shortest-decimal — so near-tie candidates can bucket differently
    * in either direction; determinism is preserved regardless by the
    * vec_id tiebreak, and the key is used ONLY in rows-only
    * approximate paths (never under an oracle). The win: pure codegen
    * arithmetic, while
    * Catalyst's Round on double goes BigDecimal.valueOf →
    * Double.toString per evaluation (~1 µs; jstack'd under the
    * candidate-ranking window sort as most of d_ann_topk's wall).
    * Used in the rows-only approximate paths; the oracle-backed
    * brute-force twin keeps round() in lockstep with its SQL.
    */
  private def gridKey(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5))

  /** Deterministic KMeans fit shared by the cell-partitioned ops.
    * orderBy before limit => TakeOrderedAndProject: the training
    * sample (and thus the centroids) is deterministic across runs and
    * partitionings; sample scales with the cell count (≥20 points per
    * centroid). The shuffle-partitions-wide repartition spreads the
    * single-partition limit output so the fit's distance passes parallelize
    * (round-robin sorts before splitting — assignment deterministic),
    * and the PERSIST is load-bearing: KMeans runs ~15 jobs
    * (k-means|| init rounds + iterations) over its input, and an
    * uncached training frame re-derives the whole source pipeline —
    * scan, norms, vectorize, sort-limit — per job (jstack'd as the
    * d_ann_topk floor at the 64× blow-up: deep MapPartitionsRDD
    * recompute chains, 30+ s of the 39 s total).
    */
  private def fitKMeans(base: DataFrame, cells: Int, trainSample: Int,
      initMode: String = "k-means||") = {
    import org.apache.spark.ml.clustering.KMeans
    // ≥10 points per centroid and 5 iterations: the centroids only
    // PARTITION the space (cells for candidate generation) — recall
    // comes from nProbe / the verify, not from tight convergence, and
    // fit cost is k · sample · dim · iters through JVM BLAS
    // (DistanceMeasure.findClosest profiled as half of d_ann_topk's
    // wall at 10 iters / 20× sampling).
    val train = base.orderBy("vec_id")
      .limit(math.max(trainSample, 10 * cells))
      .repartition(base.sparkSession.sessionState.conf.numShufflePartitions)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      // initMode is caller-chosen: ivfTopK uses seeded RANDOM init
      // (k-means|| spends ~2 jobs per init step re-scanning the
      // sample — roughly half the fit wall at the 64× blow-up — and
      // IVF recall is carried by nProbe + the re-rank margin, gate
      // unchanged); semanticDedup keeps k-means|| because its recall
      // IS the cell quality (random init measurably dropped its
      // recall-vs-exact gate at spec scale).
      new KMeans().setK(cells).setSeed(42).setInitMode(initMode)
        .setMaxIter(5).setFeaturesCol("features").fit(train)
    finally train.unpersist()
  }

  /** Coarse level activates past this many cells: below, the probe
    * ranks every centroid exhaustively (bit-identical to the former
    * crossJoin + window selection); above, a second tiny quantizer
    * over the CENTROIDS bounds ranking work. sf-scale corpora sit far
    * below the threshold, so the oracle/spec regime is always the
    * exhaustive path.
    */
  private val CoarseCells = 256

  /** Driver-side Lloyd's over the cell centroids — the two-level
    * ("coarse") quantizer every large IVF index runs: ≤maxCells
    * points × dim floats is a driver-trivial problem (2048 × 64 =
    * 512 KB), and doing it here keeps the result deterministic (no
    * MLlib job scheduling, stride-seeded init over the already-seeded
    * centroid order). Returns (row-major flat super centroids,
    * cell → super assignment).
    */
  private[graft] def coarsen(cents: Array[Array[Float]], superCount: Int,
      iters: Int = 8): (Array[Float], Array[Int]) = {
    val n = cents.length
    val dim = if (n == 0) 0 else cents(0).length
    val k = math.max(1, math.min(superCount, n))
    val sup = Array.tabulate(k)(j => cents((j.toLong * n / k).toInt).map(_.toDouble))
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var c = 0
      while (c < n) {
        var best = 0; var bd = Double.MaxValue
        var s = 0
        while (s < k) {
          var acc = 0.0; var i = 0
          while (i < dim) {
            val d = cents(c)(i).toDouble - sup(s)(i); acc += d * d; i += 1
          }
          if (acc < bd) { bd = acc; best = s } // tie → lower super id
          s += 1
        }
        assign(c) = best; c += 1
      }
      val sums = Array.ofDim[Double](k, dim); val cnt = new Array[Int](k)
      var c2 = 0
      while (c2 < n) {
        val s = assign(c2); cnt(s) += 1
        var i = 0
        while (i < dim) { sums(s)(i) += cents(c2)(i); i += 1 }
        c2 += 1
      }
      var s2 = 0
      while (s2 < k) {
        if (cnt(s2) > 0) { // empty supers keep their center
          var i = 0
          while (i < dim) { sup(s2)(i) = sums(s2)(i) / cnt(s2); i += 1 }
        }
        s2 += 1
      }
      it += 1
    }
    val flat = new Array[Float](k * dim)
    var s3 = 0
    while (s3 < k) {
      var i = 0
      while (i < dim) { flat(s3 * dim + i) = sup(s3)(i).toFloat; i += 1 }
      s3 += 1
    }
    (flat, assign)
  }

  /** The probe→cell ranking shared by [[ivfScan]], [[labelPropagate]]
    * and [[graft.sources.IvfIndex]]: a ZERO-shuffle narrow projection
    * (native codegen'd [[graft.plans.native.IvfCellSelect]]) returning
    * each probe's nProbe nearest cells. The former form — crossJoin
    * the broadcast centroid table, rank with a row_number window —
    * shuffled probes × cells rows EACH CARRYING THE PROBE'S FLOAT
    * VECTOR through a probe-keyed sort (measured as d_label_prop's
    * 256× wall: 410k probes × 2048 cells ≈ 840M wide rows, 205.6 s).
    * Past [[CoarseCells]] cells the two-level quantizer cuts the
    * per-probe constant to ~(√(2·cells) supers + covered cells) evals;
    * `coarse = false` forces the exhaustive ranking (IvfIndex.append's
    * nearest-centroid ASSIGNMENT must stay exact, and the agreement
    * specs pin the exhaustive path ≡ the former window).
    */
  private[graft] def cellSelect(vec: Column, cents: Array[Array[Float]],
      nProbe: Int, coarse: Boolean = true): Column = {
    val (flat, supers, cellSuper, dim) = selectionArrays(cents, coarse)
    graft.plans.native.ivfCellSelect(vec, flat, supers, cellSuper, dim,
      nSuper = math.max(4, nProbe), nProbe = nProbe)
  }

  /** The flat centroid table + optional coarse level behind
    * [[cellSelect]] / the fused label-prop kernel.
    */
  private def selectionArrays(cents: Array[Array[Float]], coarse: Boolean)
      : (Array[Float], Array[Float], Array[Int], Int) = {
    val cells = cents.length
    val dim = if (cells == 0) 0 else cents(0).length
    val flat = new Array[Float](cells * dim)
    var c = 0
    while (c < cells) { System.arraycopy(cents(c), 0, flat, c * dim, dim); c += 1 }
    val (supers, cellSuper) =
      if (coarse && cells > CoarseCells)
        coarsen(cents, math.max(16, math.ceil(math.sqrt(cells * 2.0)).toInt))
      else (Array.empty[Float], Array.empty[Int])
    (flat, supers, cellSuper, dim)
  }

  /** IVF (inverted-file) ANN: partition the corpus into k Voronoi
    * cells via KMeans centroids trained on a sample; each probe scans
    * only its nProbe nearest cells. The classic trade: train once,
    * then candidate generation is an equi-join on cell id — corpus
    * stays partitioned by cell, probes replicate nProbe× (tiny side).
    * `nCells = 0` (default) derives the cell count from the corpus
    * size ([[autoCells]]) so per-probe scan cost stays ~constant as
    * the corpus grows.
    */
  def ivfTopK(emb: DataFrame, probeFilter: Column, k: Int,
      nCells: Int = 0, nProbe: Int = 4, trainSample: Int = 2000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession

    val base = emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
      .withColumn("features", array_to_vector(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sizing count runs on the just-persisted base, so it IS the
    // cache materialization pass (KMeans + assignment read the cached
    // blocks) — not an extra uncached source scan per invocation
    val cells = autoCells(base.count(), nCells)
    val model = fitKMeans(base, cells, trainSample, initMode = "random")
    // persist the ASSIGNED frame (it feeds the probe branch, the code
    // scan, and the re-rank join — unpersisted, each consumer re-runs
    // the KMeans assignment pass) and release the float base: after
    // this point every read is either codes or an id-keyed re-rank.
    val assigned = model.transform(base)
      .withColumnRenamed("prediction", "cell")
      .drop("features")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    base.unpersist()

    val probes = assigned.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("emb_p"),
        col("nrm").as("nrm_p"))
    val out = ivfScan(assigned, probes, model, k, nProbe)
      // materialize the probes×k result eagerly so the corpus-sized
      // assignment cache can be RELEASED before returning — repeated
      // ANN calls in a long-lived driver would otherwise each pin a
      // cached corpus (the bm25 unpersist rationale). The pinned
      // result is probes×k rows — probe-sized, not corpus-sized.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    assigned.unpersist()
    out
  }

  /** The IVF-SQ candidate scan + exact re-rank behind [[ivfTopK]] and
    * [[labelPropagate]]: `assigned` is the searchable corpus
    * ((vec_id, embedding, nrm, cell) + any carry columns, already
    * cell-assigned and persisted by the caller), `probes` is
    * (probe_id, emb_p, nrm_p) — NOT required to be a subset of the
    * corpus. Returns (probe_id, rank, neighbor_id, cos_r), lazily.
    */
  private def ivfScan(assigned: DataFrame, probes: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel, k: Int,
      nProbe: Int): DataFrame = {
    // probe → its nProbe nearest cells: one native per-row selection
    // ([[cellSelect]] — zero shuffle; the sq8 code/scale compute once
    // per probe row before the explode replicates them nProbe×)
    val centArr = model.clusterCenters.map(_.toArray.map(_.toFloat))
    val probeCells = probes.select(col("probe_id"),
      graft.plans.native.sq8Code(col("emb_p")).as("code_p"),
      graft.plans.native.sq8Scale(col("emb_p")).as("qs_p"),
      col("nrm_p"),
      explode(cellSelect(col("emb_p"), centArr, nProbe)).as("cell"))

    // IVF-SQ candidate scan (the FAISS IVF-SQ shape — the design a
    // 100 TB ANN index actually runs): the per-cell scan reads int8
    // CODES (1 byte/dim vs 4 for float32 — 4× less bandwidth) and
    // ranks by the integer-dot approximate cosine; only the top
    // `m = k + margin` survivors per probe are re-ranked with exact
    // float dots. The re-rank joins move probes×m rows — constant per
    // probe — while the float vectors stay OUT of the Σ(nProbe·cell)
    // candidate space entirely.
    //
    // The per-probe cut is a BOUNDED HEAP AGGREGATE, not a rank
    // window: a window must locally SORT every candidate row before
    // WindowGroupLimit can cut (measured as the d_ann_topk wall at
    // the 64× blow-up — the sort, not the dot), while the heap
    // aggregate consumes candidates unsorted in the same stage as the
    // join, keeps O(m) state per probe, and ships only tasks×probes×m
    // entries into the final merge.
    val codes = assigned.select(col("vec_id"), col("cell"),
      graft.plans.native.sq8Code(col("embedding")).as("code"),
      graft.plans.native.sq8Scale(col("embedding")).as("qs"),
      col("nrm"))
    val m = k + 16 // margin covers SQ8 rank jitter; recall spec-gated
    // BROADCAST the probe side explicitly: probeCells is probes×nProbe
    // rows of ~100 B (codes, not float vectors) — small by the IVF use
    // case (probe set ≪ corpus). Left to AQE, the tiny post-window
    // shuffle coalesces to ONE partition and Spark streams IT while
    // broadcasting the corpus codes — putting the whole Σ(nProbe·cell)
    // candidate scan on a single task (measured 13.5 s of a 16 s e2e
    // at the 64× blow-up). With the hint, the scan runs across the
    // cached code partitions and the heap partials stay map-side.
    // (broadcast DIRECTION follows which side is small by the op's
    // premise: ANN probes a thin probe set against a big corpus.
    // Label propagation inverts that premise — its scan is now the
    // fused LabelPropPredict kernel over a broadcast seed index, no
    // longer this join.)
    val survivors = codes.join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("qcos",
        col("qs_p") * col("qs")
          * graft.plans.native.byteDot(col("code_p"), col("code")).cast("double")
          / (col("nrm_p") * col("nrm")))
      .groupBy("probe_id")
      .agg(graft.plans.BoundedTopK.boundedTopK(col("qcos"), col("vec_id"), m).as("tops"))
      .select(col("probe_id"), explode(col("tops.id")).as("vec_id"))

    // exact re-rank of the survivors: float vectors re-join on ids
    val cands = survivors
      .join(probes, Seq("probe_id"))
      .join(assigned.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
      .withColumn("cos",
        graft.functions.VectorFns.dot(col("emb_p"), col("embedding"))
          / (col("nrm_p") * col("nrm")))
    val w = Window.partitionBy("probe_id")
      .orderBy(gridKey(col("cos")).desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  // ------------------------------------------- label propagation

  /** Semi-supervised label propagation (the training-data op behind
    * seed-based auto-labeling: expand a small hand-labeled /
    * high-confidence seed set over an unlabeled corpus): every
    * non-seed vector takes the MAJORITY label of its k nearest seeds
    * (ties → smaller label). Exact form — brute-force probe×seed
    * ranking, oracle-backed. O(probes·seeds): the correctness twin,
    * not the scale path; see [[labelPropagate]].
    */
  def labelPropagateExact(emb: DataFrame, seedFilter: Column,
      k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"), col("label"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    val seeds = base.filter(seedFilter)
      .select(col("vec_id").as("seed_id"), col("label").as("seed_label"),
        col("embedding").as("emb_s"), col("nrm").as("nrm_s"))
    val probes = base.filter(!seedFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("emb_p"),
        col("nrm").as("nrm_p"))
    // seeds broadcast: the seed set is the small side by the op's
    // premise (hand-labeled ≪ corpus); probes stream
    val ranked = probes.join(broadcast(seeds), col("probe_id") =!= col("seed_id"))
      .withColumn("cos",
        VectorFns.dot(col("emb_p"), col("emb_s")) / (col("nrm_p") * col("nrm_s")))
      .withColumn("rank", row_number().over(Window.partitionBy("probe_id")
        .orderBy(round(col("cos"), 6).desc, col("seed_id"))))
      .filter(col("rank") <= k)
    majorityVote(ranked.select(col("probe_id"), col("seed_label")))
  }

  /** The IVF scale path for label propagation: KMeans cells are fit
    * on the SEED set (the searchable corpus here — neighbors must be
    * seeds, so only seeds are indexed) and the ENTIRE
    * select-cells → scan → rank → vote pipeline is ONE native
    * expression per probe row over a broadcast per-cell seed index
    * ([[graft.plans.native.LabelPropPredict]], round 7) — the op is a
    * zero-shuffle narrow projection of the unlabeled corpus after the
    * fit. Sound at scale by the op's premise: the seed set is
    * hand-labeled ≪ corpus (it already BROADCAST as the r6 scan's
    * build side; collecting it driver-side to build the index is the
    * same memory class). History of the wall this replaces: 500-cell
    * probe-broadcast 74.0 s at 64× → 128-cell 53.4 → seed-broadcast
    * ivfScan 34.3 (r6) → native cell selection 27.1 (r7) → fused
    * kernel (this form). Rows-only (KMeans is engine-specific);
    * spec-gated on agreement with [[labelPropagateExact]], exact
    * equality when the scan is exhaustive.
    */
  def labelPropagate(emb: DataFrame, seedFilter: Column, k: Int = 5,
      nCells: Int = 0, nProbe: Int = 4, trainSample: Int = 2000,
      seedCap: Long = 262144L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val base = emb.select(col("vec_id"), col("label"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, see bruteForceTopK
    val seedBase = base.filter(seedFilter)
      .withColumn("features", array_to_vector(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sizing count doubles as the cache materialization (ivfTopK
    // rule); 128-vector cells (the knnGraph sizing) — the probe side
    // is the whole unlabeled corpus, so per-probe scan volume
    // (nProbe · cellSize vectors) is the direct per-probe cost
    val nSeeds = seedBase.count()
    require(nSeeds > 0, "labelPropagate needs a nonempty seed set")
    // Loud-failure guard on the driver collect below (the
    // StreamingQuality vocab-cap rule): the op's premise is
    // hand-labeled ≪ corpus, and the default cap is the documented
    // index envelope (targetCellSize 128 × maxCells 2048 = 262144
    // seeds ≈ 260 MB of packed float vecs at dim 256). The TRANSIENT
    // driver cost is the collect itself — a typed-encoder collect
    // (primitive Array[Float] payloads, ~dim·4 B + tuple overhead per
    // row) rather than boxed Rows, whose per-element Float boxing
    // measured ~5× the packed size and would make the cap's own
    // estimate wrong. A programmatic seed filter that matches a
    // corpus-sized slice must fail with an actionable message, not
    // OOM the driver.
    require(nSeeds <= seedCap,
      s"labelPropagate seed set has $nSeeds rows, above the seedCap " +
        s"$seedCap — the seed index is collected to the driver and " +
        "broadcast, so it must stay hand-labeled-sized; narrow the " +
        "seed filter or raise seedCap deliberately")
    val cells = autoCells(nSeeds, nCells, targetCellSize = 128,
      maxCells = 2048)
    val model = fitKMeans(seedBase, cells, trainSample, initMode = "random")
    // the assigned seed set collects driver-side into the per-cell
    // index (cell-grouped, id-ordered) and ships once per executor
    val rows = {
      val spark = emb.sparkSession
      import spark.implicits._
      model.transform(seedBase)
        .select(col("prediction").as("cell"), col("vec_id"), col("label"),
          col("embedding"), col("nrm"))
        .as[(Int, Long, Int, Array[Float], Double)]
        .collect()
        .sortBy(r => (r._1, r._2))
    }
    seedBase.unpersist()
    val centArr = model.clusterCenters.map(_.toArray.map(_.toFloat))
    val (flat, supers, cellSuper, dim) = selectionArrays(centArr, coarse = true)
    val n = rows.length
    val cellOff = new Array[Int](centArr.length + 1)
    val ids = new Array[Long](n); val labels = new Array[Int](n)
    val nrms = new Array[Double](n); val vecs = new Array[Float](n * dim)
    var i = 0
    while (i < n) {
      val r = rows(i)
      cellOff(r._1 + 1) += 1
      ids(i) = r._2; labels(i) = r._3
      nrms(i) = r._5
      val v = r._4
      var j = 0
      val dd = math.min(dim, v.length)
      while (j < dd) { vecs(i * dim + j) = v(j); j += 1 }
      i += 1
    }
    var c = 0
    while (c < centArr.length) { cellOff(c + 1) += cellOff(c); c += 1 }
    val bc = emb.sparkSession.sparkContext.broadcast(
      graft.plans.NativeImpl.SeedIndex(cellOff, ids, labels, nrms, vecs, dim))
    base.filter(!seedFilter)
      .select(col("vec_id"),
        graft.plans.native.labelPropPredict(col("embedding"), flat, supers,
          cellSuper, dim, math.max(4, nProbe), nProbe, k, bc).as("__p"))
      .select(col("vec_id"), col("__p.pred_label").as("pred_label"),
        col("__p.n_votes").as("n_votes"))
  }

  /** (probe_id, seed_label) votes → (vec_id, pred_label, n_votes):
    * the label with the most votes, ties to the SMALLER label so the
    * result is a pure function of the vote multiset.
    */
  private def majorityVote(votes: DataFrame): DataFrame =
    votes.groupBy("probe_id", "seed_label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("__vr", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("n_votes").desc, col("seed_label"))))
      .filter(col("__vr") === 1)
      .select(col("probe_id").as("vec_id"), col("seed_label").as("pred_label"),
        col("n_votes"))

  /** Hyperplane signature whose planes are offset per table (plane
    * index j + tbl·bits), so tables are independent.
    */
  private def signatureForTable(a: Column, bits: Int, tbl: Int): Column =
    graft.functions.VectorFns.hyperplaneSignature(a, bits, planeOffset = tbl * bits)

  /** Global per-dimension scalar quantization of the embedding column
    * to `levels` integer codes (the int8-class memory/bandwidth
    * reduction every large ANN index applies before search — 4× fewer
    * bytes than float32 at levels=256).
    *
    * Scale shape: the per-dimension (min, max) stats are ONE
    * posexplode pass whose groupBy key is the dimension index —
    * map-side partial aggregation collapses every task to `dim` rows,
    * so the shuffle moves O(dims × tasks), not O(rows). The dim-length
    * stat arrays then broadcast back over the corpus and quantization
    * is one native codegen pass per row (the HOF `transform`
    * formulation, kept below as the spec's reference, does an
    * interpreted element_at(stats, i) scan per element — O(dim²) per
    * row, measured 13.6 s vs sub-second at the 64× blow-up).
    *
    * Code q_i = floor(((x_i - mn_i) * levels) / (mx_i - mn_i)) clamped
    * to [0, levels-1], constant dimensions map to 0 — floor, not
    * round, so no half-way ties and every engine agrees bit-for-bit.
    */
  def scalarQuantize(emb: DataFrame, levels: Int = 256): DataFrame =
    quantizeWith(emb, levels) { (mns, mxs) =>
      graft.plans.native.scalarQuantizeCodes(col("embedding"), mns, mxs, levels)
    }

  /** Interpreted HOF formulation of [[scalarQuantize]] — the reference
    * implementation the native expression is property-tested against.
    */
  def scalarQuantizeHof(emb: DataFrame, levels: Int = 256): DataFrame =
    quantizeWith(emb, levels) { (mns, mxs) =>
      val lv = lit(levels.toDouble)
      transform(col("embedding"), (x, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        when(mx === mn, 0L).otherwise(
          least(floor((x.cast("double") - mn) * lv / (mx - mn)),
            lit((levels - 1).toLong)))
      })
    }

  private def quantizeWith(emb: DataFrame, levels: Int)(
      codes: (Column, Column) => Column): DataFrame = {
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    // dim-ordered stat arrays, built distributed (no driver collect):
    // array_sort over (dim, mn, mx) structs is total because dim is
    // unique, so the arrays are partitioning-invariant
    val statArrays = stats
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("s"))
      .select(transform(col("s"), x => x.getField("mn")).as("mns"),
        transform(col("s"), x => x.getField("mx")).as("mxs"))
    emb.crossJoin(broadcast(statArrays))
      .select(col("vec_id"), codes(col("mns"), col("mxs")).as("q"))
  }

  /** Per-label embedding-space outliers ("prototypicality" filtering —
    * the SemDeDup/D4 companion pass that drops mislabeled or
    * off-distribution items): rank each vector by cosine to its
    * label's centroid, lowest first; the bottom-k per label are the
    * outlier candidates.
    *
    * Determinism at scale: the centroid is built from INTEGER sums of
    * 1e-6-quantized components — floor(x·1e6) summed per (label, dim)
    * is an exact, order-independent integer aggregation (a float mean
    * would depend on partition order), and the integer mean m_i =
    * s div n is ≤ 2^24 so its float form is exact. Cosine to the
    * centroid is then the usual sequential-fold double dot.
    *
    * Scale shape: posexplode stats pass with map-side partials
    * (shuffle moves O(labels × dims × tasks)); the label→centroid
    * table broadcasts back; scoring is a narrow codegen map; bottom-k
    * per label is one window over the label partition.
    */
  def labelOutliers(emb: DataFrame, k: Int = 10): DataFrame = {
    val q = emb.select(col("vec_id"), col("label"), col("embedding"))
    val sums = q
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(floor(col("x").cast("double") * lit(1000000.0))).as("s"),
        count(lit(1)).as("n"))
    val cents = sums
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"),
        expr("s div n").as("m")))).as("ms"))
      .select(col("label"),
        transform(col("ms"), x => x.getField("m").cast("float")).as("m"))
    val scored = q.join(broadcast(cents), Seq("label"))
      .withColumn("cos",
        graft.functions.VectorFns.dot(col("embedding"), col("m"))
          / (graft.functions.VectorFns.norm(col("embedding"))
            * graft.functions.VectorFns.norm(col("m"))))
    val w = Window.partitionBy("label")
      .orderBy(round(col("cos"), 6).asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("vec_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023): cluster
    * the embeddings with KMeans, then WITHIN each cluster drop every
    * item whose cosine to a lower-id same-cluster item exceeds `tau`
    * — near-duplicate semantics captured by the embedding space, not
    * the text bytes, so paraphrases and template rewrites fall out
    * that minhash/simhash can't see.
    *
    * Scale shape: the pair space is Σ cluster², never n² — candidate
    * generation is the equi-join on the cluster id, exactly the IVF
    * partitioning [[ivfTopK]] uses (cells stay partitioned; nothing
    * replicates). The keep policy (drop iff a smaller-id near-dup
    * exists in your cluster) is one-sided and local, so it needs no
    * iterative component propagation — the documented SemDeDup trade:
    * recall bounded by the clustering (cross-cluster near-dups
    * survive), which the spec measures against the exact pair set.
    *
    * Returns (vec_id, cell, keep, rep_id): rep_id = the smallest-id
    * near-dup neighbor for dropped items, = vec_id for kept ones.
    *
    * The per-call assignment cache stays pinned until the (lazy,
    * corpus-sized) result is consumed — unlike ivfTopK the output is
    * as large as the input, so eager materialize-and-release would
    * just move the memory. Long-lived drivers running many semdedup
    * passes should `spark.catalog.clearCache()` between passes.
    */
  def semanticDedup(emb: DataFrame, tau: Double, nCells: Int = 0,
      trainSample: Int = 2000, cacheKey: Option[String] = None): DataFrame =
    cacheKey match {
      case Some(key) =>
        // session-cached assignment (the CellAssignCache lifecycle):
        // one fit per (corpus, params) per process; the read-back
        // reproduces the direct fit bit-for-bit (CellAssignSpec pins
        // it), and the flat local parquet replaces the in-query
        // persist — each of the three consumers below runs one pruned
        // columnar scan instead of pinning a corpus-sized cache.
        val cells = autoCells(emb.count(), nCells)
        val dir = graft.sources.CellAssignCache.dirFor(
          emb, key, cells, trainSample)
        semDedupFrom(graft.Tables.parquetWithCachedSchema(emb.sparkSession, dir)
          .select(col("vec_id"), col("cell"), col("embedding"), col("nrm")),
          tau)
      case None =>
        import org.apache.spark.ml.functions.array_to_vector
        val base = emb.select(col("vec_id"), col("embedding"),
          graft.functions.VectorFns.norm(col("embedding")).as("nrm"))
          .withColumn("features", array_to_vector(col("embedding")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // count-after-persist: sizing pass doubles as cache materialization
        val cells = autoCells(base.count(), nCells)
        val model = fitKMeans(base, cells, trainSample)
        // persist assignment (3 consumers below), release the float base
        val assigned = model.transform(base)
          .withColumnRenamed("prediction", "cell")
          .drop("features")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        assigned.count()
        base.unpersist()
        semDedupFrom(assigned, tau)
    }

  /** The semanticDedup pair scan + keep policy over a ready
    * (vec_id, cell, embedding, nrm) assignment — shared by the direct
    * (in-query fit) and session-cached paths.
    */
  private def semDedupFrom(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("cell").as("cell_a"), col("vec_id").as("rep_cand"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell").as("cell_b"), col("vec_id").as("vec_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    // id order AND the cosine cut ride the join condition (the
    // round-2 simhash lesson): the within-cell pair space evaluates
    // inside the codegen'd join stage and only true near-dup pairs
    // materialize/shuffle — Σ cell² pairs never become output rows.
    // RAW cosine, no round(): Spark's Round on double allocates a
    // BigDecimal per evaluation — fatal at Σ cell² pairs — and the
    // dot is a sequential fold, so the raw comparison is already
    // partitioning-deterministic. (The oracle-backed exact twins keep
    // round: their DuckDB SQL mirrors it term for term.)
    val dropped = a.join(b, col("cell_a") === col("cell_b")
        && col("rep_cand") < col("vec_id")
        && graft.functions.VectorFns.dot(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")) > tau)
      .groupBy(col("vec_id"))
      .agg(min(col("rep_cand")).as("rep_of_dropped"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("rep_of_dropped").isNull.as("keep"),
        coalesce(col("rep_of_dropped"), col("vec_id")).as("rep_id"))
  }

  /** Mutual k-NN graph over the embedding space — the input structure
    * of graph-based curation (connected-component semantic families,
    * label propagation, graph clustering). An edge (a, b) exists iff
    * b is in a's top-k cosine neighbors AND a is in b's — mutuality
    * prunes the hub vectors that plain kNN graphs over-connect.
    *
    * Blocked approximation, same shape as [[semanticDedup]]: KMeans
    * cells bound the pair space to Σ cell² (autoCells holds cell size
    * ~constant as n grows), neighbor candidates stay within a cell.
    * Per-vector top-k is the bounded-heap aggregate — the Σ cell²
    * candidate rows ship at most k entries per vector per task (a
    * rank window would sort the whole candidate space; the
    * d_ann_topk lesson). The mutuality check is one equi-join of the
    * n·k directed edge list against its own swap, shuffle_hash pinned
    * (both sides identical size — never let AQE broadcast a
    * corpus-order side).
    */
  def knnGraph(emb: DataFrame, k: Int = 4, nCells: Int = 0,
      trainSample: Int = 2000, subBits: Int = -1,
      cacheKey: Option[String] = None): DataFrame = {
    if (cacheKey.isDefined) {
      val n = emb.count()
      val cells = autoCells(n, nCells, targetCellSize = 128, maxCells = 2048)
      // exact mode (nCells = 1) has no fit to share — fall through
      if (cells > 1) {
        val useSubBits =
          if (subBits >= 0) subBits
          else math.max(0, (math.log(n.toDouble / cells / 128.0) /
            math.log(2.0)).ceil.toInt)
        // session-cached assignment: stored cell is the RAW KMeans
        // cell; the SRP sub-split is a narrow deterministic per-row
        // expression, re-applied on read — identical to the direct
        // path (CellAssignSpec pins the graph edge-for-edge)
        val dir = graft.sources.CellAssignCache.dirFor(emb, cacheKey.get,
          cells, math.max(trainSample, 4 * cells))
        val asn = graft.Tables.parquetWithCachedSchema(emb.sparkSession, dir)
          .withColumn("bcell",
            if (useSubBits <= 0) col("cell")
            else col("cell") * lit(1L << useSubBits) +
              graft.plans.native.hyperplaneSig(col("embedding"), useSubBits, 0))
        return knnGraphFrom(
          asn.select(col("vec_id"), col("embedding"), col("nrm")),
          asn.select(col("bcell").cast("long").as("cell"), col("vec_id"),
            col("code"), col("qs"), col("nrm")),
          exact = false, k, () => ())
      }
    }
    val base = emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFns.norm(col("embedding")).as("nrm"))
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    // Tighter cells than the ANN/semdedup default (128 vs 500): a
    // graph scan costs n·cellSize rows through the heap-aggregate
    // boundary (every vector scans its whole cell), so cell size is
    // the direct per-vector cost — 500-vector cells measured 64M
    // candidate rows and a 66 s aggregate stage at the 64× blow-up,
    // 4× the 128-cell form. The cap stays MODERATE (2048): KMeans
    // ASSIGNMENT is n·cells distance evals, so cells ∝ n uncapped is
    // the round-3 quadratic-by-parameter trap from the other side
    // (an 8192 cap measured 217 s at 256× — the assignment, not the
    // scan). Init stays k-means|| — like semanticDedup, the graph's
    // recall gate is carried by CELL QUALITY (a neighbor in the wrong
    // cell is unreachable at any margin); random init measurably
    // broke the recall-vs-exact spec. Train sample scales at 4 points
    // per centroid.
    val cells = autoCells(n, nCells, targetCellSize = 128, maxCells = 2048)
    // Second blocking level once the cell cap binds: past cap×128
    // vectors KMeans cell size grows with n, and the scan
    // (n·cellSize candidate rows through the heap-aggregate boundary)
    // turns quadratic/cap — measured as ONE 213 s stage at the 256×
    // blow-up while fit+assignment were 14 s. Oversized cells split
    // by a signed-random-projection signature
    // (bits = ⌈log₂(cellSize/128)⌉): SRP buckets correlate with
    // cosine, so near neighbors tend to share a bucket, and the
    // signature is a narrow per-row expression. Auto bits stay 0
    // until the cap binds (the recall spec forces subBits to exercise
    // the split at test scale).
    val useSubBits =
      if (subBits >= 0) subBits
      else if (cells <= 1) 0
      else math.max(0, (math.log(n.toDouble / cells / 128.0) /
        math.log(2.0)).ceil.toInt)
    // nCells = 1 disables blocking (exact kNN; MLlib requires k ≥ 2)
    val assigned = (if (cells <= 1) base.withColumn("cell", lit(0))
      else fitKMeans(base, cells, math.max(trainSample, 4 * cells))
        .transform(base)
        .withColumnRenamed("prediction", "cell"))
      .drop("features")
      .withColumn("cell",
        if (useSubBits <= 0) col("cell")
        else col("cell") * lit(1L << useSubBits) +
          graft.plans.native.hyperplaneSig(col("embedding"), useSubBits, 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    base.unpersist()
    // Within-cell candidate scan. Blocked mode reuses the IVF-SQ
    // recipe (the d_ann_topk 41→12 s lesson): the Σ cell² scan reads
    // int8 codes and ranks by integer dot, exact float dots re-rank
    // only the k+8 survivors per vector — the float vectors never
    // enter the quadratic candidate space. The exact (nCells = 1)
    // path scans float dots directly so "blocking disabled" means
    // exactly the brute-force graph (SQ8 margin jitter would not).
    knnGraphFrom(assigned, assigned.select(col("cell").cast("long"),
        col("vec_id"), graft.plans.native.sq8Code(col("embedding")),
        graft.plans.native.sq8Scale(col("embedding")), col("nrm")),
      exact = cells <= 1, k, () => { assigned.unpersist(): Unit })
  }

  /** knnGraph's candidate scan + mutual join over a ready assignment
    * — shared by the direct (in-query fit) and session-cached paths.
    * `assigned` holds (vec_id, [cell,] embedding, nrm) — cell only
    * consulted in exact mode; `codes` the (cell, vec_id, code, qs,
    * nrm) blocked-scan input; `release` drops the caller's assignment
    * pin once the directed edge list is materialized.
    */
  private def knnGraphFrom(assigned: DataFrame, codes: DataFrame,
      exact: Boolean, k: Int, release: () => Unit): DataFrame = {
    val emb2 = assigned.select(col("vec_id"), col("embedding"), col("nrm"))
    val directedRaw =
      if (exact) {
        val a = assigned.select(col("cell"), col("vec_id").as("src"),
          col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
        val b = assigned.select(col("cell"), col("vec_id").as("dst"),
          col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
        a.join(b, Seq("cell"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            (graft.functions.VectorFns.dot(col("emb_a"), col("emb_b"))
              / (col("nrm_a") * col("nrm_b"))).as("cos"))
          .groupBy("src")
          .agg(graft.plans.BoundedTopK.boundedTopK(col("cos"), col("dst"), k)
            .as("tops"))
          .select(col("src"), explode(col("tops")).as("t"))
          .select(col("src"), col("t.id").as("dst"), col("t.score").as("cos"))
      } else {
        val m = k + 8 // margin covers SQ8 rank jitter; recall spec-gated
        // The within-cell SQ8 scan as a SORTED CELL-RUN pass (round 7
        // — the sorted-run candgen pattern one level deeper): ONE
        // exchange co-locates each cell, an in-partition sort groups
        // it, and a tight per-cell loop computes every vector's top-m
        // by integer dot in primitive arrays. The former
        // self-join + BoundedTopK form materialized the Σ cell²
        // candidate rows through the join and paid the
        // TypedImperativeAggregate boundary (~1 µs/row) on every one;
        // here the quadratic work never leaves the loop. Same
        // survivor ordering ((qcos desc, dst asc) — the BoundedTopK
        // total order), exact float re-rank downstream unchanged.
        val spark0 = assigned.sparkSession
        import spark0.implicits._
        val survivors = codes
          .as[(Long, Long, Array[Byte], Double, Double)]
          .repartition(col("cell"))
          .sortWithinPartitions("cell")
          .mapPartitions(it => cellRunTopM(it, m))
          .toDF("src", "dst")
        val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
        survivors
          .join(emb2.select(col("vec_id").as("src"),
            col("embedding").as("emb_a"), col("nrm").as("nrm_a")), Seq("src"))
          .join(emb2.select(col("vec_id").as("dst"),
            col("embedding").as("emb_b"), col("nrm").as("nrm_b")), Seq("dst"))
          .withColumn("cos",
            graft.functions.VectorFns.dot(col("emb_a"), col("emb_b"))
              / (col("nrm_a") * col("nrm_b")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("src"), col("dst"), col("cos"))
      }
    // materialize the n·k directed edges ONCE before the mutual
    // self-join — its two legs would otherwise each re-run the whole
    // cell scan (the componentLabels double-execution lesson;
    // measured as 2× the knn-graph wall at the 64× blow-up). The
    // pinned frame is n·k rows; the corpus-sized assignment cache is
    // released here.
    val directed = directedRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    directed.count()
    release()
    directed.as("x")
      .join(directed.as("y").hint("shuffle_hash"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src")
          && col("x.src") < col("x.dst"))
      .select(col("x.src").as("vec_a"), col("x.dst").as("vec_b"),
        col("x.cos").as("cos"))
  }

  /** Per-cell top-m scan over sorted cell runs (the knnGraph blocked
    * path): buffers one cell's (id, code, scale, norm) rows, then for
    * every vector ranks its cell-mates by the SQ8 integer-dot cosine
    * — (qcos desc, id asc), the BoundedTopK total order — and emits
    * (src, dst) survivor pairs. Quadratic work stays in primitive
    * arrays inside the loop; nothing quadratic crosses an operator
    * boundary. Cell size is bounded by design (autoCells + the SRP
    * sub-split), so the buffer is ~hundreds of rows.
    */
  private def cellRunTopM(it: Iterator[(Long, Long, Array[Byte], Double, Double)],
      m: Int): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      private val codes = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      private val qs = new scala.collection.mutable.ArrayBuffer[Double]()
      private val nrms = new scala.collection.mutable.ArrayBuffer[Double]()
      private var runCell = 0L
      private var out: Iterator[(Long, Long)] = Iterator.empty

      private def flush(): Iterator[(Long, Long)] = {
        val n = ids.length
        if (n < 2) { clearRun(); return Iterator.empty }
        val res = new scala.collection.mutable.ArrayBuffer[(Long, Long)](n * math.min(m, n - 1))
        val bs = new Array[Double](m); val bi = new Array[Long](m)
        var i = 0
        while (i < n) {
          var sz = 0
          var j = 0
          while (j < n) {
            if (j != i) {
              val a = codes(i); val b = codes(j)
              val dd = math.min(a.length, b.length)
              var acc = 0L; var x = 0
              while (x < dd) { acc += a(x).toLong * b(x).toLong; x += 1 }
              val q = qs(i) * qs(j) * acc.toDouble / (nrms(i) * nrms(j))
              val id = ids(j)
              if (sz < m || q > bs(sz - 1)
                  || (q == bs(sz - 1) && id < bi(sz - 1))) {
                var p = if (sz < m) sz else m - 1
                while (p > 0 && (q > bs(p - 1)
                    || (q == bs(p - 1) && id < bi(p - 1)))) {
                  bs(p) = bs(p - 1); bi(p) = bi(p - 1); p -= 1
                }
                bs(p) = q; bi(p) = id
                if (sz < m) sz += 1
              }
            }
            j += 1
          }
          var e = 0
          while (e < sz) { res += ((ids(i), bi(e))); e += 1 }
          i += 1
        }
        clearRun()
        res.iterator
      }
      private def clearRun(): Unit = {
        ids.clear(); codes.clear(); qs.clear(); nrms.clear()
      }
      private def advance(): Unit = {
        while (!out.hasNext && (it.hasNext || ids.nonEmpty)) {
          if (!it.hasNext) out = flush()
          else {
            val (c, id, code, q, nr) = it.next()
            if (ids.isEmpty || c == runCell) {
              runCell = c; ids += id; codes += code; qs += q; nrms += nr
            } else {
              out = flush()
              runCell = c; ids += id; codes += code; qs += q; nrms += nr
            }
          }
        }
      }
      override def hasNext: Boolean = { advance(); out.hasNext }
      override def next(): (Long, Long) = { advance(); out.next() }
    }

  /** Probe-vs-codes top-m scan over sorted cell runs (the IvfIndex
    * big-probe path — [[cellRunTopM]]'s shape with two row kinds):
    * each run holds one cell's CODE rows (tag 0, sorted first) then
    * its PROBE rows (tag 1); codes buffer in primitive arrays, each
    * probe ranks the buffered cell by the SQ8 integer-dot cosine —
    * (qcos desc, id asc), the BoundedTopK total order — and emits
    * its per-cell top-m (probe, id, qcos) survivors. The
    * probes×cellSize candidate space never crosses an operator
    * boundary (the ~1 µs/row TypedImperativeAggregate tax measured
    * as 392 s of the 475 s 1024× wall); only probes×nProbe×m
    * survivor rows leave the loop, and a cheap global per-probe heap
    * downstream reduces them to EXACTLY the broadcast path's
    * survivor set (per-cell top-m retains every global-top-m
    * member).
    */
  private[graft] def probeCellRunTopM(
      it: Iterator[(Long, Int, Long, Array[Byte], Double, Double)],
      m: Int): Iterator[(Long, Long, Double)] =
    new Iterator[(Long, Long, Double)] {
      private val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      private val codes = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      private val qs = new scala.collection.mutable.ArrayBuffer[Double]()
      private val nrms = new scala.collection.mutable.ArrayBuffer[Double]()
      private val out = new scala.collection.mutable.Queue[(Long, Long, Double)]()
      private var runCell = Long.MinValue
      private val bs = new Array[Double](m); private val bi = new Array[Long](m)

      private def scanProbe(pid: Long, code: Array[Byte], pq: Double,
          pn: Double): Unit = {
        val n = ids.length
        var sz = 0
        var j = 0
        while (j < n) {
          if (ids(j) != pid) {
            val b = codes(j)
            val dd = math.min(code.length, b.length)
            var acc = 0L; var x = 0
            while (x < dd) { acc += code(x).toLong * b(x).toLong; x += 1 }
            val q = pq * qs(j) * acc.toDouble / (pn * nrms(j))
            val id = ids(j)
            if (sz < m || q > bs(sz - 1)
                || (q == bs(sz - 1) && id < bi(sz - 1))) {
              var p = if (sz < m) sz else m - 1
              while (p > 0 && (q > bs(p - 1)
                  || (q == bs(p - 1) && id < bi(p - 1)))) {
                bs(p) = bs(p - 1); bi(p) = bi(p - 1); p -= 1
              }
              bs(p) = q; bi(p) = id
              if (sz < m) sz += 1
            }
          }
          j += 1
        }
        var e = 0
        while (e < sz) { out += ((pid, bi(e), bs(e))); e += 1 }
      }
      private def clearRun(): Unit = {
        ids.clear(); codes.clear(); qs.clear(); nrms.clear()
      }
      private def advance(): Unit = {
        while (out.isEmpty && it.hasNext) {
          val (c, tag, id, code, q, nr) = it.next()
          if (c != runCell) { clearRun(); runCell = c }
          if (tag == 0) { ids += id; codes += code; qs += q; nrms += nr }
          else scanProbe(id, code, q, nr)
        }
      }
      override def hasNext: Boolean = { advance(); out.nonEmpty }
      override def next(): (Long, Long, Double) = { advance(); out.dequeue() }
    }

  /** Cluster-level corpus report — the curation view behind
    * cluster-based data mixing (partition the corpus in embedding
    * space, then inspect/weight clusters): KMeans cells over the
    * embeddings, each cluster described by its size, token mass, and
    * top distinguishing terms by LIFT (cluster term share ÷ corpus
    * term share — corpus-common words demote themselves, no stopword
    * list needed).
    *
    * Scale shape: ONE token explode collapsed map-side to
    * per-(cell, term) counts before anything shuffles; corpus term
    * counts aggregate from those cell counts (never from instances);
    * totals broadcast back as one-row frames. The top-terms rank
    * window runs over the per-(cell, term) AGGREGATE (vocab-sized,
    * not instance-sized) with WindowGroupLimit partial limits.
    * Deterministic: seeded k-means||, lift ties broken by term.
    *
    * Returns (cell, n_docs, n_tokens, rank, term, lift) — topTerms
    * rows per cluster, rank 1 = most distinguishing.
    */
  def clusterTopics(emb: DataFrame, docs: DataFrame, nClusters: Int = 16,
      topTerms: Int = 5, trainSample: Int = 2000,
      textCol: String = "text", idCol: String = "doc_id",
      cacheKey: Option[String] = None): DataFrame = {
    val assigned = cacheKey match {
      case Some(key) =>
        // session-cached assignment: only (vec_id, cell) is read —
        // parquet column pruning skips the stored codes/embeddings
        val dir = graft.sources.CellAssignCache.dirFor(
          emb, key, nClusters, trainSample)
        graft.Tables.parquetWithCachedSchema(emb.sparkSession, dir)
          .select(col("vec_id"), col("cell"))
      case None =>
        import org.apache.spark.ml.functions.array_to_vector
        // the base carries nrm like the other cell-blocked ops even
        // though topics never use it: the pre-fit round-robin
        // repartition sorts FULL rows, so the training partitioning —
        // and with it the k-means|| outcome — depends on the row
        // shape; one shared shape keeps direct == session-cached
        // (CellAssignSpec) across all three consumers
        val base = emb.select(col("vec_id"), col("embedding"),
          graft.functions.VectorFns.norm(col("embedding")).as("nrm"))
          .withColumn("features", array_to_vector(col("embedding")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        base.count()
        // k-means|| init kept: measured no bench win from random init
        // here (the wall is MLlib job scheduling + the token explode,
        // not the init), and topic coherence benefits from better seeds
        val model = fitKMeans(base, nClusters, trainSample)
        // materialize the (tiny) assignment BEFORE releasing base:
        // transform is lazy, and an unpersisted base would make both
        // downstream consumers (cellTerms join, docsPerCell) re-run
        // the source scan + the n·cells assignment pass from scratch
        val out = model.transform(base)
          .select(col("vec_id"), col("prediction").as("cell"))
          .localCheckpoint()
        base.unpersist()
        out
    }
    // explicit-N repartition on the join key BEFORE the token explode:
    // when the assignment side is accurately small (the session-cached
    // parquet), AQE broadcasts it and the explode + partial aggregate
    // would otherwise ride the docs FILE SCAN — one task for the whole
    // corpus tokenization (measured 12.5 s of a 30 s first call at
    // sf0.1). The shuffle join needs this exchange at scale anyway;
    // the explicit partition count keeps AQE from coalescing it away.
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val cellTerms = docs
      .repartition(nPart, col(idCol))
      .join(assigned, col(idCol) === col("vec_id"))
      .select(col("cell"), explode(graft.functions.TextFns.words(
        lower(col(textCol)))).as("term"))
      .filter(length(col("term")) >= 3)
      .groupBy("cell", "term").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusTerms = cellTerms.groupBy("term")
      .agg(sum(col("cnt")).as("corpus_cnt"))
    val cellTotals = cellTerms.groupBy("cell")
      .agg(sum(col("cnt")).as("cell_tokens"))
    val corpusTotal = cellTerms.agg(sum(col("cnt")).as("corpus_tokens"))
    val docsPerCell = assigned.groupBy("cell").agg(count(lit(1)).as("n_docs"))
    val lifted = cellTerms
      .join(corpusTerms.hint("shuffle_hash"), Seq("term"))
      .join(broadcast(cellTotals), Seq("cell"))
      .crossJoin(broadcast(corpusTotal))
      .withColumn("lift",
        (col("cnt").cast("double") / col("cell_tokens").cast("double"))
          / (col("corpus_cnt").cast("double") / col("corpus_tokens").cast("double")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
      .orderBy(col("lift").desc, col("term"))
    val out = lifted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topTerms)
      .join(broadcast(docsPerCell), Seq("cell"))
      .select(col("cell"), col("n_docs"), col("cell_tokens").as("n_tokens"),
        col("rank"), col("term"), round(col("lift"), 4).as("lift"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // clusters×topTerms rows; release the vocab cache
    cellTerms.unpersist()
    out
  }
}
