package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end corpus deduplication: exact + near-dup edges → connected
  * components → keep the min doc_id per component.
  *
  * Components use HashToMin-style min-label propagation: every round
  * each doc takes the min label among itself and its neighbors — one
  * shuffle per round, converges in O(log(component diameter)) rounds
  * (near-dup components are tiny in practice, so 2-3 rounds). This is
  * the scalable formulation: no driver-side graph, no O(n²) state,
  * every step an equi-join on doc_id.
  */
object DedupPipeline {

  /** Eager materialization barrier + lineage truncation for the
    * iterative ops. localCheckpoint blocks are executor-local and
    * non-replicated: fine on local[32], but on a cluster an executor
    * loss after truncation kills the job (lineage is gone). When a
    * reliable checkpoint dir is configured
    * (`sc.setCheckpointDir(hdfsPath)`), use `checkpoint()` instead —
    * blocks land on the cluster filesystem and survive executor loss,
    * the right mode for long iterative jobs at 100 TB. Mode is chosen
    * per call from the live session, so one binary serves both.
    */
  private[graft] def barrier(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** (doc_id, label=component representative) for every doc that
    * appears in an edge. Propagation runs over edge-touched vertices
    * only — duplicate components are a sliver of the corpus at any
    * scale, so each round's joins move |touched| rows, not |docs|;
    * untouched docs are their own representative (handled by the
    * caller's left join + coalesce).
    */
  def componentLabels(docs: DataFrame, edges: DataFrame,
      maxRounds: Int = 10): DataFrame = {
    // barrier (eager) the edge list FIRST: the undirected
    // union below reads it twice, and without a materialization the
    // whole edge-generation subtree (LSH bucket join + jaccard verify)
    // would execute once PER UNION LEG — measured as a 2× on the
    // entire dedup pipeline at the 64× blow-up.
    val e = barrier(edges)
    // undirected: propagate both ways
    val both = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // initialization IS the first propagation round: label(v) =
    // min(v, min neighbor) from one aggregation over the edge list —
    // star-shaped components (exact-dup groups, most LSH cliques)
    // converge here, so the loop only has to verify stability
    var labels = both
      .groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
      .transform(barrier) // truncate lineage at the loop entry
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val neighborMin = both
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nmin"))
      val stepped = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jump (label := label's label): halves the remaining
      // diameter each round => genuine O(log diameter) convergence,
      // not the O(diameter) of plain neighbor propagation. Every label
      // is a doc_id present in `stepped`, so the lookup is an
      // equi-join on the same key space.
      val jump = stepped.select(col("label").as("jkey"), col("doc_id"), col("old"))
        .join(stepped.select(col("doc_id").as("jkey"), col("label").as("jlabel")),
          Seq("jkey"), "left")
        .select(col("doc_id"), col("old"),
          least(col("jkey"), coalesce(col("jlabel"), col("jkey"))).as("label"))
      // barrier (eager) both materializes the round and
      // truncates the logical plan — without it the plan deepens every
      // round (planner blow-up + full recompute on executor loss).
      val next = barrier(jump
        .withColumn("chg", (col("label") =!= col("old")).cast("long"))
        .drop("old"))
      // convergence probe scans the just-checkpointed partitions —
      // no extra join against the previous labels, no recompute.
      // coalesce: sum over an EMPTY label set (no duplicate edges at
      // all) is NULL, which must read as converged, not NPE
      val changed = next.agg(coalesce(sum(col("chg")), lit(0L)))
        .head().getLong(0)
      labels = next.drop("chg")
      converged = changed == 0
      round += 1
    }
    both.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"componentLabels did not converge in $maxRounds rounds — " +
          "component diameter exceeds 2^rounds; raise maxRounds")
    labels
  }

  /** Duplicate edges from exact hash groups + minhash near-dups.
    *
    * Exact dedup runs FIRST and near-dup detection sees only one
    * representative per distinct text. This is load-bearing at scale:
    * identical texts have identical signatures, so an exact-dup group
    * of k copies (boilerplate pages are k=10⁴+ on web corpora) would
    * land k rows in the SAME bucket of every band — k²/2 candidate
    * pairs per band, a quadratic hot bucket no partitioning fixes.
    * Via the representative, the group contributes 1 row per band and
    * its members still join the component through their exact edge,
    * so componentLabels returns identical components either way.
    */
  def duplicateEdges(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // every doc in a hash group links to the group min (= representative).
    // Only (id, h) ride the window shuffle — text never does:
    // signatures still compute narrowly for ALL docs, and the copies
    // are excised from LSH banding by an ids-only anti join
    // (Dedup.minhashLsh excludeIds), so the extra copies cost linear
    // signature CPU instead of a text shuffle.
    val hashed = docs
      .select(col(idCol), md5(col(textCol)).as("h"))
      .withColumn("rep", min(idCol).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
    // barrier (exact edges are id pairs, tiny): both consumers
    // below — the union and the banding exclusion — read the
    // materialized result instead of re-running the window subtree,
    // and the anti join sees exact sizes so it broadcasts.
    val exact = hashed
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("doc_a"), col(idCol).as("doc_b"))
      .transform(barrier)
    val near = Dedup.minhashLsh(docs, textCol, idCol, threshold = threshold,
        excludeIds = Some(exact.select(col("doc_b"))))
      .select("doc_a", "doc_b")
    exact.union(near)
  }

  /** Cached bytes of one md5 hex-string row (32 chars + UTF8String
    * and column overhead).
    */
  private val Md5RowBytes = 48L

  /** Incremental dedup — the daily-ingest path: admit only the batch
    * docs that are not exact or near duplicates of the existing
    * corpus, then dedup within the batch. The corpus side costs ONE
    * linear pass (md5 + signatures + bands); the corpus×corpus pair
    * space never re-forms, which is the whole point at 100 TB — a
    * daily 0.1% batch costs 0.1% of a full re-dedup, not 100.1%.
    * Returns the surviving batch rows.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.8): DataFrame =
    // the estimate covers the rows actually cached: the shingle rows
    // plus the ~48 B/row __h md5 carry
    incrementalDedupWith(corpus, batch, textCol, idCol, threshold,
      Dedup.fatCacheGate(corpus, carryRowBytes = Md5RowBytes))

  /** [[incrementalDedup]] with the corpus-cache verdict passed in, so
    * specs run the slim arm at spec scale.
    */
  private[graft] def incrementalDedupWith(corpus: DataFrame,
      batch: DataFrame, textCol: String, idCol: String, threshold: Double,
      corpusFat: Boolean): DataFrame = {
    // persist FIRST: the signed frame feeds the size gate, banding
    // AND the verification join — without a barrier Catalyst
    // recomputes the signatures per branch (same reuse rule as
    // minhashLsh). The CORPUS cache is volume-gated like minhashLsh's
    // (r7, late): past the storage budget the shingle column drops
    // from the cache (disk-stored CachedBatches lose column pruning —
    // the 1024× cliff) and the verify side re-derives shingles from
    // corpus text, one linear scan. The BATCH cache stays fat
    // unconditionally: the batch is the increment — re-deriving it
    // would re-run the md5 anti join per consumer.
    val corpusCols =
      if (corpusFat) Seq("doc_id", "shingles", "buckets", "__h")
      else Seq("doc_id", "buckets", "__h")
    // md5 rides the SAME corpus pass as the signatures (carry column,
    // ~48 B/row on the cache): the exact-dup anti join below used to
    // re-scan the corpus TEXT from parquet just to recompute it — a
    // second full corpus read per ingest batch at 100 TB shape
    val corpusSigned = Dedup.minhashSignature(
        corpus.withColumn("__h", md5(col(textCol))), textCol, idCol,
        carry = Seq("__h"))
      .select(corpusCols.head, corpusCols.tail: _*) // sig pruned (r7 fusion)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // THE PRE-COUNT GATE (runtime-adaptive build side, VERDICT r5
    // #6): the corpus md5 SET is corpus-sized and an anti join
    // always BUILDS its right side — a broadcast dies at 256× (the
    // round-4 failure: compressed stats slip under the 64 MB
    // threshold) and a static shuffled hash build dies too (the
    // round-5 failure: AQE coalesces the factor-scaled partitions
    // and the per-partition hash relation — unspillable — blows the
    // heap). But a static merge hint taxes the DAILY path ~1.7× at
    // 64× for a cliff only giant corpora hit. So decide from the
    // corpus's ACTUAL row count (one count() against the frame we
    // persist anyway — it doubles as the cache materialization):
    // hash-build while the whole estimated relation fits one task's
    // budget, sort-merge beyond. ~120 B covers an UnsafeRow md5 hex
    // string plus LongToUnsafeRowMap entry overhead (measured shape,
    // not guessed: 1.28 M rows ≈ 150 MB relation at the 256× drive).
    val corpusRows = corpusSigned.count()
    def gate(df: DataFrame, estRelationBytes: Long): DataFrame =
      Dedup.sizeGate(df, estRelationBytes)
    // read off the persisted signed frame (materialized by the count
    // above) — not a fresh corpus text scan
    val corpusH = corpusSigned.select(col("__h")).distinct()
    val fresh = batch
      .withColumn("__h", md5(col(textCol)))
      .join(gate(corpusH, corpusRows * 120L), Seq("__h"), "left_anti")
      .drop("__h")
    val batchSigned = Dedup.minhashSignature(fresh, textCol, idCol)
      .select("doc_id", "shingles", "buckets") // sig pruned (r7 fusion)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // near vs corpus: batch bands × corpus bands — candidates always
    // pair a batch doc with a corpus doc, verified on exact jaccard.
    // (Identical bucketing to the batch path, so a pair found by a
    // full re-run is found here.) The BATCH band side is the build:
    // bounded by the increment, not the corpus — but "increment" is
    // relative (a backfill batch can be corpus-sized), so it passes
    // the same gate (Dedup.BandRowBytes per (id, band, bucket) row ×
    // 16 bands)
    // instead of trusting Catalyst's estimate — an unhinted version
    // of this join let AQE pick BROADCAST for the 2 M-row batch band
    // frame at 256× and died in the driver.
    // join on bucket ALONE (band is hashed into the bucket value —
    // same single-long-key argument as minhashLsh: a 2^-64 cross-band
    // collision only adds a candidate the jaccard verify rejects),
    // keeping the join on LongHashedRelation
    val batchRows = batchSigned.count()
    val cands = Dedup.bandedIds(corpusSigned)
      .select(col("bucket"), col("doc_id").as("c_id"))
      .join(gate(Dedup.bandedIds(batchSigned)
          .select(col("bucket"), col("doc_id").as("b_id")),
          batchRows * 16L * Dedup.BandRowBytes),
        Seq("bucket"))
      .select("b_id", "c_id")
      .dropDuplicates("b_id", "c_id")
      // persisted: feeds the corpus-doc prune below AND the verify
      // join (and the materialized pair dedup runs distributed — the
      // minhashLsh §15.15 rationale); released with the signed frames
      .persist(StorageLevel.MEMORY_AND_DISK)
    // verify-side prune (late r7, the minhashLsh recipe): only corpus
    // docs that collided with some batch doc need shingles — a sliver
    // of the corpus for a daily increment, which in slim-cache mode
    // also cuts the whole-corpus shingle re-derivation down to the
    // candidate set
    val candCorpus = cands.select(col("c_id")).distinct()
    val nCandCorpus = candCorpus.count()
    // verify joins follow minhashLsh's build-side rule, with the
    // batch shingle side through the same size gate (shingle rows
    // are text-heavy — ~800 B each); the CORPUS shingle frame is
    // never a hash build (unspillable SHJ build = the 256× OOM) —
    // sort-merge for that side, which spills instead of dying
    val corpusSh = if (corpusFat)
        corpusSigned.select(col("doc_id").as("c_id"),
          col("shingles").as("sh_c"))
      else corpus.select(col(idCol).as("c_id"),
        graft.functions.TextFns.wordShingles(lower(col(textCol)),
          Dedup.DefaultShingleK).as("sh_c"))
    val dupOfCorpus = cands
      .join(gate(batchSigned.select(col("doc_id").as("b_id"),
        col("shingles").as("sh_b")), batchRows * Dedup.ShingleRowBytes),
        "b_id")
      // pruned corpus side through the gate with the PRUNED count —
      // hash-build for normal increments, sort-merge when a backfill
      // makes the candidate corpus set genuinely large
      .join(gate(corpusSh.join(candCorpus, Seq("c_id"), "left_semi"),
        nCandCorpus * Dedup.ShingleRowBytes), "c_id")
      .filter(graft.functions.TextFns.jaccard(col("sh_b"), col("sh_c")) >= threshold)
      .select(col("b_id").as(idCol)).distinct()
    // barrier: the within-batch dedup below scans `admitted`
    // several times (hash window, signatures, final component join) —
    // without a materialization each scan re-runs the two anti joins
    // above. The admitted batch is the daily increment, small by
    // construction, so materializing it is cheap at any corpus size.
    val admitted = fresh.join(dupOfCorpus, Seq(idCol), "left_anti")
      .transform(barrier)
    // the eager checkpoint above is the last reader of the signed
    // frames; release them NOW — this op runs once per ingest batch in
    // a long-lived driver, and without the unpersist each invocation
    // would pin another corpus-sized cached frame until LRU thrashing
    corpusSigned.unpersist()
    batchSigned.unpersist()
    cands.unpersist()
    // finally: the batch can duplicate itself
    dedupedCorpus(admitted, threshold, textCol, idCol)
  }

  /** (doc_id, component) for EVERY document — untouched docs label
    * themselves. The full labeling behind [[dedupedCorpus]]'s kept
    * view; also feeds family-size reporting (d_dup_families).
    */
  def componentsOf(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val labels = componentLabels(docs,
        duplicateEdges(docs, threshold, textCol, idCol))
      .withColumnRenamed("doc_id", "doc_id_label")
    docs.join(labels, col(idCol) === col("doc_id_label"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("component"))
  }

  /** Session-scoped duplicate-component labels: FIVE registry queries
    * (d_dedup_corpus, d_dup_families, d_family_keep, d_leakage_split,
    * d_curation_ledger) consume the SAME default-parameter component
    * labeling of a corpus, and each paid the full minhash + CC loop
    * per call (~17 s of the 92 s sf0.1 sweep — the "compute the dup
    * graph once, reuse across reports" shape a production pipeline
    * runs). Keyed by corpus dir, [[ComponentsMaxLive]] corpora live;
    * the cached frame is a barrier of the one-row-per-doc
    * (doc_id, component) labels — the bounded cache class. A barrier,
    * not a bare localCheckpoint: executor-local blocks die with their
    * executor, and a long-lived driver on a real cluster reads this
    * frame across many later queries — the reliable-checkpoint route
    * (when a dir is configured) survives executor loss. Correctness
    * across corpus flips is exercised by SoakCheck (A→B→A checksums);
    * cached == direct is spec-pinned.
    */
  def cachedComponents(docs: => DataFrame, key: String): DataFrame =
    graft.SessionCaches.cached("components", key, ComponentsMaxLive)(
      Seq(barrier(componentsOf(docs)))).head

  private[graft] val ComponentsMaxLive = 4

  /** The kept corpus (one representative per duplicate component) plus
    * a `component` column for lineage.
    */
  def dedupedCorpus(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val labels = componentLabels(docs,
        duplicateEdges(docs, threshold, textCol, idCol))
      .withColumnRenamed("doc_id", "doc_id_label")
    docs.join(labels, col(idCol) === col("doc_id_label"), "left")
      .withColumn("component", coalesce(col("label"), col(idCol)))
      .filter(col(idCol) === col("component"))
      .drop("label", "doc_id_label")
  }
}
