package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF-SQ index — the build-once / probe-many shape a real
  * ANN deployment runs at 100 TB (SURVEY §2.5). [[graft.operators.
  * Similarity.ivfTopK]] is the self-contained form: it fits KMeans,
  * assigns and SQ8-codes the corpus inside every query — right for a
  * one-shot, wasteful when the same corpus is probed repeatedly (the
  * index build is the expensive stage: assignment is n·cells·dim
  * flops). This splits it:
  *
  *  - [[build]] writes the index to a directory: `centroids.parquet`
  *    (cell → float centroid) and `codes.parquet` (vec_id, int8 code,
  *    SQ8 scale, norm, float embedding) PARTITIONED BY `cell` — so a
  *    probe's nProbe cells prune to nProbe DIRECTORIES at the file
  *    level (real PartitionFilters, spec-asserted), and a 1000-cell
  *    index probed at nProbe=4 reads 0.4% of the corpus per probe
  *    batch regardless of corpus size.
  *  - [[topK]] ranks cells for a probe batch against the broadcast
  *    centroid table, scans ONLY the probed cells' partitions through
  *    the same bounded-heap + exact-re-rank machinery as ivfTopK, and
  *    returns (probe_id, rank, neighbor_id, cos_r).
  *
  * The cell set read per batch is collected driver-side — bounded by
  * the CELL COUNT (≤ maxCells, thousands), never by probes or corpus,
  * so the isin() pushdown is scale-safe.
  */
object IvfIndex {

  /** Estimated in-memory bytes of one probeCells row (id 8 + sq8
    * code ≈ dim + qs 8 + nrm 8 + cell 4 + object overhead), used by
    * the topK probe-side broadcast gate. Conservative at 64-dim.
    */
  private val ProbeCellRowBytes = 200L

  /** Probe-density threshold of the broadcast probe path: when the
    * estimated candidate volume exceeds this multiple of the probed
    * codes slice, the scan runs the sorted cell-run KERNEL even when
    * the probe frame itself is broadcastable. The bytes gate alone
    * answers FEASIBILITY (can the probe frame broadcast?), not which
    * path is faster — every candidate row in the broadcast path
    * crosses the ~1 µs/row TypedImperativeAggregate boundary, while
    * the kernel pays a pinned-width EXCHANGE of the probed codes
    * slice and keeps the quadratic inside mapPartitions. Both costs
    * scale with the corpus, so the discriminant is their RATIO —
    * candidates / probed-slice rows, i.e. probes-per-probed-cell
    * density. Measured (min-of-2 per path, interleaved, r12):
    * ratio ≈ 10 (sf scale, 20 k candidates) = 0.8 vs
    * 0.8 s tie; ratio 40 (5.1 M) = 3.0 vs 2.8 s and (20.5 M) = 7.8
    * vs 6.1 s, mild kernel wins; ratio ≈ 112 (459 M over a 4.1 M
    * index) = broadcast 33.2 s vs kernel 14.6 s, 2.3×; ratio ≈ 312
    * (1.3 G over the same index) = broadcast 208.4 s vs kernel
    * 29.2 s, 7× — the kernel's win grows monotonically with the
    * ratio past the ≈10–40 tie band, so the knee is bracketed well
    * around this constant. The absolute-
    * volume form of this gate was measured WRONG on the other side:
    * a sparse escalation re-probe (12.8 k probe-cell rows over the
    * whole cell set, ratio ≈ 13) was forced onto the kernel and paid
    * the full corpus-slice exchange for a handful of probes —
    * esc/wide 1.65 at 9% flags. 24 sits between the measured tie
    * band and the first material win.
    *
    * The per-cell form needs NO size statistics: candidates =
    * Σ_cells probes(c)·rows(c) vs exchange = Σ_cells rows(c), and
    * with rows(c) ≈ avg both sides carry the same cell-size factor —
    * the ratio is just probe-cell rows per probed cell, known
    * exactly from the cellCounts job the probe pass already runs.
    */
  private val CandPerSliceRatio = 24L

  /** The topK probe-path gate: the broadcast path iff the probe-cell
    * rows fit one task's build budget AND the probe density (rows per
    * probed cell) stays under [[CandPerSliceRatio]]; else the sorted
    * cell-run kernel. Pure on the counts the probe pass collects, so
    * IvfIndexSpec pins both verdicts without a blow-up corpus.
    */
  private[graft] def thinProbeGate(probeCellRows: Long, probedCells: Int,
      buildBudgetBytes: Long): Boolean =
    probeCellRows * ProbeCellRowBytes < buildBudgetBytes &&
      probeCellRows < CandPerSliceRatio * math.max(1, probedCells)

  /** Precise rename via FileContext: unlike `FileSystem.rename`,
    * which on an EXISTING destination directory silently moves the
    * source INSIDE it (the HDFS/local move-into-dir semantic —
    * nesting a whole dataset under the index root instead of
    * failing), `FileContext.rename` without the OVERWRITE option
    * throws when the destination exists. Returns false exactly in
    * that destination-exists case; any other failure propagates. The
    * swap/heal renames below ride this so a racing peer's completed
    * rename can never be corrupted into a nested copy.
    */
  private[graft] def renameIfAbsent(
      conf: org.apache.hadoop.conf.Configuration,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(src.toUri, conf)
        .rename(src, dst)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      // local FS reports an existing dst through the generic message
      // path on some Hadoop builds — re-check, but only treat shapes
      // whose MESSAGE names an existence/rename failure as arbitration
      // loss; any other IOException with both paths present (e.g. a
      // permission failure) propagates instead of masquerading as
      // destination-exists (ADVICE r13: the swallowed cause surfaced
      // as compact's misleading 'old reappeared' error)
      case e: java.io.IOException =>
        val m = Option(e.getMessage).getOrElse("").toLowerCase
        val fs = dst.getFileSystem(conf)
        if ((m.contains("exist") || m.contains("rename")) &&
            fs.exists(dst) && fs.exists(src)) false
        else throw e
    }

  /** Restore a codes dataset stranded mid-[[compact]] swap: the swap
    * renames codes→old then staging→codes, so a crash between the two
    * leaves NO `codes.parquet` while the data sits intact in `.old` —
    * the index would be unprobeable until a human renamed it back.
    * Every entry point (probe, append, compact) checks and restores;
    * the check is two driver-side fs.exists calls when healthy. The
    * stranded staging dir (if any) is NOT promoted — it may be
    * incomplete, and the compaction that produced it re-runs cheaply —
    * compact deletes it before rebuilding.
    *
    * Concurrency: every competing rename here is [[renameIfAbsent]],
    * so races resolve by arbitration, never by nesting. Two healers:
    * the loser sees destination-exists and proceeds on the winner's
    * restore. A healer inside a LIVE cross-JVM compact's microsecond
    * swap window (indistinguishable from a crash by filesystem state
    * alone): whichever rename lands first wins the `codes.parquet`
    * slot and the other side backs off — if the healer wins, compact
    * aborts cleanly with the ORIGINAL index in place; if compact
    * wins, the healer sees destination-exists and the compacted index
    * stands (the stranded `.old` is reclaimed by compact's final
    * delete or the next pass). Single-maintainer deployments (the
    * streaming sink serializes compaction inside its micro-batch)
    * never hit the window at all.
    */
  private def healSwap(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val codes = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet")
    val fs = codes.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet.old")
    if (!fs.exists(codes) && fs.exists(old)) {
      val won =
        try renameIfAbsent(conf, old, codes)
        catch {
          // src vanished: a peer healer's rename took it — fine as
          // long as the slot is now filled
          case _: java.io.FileNotFoundException => false
        }
      if (!won && !fs.exists(codes))
        sys.error(s"healSwap: cannot restore $old to $codes")
      spark.catalog.refreshByPath(codes.toString)
    }
  }

  /** The centroid table, collected driver-side in cell order — cells
    * rows (≤ maxCells, thousands), a constant-size fetch at any
    * corpus scale; feeds the native per-probe cell selection. Held by
    * [[graft.ArtifactMeta]] per index generation: before that, EVERY
    * topK/append call paid two driver jobs for it (footer inference +
    * collect) — at sf scale the margin family's wall is per-JOB fixed
    * cost, not task time (the r11 profile). Centroids change only on
    * [[build]], so the signature of `centroids.parquet` marks a
    * rebuild from this or any other JVM.
    */
  private def readCentroids(spark: SparkSession,
      dir: String): Array[Array[Float]] = {
    val path = s"$dir/centroids.parquet"
    graft.ArtifactMeta.cached(spark, "centroids", path) {
      spark.read.parquet(path)
        .select("cell", "centroid").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2)
    }
  }

  /** The codes dataset relation with footer-schema inference paid at
    * most once per index GENERATION: the schema is fixed by
    * [[build]]/[[append]]'s written columns, and can only change on an
    * in-place rebuild — which rewrites `centroids.parquet`, so the
    * centroid signature is the invalidation key (an append adds files
    * but never alters the schema). The file LISTING is still fresh per
    * call (appends must be visible); only the footer-read job is
    * skipped.
    */
  private def readCodes(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/codes.parquet"
    spark.read.schema(graft.ArtifactMeta.cached(spark, "codes-schema", path,
      signedBy = s"$dir/centroids.parquet")(spark.read.parquet(path).schema))
      .parquet(path)
  }

  /** Fit + assign + code the corpus and write the index. Determinism:
    * same corpus + params → the same seeded KMeans fit ivfTopK runs,
    * so probing the index reproduces ivfTopK's results exactly
    * (spec-asserted).
    */
  def build(emb: DataFrame, dir: String, nCells: Int = 0,
      trainSample: Int = 2000): Unit = {
    import org.apache.spark.ml.functions.array_to_vector
    val base = emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFns.norm(col("embedding")).as("nrm"))
      // zero-norm vectors are unrankable (cosine NaN) and never enter
      // the index — Similarity.bruteForceTopK documents the policy
      .filter(col("nrm") > 0)
      .withColumn("features", array_to_vector(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist in finally: a failed fit/write must not leak the
    // corpus-sized cached frame for the process lifetime
    try {
      val cells = graft.operators.Similarity.cellsFor(base.count(), nCells)
      val model = graft.operators.Similarity.fitKMeansOn(base, cells, trainSample)
      base.sparkSession.createDataFrame(
          model.clusterCenters.zipWithIndex.map { case (c, i) =>
            (i, c.toArray.map(_.toFloat)) }.toSeq)
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
      model.transform(base)
        .withColumnRenamed("prediction", "cell")
        .select(col("cell"), col("vec_id"),
          graft.plans.native.sq8Code(col("embedding")).as("code"),
          graft.plans.native.sq8Scale(col("embedding")).as("qs"),
          col("nrm"), col("embedding"))
        // one file per cell directory: each cell is a contiguous,
        // independently-readable scan unit
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/codes.parquet")
    } finally base.unpersist()
    // a REBUILD under the same path must invalidate Spark's cached
    // file listings, or later probes read the previous build's
    // (now-deleted) file names (measured: FAILED_READ_FILE on the
    // second build in IvfIndexSpec)
    emb.sparkSession.catalog.refreshByPath(s"$dir/codes.parquet")
    emb.sparkSession.catalog.refreshByPath(s"$dir/centroids.parquet")
  }

  /** Append a batch to an existing index WITHOUT refitting — the
    * daily-ingest maintenance path (the ANN analog of
    * incrementalDedup): new vectors are assigned to the EXISTING
    * centroids (one broadcast nearest-centroid pass, batch-linear)
    * and their coded rows land as new files inside the cell
    * directories. Probes see them immediately. Append is associative
    * (spec-asserted: one big append ≡ two small ones), and the
    * centroids drift only when the caller chooses to [[build]] again
    * — the classic refit-cadence trade every IVF deployment makes.
    */
  def append(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    healSwap(spark, dir)
    // exhaustive (coarse = false) nearest-centroid ASSIGNMENT — one
    // narrow native pass, batch-linear, no probes×cells window
    val assigned = emb.select(col("vec_id"), col("embedding"),
        graft.functions.VectorFns.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm policy, as build
      .withColumn("cell", element_at(graft.operators.Similarity.cellSelect(
        col("embedding"), readCentroids(spark, dir), 1, coarse = false), 1))
    assigned
      .select(col("cell"), col("vec_id"),
        graft.plans.native.sq8Code(col("embedding")).as("code"),
        graft.plans.native.sq8Scale(col("embedding")).as("qs"),
        col("nrm"), col("embedding"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$dir/codes.parquet")
    spark.catalog.refreshByPath(s"$dir/codes.parquet")
  }

  /** Compact the codes dataset after many [[append]] batches. Each
    * append lands its rows as NEW files inside every touched cell
    * directory, so after N ingest batches a cell holds N small files
    * — the small-file problem [[TableSink.compact]] exists for, here
    * inside the index. Routes through TableSink.compact (per-cell
    * co-located rewrite, hive layout preserved) into a staging dir,
    * then swaps it in and refreshes the file listing (the rebuild
    * rule: stale listings resurrect deleted file names). Returns
    * (files before, after).
    *
    * Compaction also SELF-HEALS the streaming sink's at-least-once
    * residue ([[graft.streaming.StreamingIndexer]]: a crash between
    * the data write and the ledger marker lands a batch twice): when
    * the codes hold duplicate vec_ids, the rewrite collapses
    * bit-identical replicas via `distinct()` — exact, no policy
    * question, because a replayed batch appends the SAME rows (SQ8
    * coding is a pure function of the embedding and the frozen
    * centroids). CONFLICTING re-ingests — one vec_id appended with
    * different content across batches — have no recoverable winner
    * without ingestion-time provenance, so the policy is
    * strict-identical: compact fails loudly naming offending ids
    * rather than silently picking a survivor. The duplicate probe is
    * a narrow column-pruned count pass, so the no-duplicates common
    * case pays ~nothing; only a real crash-recovery pass pays the
    * distinct's extra exchange. Probe results are bit-identical
    * before/after on a duplicate-free index (spec-asserted), and a
    * double-appended index probes identically to a never-duplicated
    * one after compact (spec-asserted).
    *
    * EXCLUSION CONTRACT: compact must not run concurrently with
    * [[append]] from another process — the read→rewrite→swap shape
    * means a batch landing between the read and the swap is
    * destroyed by the swap (and if that batch was a streaming
    * sink's, its ledger marker survives: committed-and-gone, the
    * worst class). Probes are safe concurrently (the swap renames
    * arbitrate, see [[healSwap]]); appends are not. The streaming
    * sink's in-stream cadence serializes compaction with its own
    * appends; an out-of-band compact must stop the ingest first.
    */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    healSwap(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val codes = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet")
    val fs = codes.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet.compacting")
    fs.delete(tmp, true)
    val dupes = {
      val r = spark.read.parquet(codes.toString)
        .agg(count(lit(1)), count_distinct(col("vec_id"))).head()
      r.getLong(0) != r.getLong(1)
    }
    val dedup: DataFrame => DataFrame =
      if (!dupes) identity
      else { df =>
        val d = df.distinct()
        // bit-identical replicas are gone; any vec_id still duplicated
        // carries CONFLICTING content — strict-identical policy
        val conflicts = d.groupBy("vec_id").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).select("vec_id").limit(5)
          .collect().map(_.getLong(0))
        require(conflicts.isEmpty,
          s"compact: vec_ids ${conflicts.mkString(",")} were re-ingested " +
            "with CONFLICTING content — no winner is recoverable without " +
            "ingestion-time provenance (strict-identical policy); rebuild " +
            "the index from the authoritative corpus instead")
        d
      }
    val counts = TableSink.compact(spark, codes.toString, tmp.toString,
      targetFileBytes, transform = dedup)
    val old = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet.old")
    fs.delete(old, true)
    if (!renameIfAbsent(conf, codes, old))
      sys.error(s"compact: cannot move $codes aside — $old reappeared")
    val swapped =
      try renameIfAbsent(conf, tmp, codes)
      catch { case e: Throwable =>
        // real IO failure (not destination-exists): restore the
        // original — the index must stay probable
        renameIfAbsent(conf, old, codes)
        throw e
      }
    if (!swapped) {
      // a concurrent healer restored the original codes between the
      // two renames (it won the codes.parquet slot, so `old` is
      // already back in place as the live dataset) — this
      // compaction's output is stale; abort cleanly, nothing nested
      fs.delete(tmp, true)
      sys.error(s"compact: $codes was restored by a concurrent heal " +
        "mid-swap; compaction aborted with the original index intact — " +
        "re-run it")
    }
    fs.delete(old, true)
    spark.catalog.refreshByPath(s"$dir/codes.parquet")
    counts
  }

  /** Top-k neighbors for a probe frame ((vec_id, embedding) or any
    * frame with those columns) against a built index.
    *
    * `excludeNProbe > 0` scans only the cells a PRIOR `nProbe =
    * excludeNProbe` probe of the same index did NOT cover — the
    * incremental-escalation form (marginAlignIvf's §17.7 loop): the
    * caller unions these new-cell candidates with the base pass's
    * instead of paying a fresh full-width scan. The exclusion
    * replays the base selection exactly (its own nSuper coarse
    * level), so base ∪ incremental covers a SUPERSET of the
    * fresh-wide selection's cells.
    */
  def topK(spark: SparkSession, dir: String, probeEmb: DataFrame,
      k: Int, nProbe: Int = 4, excludeNProbe: Int = 0): DataFrame = {
    // eager localCheckpoint, NOT persist+count: a persisted result's
    // plan canonicalizes equal across index REBUILDS, so a later
    // probe of a rebuilt index would be silently substituted with the
    // stale cached plan (whose physical scan pins the previous
    // build's file names — measured as FAILED_READ_FILE in
    // IvfIndexSpec). Checkpointing truncates the lineage so the
    // returned frame holds materialized rows, not file references.
    val (out, probeCells) =
      topKPlan(spark, dir, probeEmb, k, nProbe, excludeNProbe)
    val r = out.localCheckpoint()
    probeCells.unpersist()
    r
  }

  /** The probe pipeline WITHOUT the lineage barrier — the spec reads
    * its executedPlan to assert the cell-partition pruning that the
    * public topK's checkpoint truncates away. Returns (result, the
    * persisted probe-cell frame) — the CALLER unpersists the latter
    * after materializing the former. `thinProbe` is the probe-path
    * verdict; `None` takes [[thinProbeGate]]'s on the collected
    * probe-cell counts (specs pass `Some` to run both paths).
    */
  private[graft] def topKPlan(spark: SparkSession, dir: String,
      probeEmb: DataFrame, k: Int, nProbe: Int,
      excludeNProbe: Int = 0,
      thinProbe: Option[Boolean] = None): (DataFrame, DataFrame) = {
    healSwap(spark, dir)
    val probes = probeEmb.select(col("vec_id").as("probe_id"),
      col("embedding").as("emb_p"),
      graft.functions.VectorFns.norm(col("embedding")).as("nrm_p"))
      .filter(col("nrm_p") > 0) // zero-norm policy: unrankable probes
    // same native selection as ivfTopK's in-query form — the centroid
    // table collected cell-ordered, so selection (and thus results)
    // stay bit-identical between index-then-probe and the
    // self-contained op (spec-asserted)
    val cents = readCentroids(spark, dir)
    // incremental form: wide selection MINUS the base selection
    // (array_except, left order kept). The base is replayed with its
    // own nProbe-derived coarse level rather than prefix-sliced off
    // the wide ranking — past 256 cells the two selections prune
    // different super-cells, so a slice could both re-scan covered
    // cells and miss newly-reachable ones
    val cellsOf =
      if (excludeNProbe <= 0)
        graft.operators.Similarity.cellSelect(col("emb_p"), cents, nProbe)
      else array_except(
        graft.operators.Similarity.cellSelect(col("emb_p"), cents, nProbe),
        graft.operators.Similarity.cellSelect(col("emb_p"), cents,
          excludeNProbe))
    val probeCells = probes.select(col("probe_id"),
        graft.plans.native.sq8Code(col("emb_p")).as("code_p"),
        graft.plans.native.sq8Scale(col("emb_p")).as("qs_p"),
        col("nrm_p"),
        explode(cellsOf).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the distinct probed-cell set: bounded by the index CELL COUNT
    // (≤ maxCells), so collecting it is a constant-size driver fetch
    // at any probe-batch or corpus size — and it turns the codes scan
    // into a partition-directory prune (PartitionFilters, not a full
    // scan + filter). Grouped with counts so the probe-path size gate
    // below rides the SAME job — a probe pass costs one driver action,
    // not two (the r11 job-count trim: at sf scale the margin family's
    // wall is per-job fixed cost, not task time)
    val cellCounts = probeCells.groupBy("cell").count().collect()
    val cellSet = cellCounts.map(_.getInt(0))
    // ONE relation serves both the candidate scan and the re-rank join
    // below: each spark.read.parquet used to pay its own footer-
    // inference driver job (readCodes skips those after the first call
    // per index generation), and sharing the relation halves the
    // remaining per-call listing work
    val codesAll = readCodes(spark, dir)
    val codes = codesAll
      .filter(col("cell").isin(cellSet.map(Integer.valueOf).toSeq: _*))
    val m = k + 16 // SQ8 rank-jitter margin, as ivfTopK
    // probe-side join strategy is SIZE-GATED: the broadcast is the
    // thin-probe fast path (probes ≪ corpus, the IVF premise — and
    // left to AQE the tiny probe shuffle coalesces to ONE partition
    // and gets STREAMED, see ivfScan), but a corpus-scale probe
    // batch (ScaleCheck blows probes with the corpus: 512k probes ×
    // nProbe ≈ 700 MB of code rows at 1024×) OOMs the driver-side
    // BroadcastExchange — past the build budget the same equi-join
    // runs as a shuffled hash join with the probe side as build
    // (per-partition slices of the probe set, spill-free because
    // bounded per partition). Results identical either way; the
    // probe-cell row count already rode the cellSet job above.
    val thin = thinProbe.getOrElse(thinProbeGate(
      cellCounts.map(_.getLong(1)).sum, cellSet.length,
      graft.operators.Dedup.buildBudgetBytes(probeCells)))
    val survivors =
      if (thin)
        // thin-probe fast path (probes ≪ corpus, the IVF premise):
        // broadcast the probe cells — left to AQE the tiny probe
        // shuffle coalesces to ONE partition and gets STREAMED (see
        // ivfScan); the scan runs across the code partitions with
        // map-side partial heaps
        codes.join(broadcast(probeCells), Seq("cell"))
          .filter(col("probe_id") =!= col("vec_id"))
          .withColumn("qcos",
            col("qs_p") * col("qs")
              * graft.plans.native.byteDot(col("code_p"), col("code")).cast("double")
              / (col("nrm_p") * col("nrm")))
          .groupBy("probe_id")
          .agg(graft.plans.BoundedTopK.boundedTopK(col("qcos"), col("vec_id"), m)
            .as("tops"))
          .select(col("probe_id"), explode(col("tops.id")).as("vec_id"))
      else {
        // big-probe path (a corpus-scale batch — ScaleCheck blows
        // probes with the corpus: 512k probes × nProbe ≈ 700 MB of
        // code rows at 1024×, an OOM for the driver-side
        // BroadcastExchange; and the join+aggregate form pays the
        // ~1 µs/row TypedImperativeAggregate boundary on EVERY
        // probes×cellSize candidate row — 392 s of a 475 s wall):
        // the sorted cell-run kernel (Similarity.probeCellRunTopM,
        // the knnGraph pattern with two row kinds). One pinned-width
        // exchange co-locates each cell's codes and probes, codes
        // buffer in primitive arrays, each probe scans its cell
        // in-loop, and only probes×nProbe×m survivor rows cross an
        // operator boundary; the global per-probe heap then reduces
        // them to EXACTLY the broadcast path's survivor set (qcos
        // replayed operand-for-operand, per-cell top-m retains every
        // global-top-m member).
        import spark.implicits._
        val tagged = codes
          .select(col("cell").cast("long"), lit(0).as("tag"), col("vec_id"),
            col("code"), col("qs"), col("nrm"))
          .unionAll(probeCells.select(col("cell").cast("long"),
            lit(1).as("tag"), col("probe_id"), col("code_p"), col("qs_p"),
            col("nrm_p")))
          .as[(Long, Int, Long, Array[Byte], Double, Double)]
        tagged
          .repartition(spark.sessionState.conf.numShufflePartitions, col("cell"))
          .sortWithinPartitions("cell", "tag")
          .mapPartitions(it => graft.operators.Similarity.probeCellRunTopM(it, m))
          .toDF("probe_id", "vec_id", "qcos")
          .groupBy("probe_id")
          .agg(graft.plans.BoundedTopK.boundedTopK(col("qcos"), col("vec_id"), m)
            .as("tops"))
          .select(col("probe_id"), explode(col("tops.id")).as("vec_id"))
      }
    val reranked = survivors
      .join(probes.select(col("probe_id"), col("emb_p"), col("nrm_p")), Seq("probe_id"))
      .join(codesAll
          .filter(col("cell").isin(cellSet.map(Integer.valueOf).toSeq: _*))
          .select(col("vec_id"), col("embedding"), col("nrm")),
        Seq("vec_id"))
      .withColumn("cos",
        graft.functions.VectorFns.dot(col("emb_p"), col("embedding"))
          / (col("nrm_p") * col("nrm")))
    val w = Window.partitionBy("probe_id")
      .orderBy(floor(col("cos") * lit(1000000.0) + lit(0.5)).desc, col("vec_id"))
    val out = reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
    (out, probeCells)
  }
}
