package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}

/** Deduplication family (SURVEY.md §2.3): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every near-dup variant is candidate-generation by
  * equi-join on a bucket key (LSH band, simhash chunk, prefix) —
  * shuffle O(n·bands), verify O(candidate pairs). Nothing is O(n²)
  * in rows; the only cross product is within a bucket.
  */
object Dedup {

  /** Runtime-adaptive build-side hint (the r6 pre-count gate, shared
    * by minhashLsh / substrDedup / DedupPipeline.incrementalDedup):
    * hash-build while the side's whole estimated in-memory relation
    * fits one unspillable-build task budget — heap/128, ~64 MB at the
    * 8 GB test heap, scaling with executor memory — and sort-merge
    * beyond, which spills instead of dying (the round-5 256× OOM
    * class). Callers pass rows × a measured per-row relation
    * estimate; the row count comes from a frame the op materializes
    * anyway, so the gate costs no extra scan.
    */
  private[graft] def sizeGate(df: DataFrame, estRelationBytes: Long): DataFrame =
    if (estRelationBytes < buildBudgetBytes(df)) df.hint("shuffle_hash")
    else df.hint("merge")

  /** One task's unspillable-build budget: heap/128 of the EXECUTOR
    * memory — the build happens there, and on a real cluster (or
    * local-cluster) executor heaps differ from the driver's (falls
    * back to this JVM's heap in local[N], one process). 128, not 32:
    * execution memory is the UNIFIED pool's leftovers under cache
    * pressure divided across concurrent tasks, and hash-relation
    * pages are acquired in 64 MB chunks — a heap/32 budget admitted a
    * ~40 MB-estimated build whose page demand then failed against
    * 31 MB free on ClusterCheck's 3 GB executors (task retried 8×,
    * job dead). heap/128 keeps every measured local fast path
    * (64 MB budget at the 8 GB heap ≥ the 64× md5/band builds) while
    * small executors degrade to sort-merge, which spills.
    */
  private[graft] def buildBudgetBytes(df: DataFrame): Long =
    executorMemBytes(df.sparkSession.sparkContext) / 128

  /** Per-executor heap bytes, best effort across masters. */
  private def executorMemBytes(sc: org.apache.spark.SparkContext): Long = {
    val conf = sc.getConf
    if (sc.isLocal) Runtime.getRuntime.maxMemory // executors ARE this JVM
    else LocalClusterMem.findFirstMatchIn(sc.master)
      // local-cluster[n,c,mem] carries per-executor MB in the master
      // string and never touches the conf
      .map(_.group(1).toLong * 1024L * 1024L)
      // real cluster manager: the conf (Spark's 1g executor default
      // when unset) — NEVER the driver heap, which on a
      // big-driver/small-executor cluster overestimates the budget
      // and re-opens the unspillable-build OOM the gate exists for
      .getOrElse(conf.getSizeAsBytes("spark.executor.memory", "1g"))
  }

  /** CLUSTER-wide storage budget for an optional derived cache: a
    * quarter of the aggregate executor heap (per-executor heap × live
    * executor count). Corpus-sized derived frames (the verify-side
    * shingle frame) are cached only under this budget — past it the
    * MEMORY_AND_DISK cache thrashes instead of helping: disk-stored
    * CachedBatches lose column pruning and re-read the WHOLE row
    * every scan (the 1024× minhash profile: three 8-task cache scans
    * at 14-31× their 256× cost while every non-cache stage stayed
    * ≤ 4× — recomputing the frame from source is linear, the spilled
    * cache read is a cliff).
    */
  private[graft] def cacheBudgetBytes(df: DataFrame): Long = {
    val sc = df.sparkSession.sparkContext
    val nExec = math.max(1, sc.getExecutorMemoryStatus.size - 1)
    executorMemBytes(sc) / 4 * (if (sc.isLocal) 1 else nExec)
  }

  /** PRE-pass estimate of a source frame's in-memory shingle cache:
    * optimized-plan sizeInBytes × 5 (measured at the 256× stress:
    * 203 MB of documents parquet → ~1.0 GB of cached shingle+bucket
    * rows). Exact-enough for file scans, where sizeInBytes is the
    * file volume; derived plans propagate inflated sizes, which
    * errs toward the slim cache — correct either way, just linear
    * re-derivation instead of a cache hit.
    */
  private[graft] def estShingleCacheBytes(docs: DataFrame): Long = {
    val s = docs.queryExecution.optimizedPlan.stats.sizeInBytes * 5
    if (s.isValidLong) s.toLong else Long.MaxValue
  }

  /** The minhash fat-cache gate ([[minhashLsh]] and
    * DedupPipeline.incrementalDedup): the shingle arrays ride the
    * signature cache while the estimated cache — the shingle rows
    * plus `carryRowBytes` of carry columns per [[ShingleRowBytes]] —
    * fits the storage budget. sf-scale corpora always gate fat;
    * stats-inflated frames gate slim (pinned in LlmOpsSpec).
    */
  private[graft] def fatCacheGate(docs: DataFrame,
      carryRowBytes: Long = 0L): Boolean =
    estShingleCacheBytes(docs) *
      (1.0 + carryRowBytes.toDouble / ShingleRowBytes) < cacheBudgetBytes(docs)

  private val LocalClusterMem =
    """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]""".r

  /** Measured in-memory bytes of one (id, band, bucket) banding row —
    * the per-row estimate every band-frame size gate uses (kept as one
    * shared constant so the estimate and its doc can't drift).
    */
  private[graft] val BandRowBytes = 60L

  /** Measured in-memory bytes of one (id, shingle-array) verify row
    * (~800 B at the 256× stress) — shared by the verify-join sizeGate
    * and the shingle-cache volume gate.
    */
  private[graft] val ShingleRowBytes = 800L

  // ------------------------------------------------------------- exact

  /** Exact duplicate groups by content hash (md5 of raw text). */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Segment-level exact dedup (the C4-style "remove duplicated
    * paragraphs" pass): documents are cut into non-overlapping
    * `segWords`-word segments, every segment that already occurred
    * earlier in the corpus (by (doc_id, seg_idx) order) is dropped,
    * and each document is rebuilt from its surviving segments.
    *
    * Scale shape: segment construction is explode(sequence) + slice
    * AFTER the explode — no higher-order lambda capturing the token
    * array (the O(n²) interpreted trap), so it stays in codegen and
    * is a narrow map. Then exactly two shuffles: the keep-first
    * window partitioned by md5(segment) (first-occurrence choice is
    * a total order, deterministic on any cluster), and the per-doc
    * rebuild groupBy. Nothing is ever doc×doc.
    *
    * Returns (doc_id, n_segments, n_kept, clean_text) — n_kept <
    * n_segments exactly where cross-document boilerplate was excised.
    */
  def segmentDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", segWords: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = docs
      .select(col(idCol).as("doc_id"), TextFns.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          floor((col("n") - 1) / segWords).cast("int"))).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(slice(col("ws"), col("seg_idx") * segWords + 1,
          lit(segWords)), " ").as("seg"))
    val w = Window.partitionBy(md5(col("seg"))).orderBy("doc_id", "seg_idx")
    val kept = segs.withColumn("__rn", row_number().over(w))
      .withColumn("__kept", col("__rn") === 1)
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        // surviving segments back in document order; array_sort over
        // (seg_idx, seg) structs is total because seg_idx is unique
        // within a doc, so the rebuilt text is partitioning-invariant
        array_join(transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  /** CCNet-style boilerplate removal: a fixed-window segment is
    * BOILERPLATE when it occurs in ≥ `minDocs` DISTINCT documents
    * (headers, footers, nav chrome, license blocks), and every
    * occurrence is dropped from every document — unlike
    * [[segmentDedup]], which keeps the first occurrence. Returns
    * (doc_id, n_segments, n_dropped, clean_text).
    *
    * Scale shape: segmentation is a narrow explode, then exactly TWO
    * exchanges, mirroring segmentDedup: one window shuffle on the
    * segment hash and the per-doc rebuild. The per-bucket
    * distinct-doc count comes from dense_rank ascending + descending
    * − 1 over doc_id — two RUNNING window passes (one extra in-
    * partition sort, no second shuffle), chosen over the obvious
    * alternatives because a groupBy+re-join frequency table costs
    * two more exchanges of the corpus-sized segment set (measured
    * 2.8× superlinear at the 128× blow-up), and a max-over-unbounded
    * window or collect_set would BUFFER each hot bucket — the
    * mega-hot boilerplate this op exists to remove is exactly the
    * partition you can't afford to buffer. Nothing is doc×doc.
    */
  def boilerplateStrip(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", segWords: Int = 20,
      minDocs: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = docs
      .select(col(idCol).as("doc_id"), TextFns.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          floor((col("n") - 1) / segWords).cast("int"))).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(slice(col("ws"), col("seg_idx") * segWords + 1,
          lit(segWords)), " ").as("seg"))
      .withColumn("__h", md5(col("seg")))
    val asc = Window.partitionBy("__h").orderBy(col("doc_id").asc)
    val desc = Window.partitionBy("__h").orderBy(col("doc_id").desc)
    segs
      .withColumn("__nd",
        dense_rank().over(asc) + dense_rank().over(desc) - 1)
      .withColumn("__kept", col("__nd") < minDocs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  /** Within-document segment dedup (the RefinedWeb "remove duplicated
    * lines within a document" pass, at fixed-window granularity since
    * the corpus carries no newlines): the first occurrence of each
    * distinct `segWords`-word segment is kept, later repeats inside
    * the SAME document are dropped, and the text is rebuilt in order.
    * Returns (doc_id, n_segments, n_kept, clean_text).
    *
    * Scale shape: ZERO shuffles — duplication is decided per row, so
    * the whole operator is one codegen'd narrow projection
    * (plans.native.IntraDocDedup), unlike [[segmentDedup]]'s
    * corpus-wide window. n_kept is derived from the rebuilt text's
    * word count: every segment but the document's last has exactly
    * segWords words, and the short last segment can never equal a
    * full one (space-join over space-free words is length-bijective),
    * so ceil(words/segWords) counts survivors exactly.
    */
  def intraDocDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", segWords: Int = 20): DataFrame = {
    val clean = graft.plans.native.intraDedupText(col(textCol), segWords)
    def nSegs(t: Column): Column =
      (floor((TextFns.wordCount(t) - 1) / segWords) + 1).cast("long")
    docs.select(col(idCol).as("doc_id"),
      nSegs(col(textCol)).as("n_segments"),
      clean.as("clean_text"))
      .withColumn("n_kept", nSegs(col("clean_text")))
      .select("doc_id", "n_segments", "n_kept", "clean_text")
  }

  // ----------------------------------------------------------- minhash

  /** MinHash parameters: k permutations in b bands of r rows
    * (k = b·r). Universal-hash constants from a fixed seed so every
    * run and executor agrees.
    *
    * Perm-count measurement (round 4, at the 64×
    * blow-up + sf0.01): the signature pass is 3.5–6 s of the ~31 s
    * d_minhash_lsh wall — candidate VERIFICATION (shingle re-join +
    * exact jaccard), not perms, dominates. Halving to 32 perms
    * (8 bands × 4 rows) still measured recall 1.0 on the sf0.01 true
    * pair set (25/25), but raises the theoretical per-pair miss rate
    * at j = 0.8 from 1 − (1 − 0.8⁴)¹⁶ ≈ 2·10⁻⁴ to ≈ 1.5·10⁻² — and
    * since round 4 the d_dedup_corpus / d_incr_dedup DuckDB oracles
    * hash-compare LSH-edge components against TRUE all-pairs edges,
    * so the default must keep banding recall at 1. 64 perms stays:
    * the ~3 s it could save is ~10% of the op for a 75× worse miss
    * bound.
    */
  val MinhashK = 64
  val Bands = 16
  val RowsPerBand: Int = MinhashK / Bands
  private val P = 2147483647L // 2^31-1, Mersenne prime
  private val rng = {
    val r = new scala.util.Random(42)
    Array.fill(MinhashK)((1L + r.nextInt(Int.MaxValue - 1).toLong,
      r.nextInt(Int.MaxValue).toLong))
  }

  /** Raw minhash expression over a shingle-array child (for SQL
    * function registration).
    */
  def minhashExpression(
      shingles: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    graft.plans.native.MinHashSignature(shingles, MinhashK, P,
      rng.map(_._1).toSeq, rng.map(_._2).toSeq)

  /** doc → (id, shingles, sig[k], buckets[bands]) with sig_i = min
    * over shingles of ((a_i·h + b_i) mod P), h = xxhash64(shingle)
    * folded into [0, P). Signature AND band buckets come from ONE
    * native pass (plans.native.MinHashSigBuckets) — banding never
    * re-reads the k-long sig array, and LSH callers cache only the
    * bands-long buckets column (the r7 fusion: at the 256× blow-up
    * the banding pass re-scanned the 512 B/doc sig cache). The sig
    * column stays for profile tooling / parity specs; Catalyst prunes
    * it wherever unused.
    */
  /** The word-shingle width the minhash family bands AND verifies at.
    * One constant, shared by minhashSignature's default and every
    * slim-cache re-derivation site (minhashLsh's verify side,
    * incrementalDedup's corpus side) — a literal 3 at any one of them
    * would let banding and verification silently drift apart if the
    * width ever changed, exactly where no oracle looks (slim mode
    * engages only past the cache budget, i.e. at blow-up scale).
    */
  private[graft] val DefaultShingleK = 3

  def minhashSignature(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = DefaultShingleK, carry: Seq[String] = Nil): DataFrame = {
    val shingles = TextFns.wordShingles(lower(col(textCol)), shingleK)
    val sb = graft.plans.native.minhashSigBuckets(shingles, MinhashK, P,
      rng.map(_._1).toSeq, rng.map(_._2).toSeq, Bands, RowsPerBand)
    docs.select((col(idCol).as("doc_id") +: carry.map(col)) ++
        Seq(shingles.as("shingles"), sb.as("__sb")): _*)
      // separate projection: __sb is referenced twice, which blocks
      // CollapseProject from inlining (and re-evaluating) the pass
      .select((col("doc_id") +: carry.map(col)) ++ Seq(col("shingles"),
        slice(col("__sb"), 1, MinhashK).as("sig"),
        slice(col("__sb"), MinhashK + 1, Bands).as("buckets")): _*)
  }

  /** Candidate pairs from LSH banding + exact Jaccard verification.
    * Returns (doc_a, doc_b, jaccard) with jaccard >= threshold.
    *
    * `excludeIds` (an id-column DataFrame) removes docs from banding —
    * they generate no candidates in either pair position. Used by
    * DedupPipeline to keep exact-dup copies out of the buckets:
    * signatures still compute for every doc (narrow, linear CPU), but
    * the anti join moves only (id, band, bucket) longs, never text.
    */
  /** `maxBucket > 0` drops (band, bucket) groups larger than the cap
    * before pair expansion — same cut-not-split rationale as
    * simhashPairs: a giant bucket split keeps its cross-split pairs,
    * so it must be CUT. Exact-dup routing (DedupPipeline) already
    * collapses k identical copies, but a family of k NEAR-identical
    * templated docs (one token apart) still lands k rows in the same
    * bucket of most bands → O(k²) candidates; the cap bounds that.
    * Recall loss is confined to pairs whose EVERY shared bucket is
    * over the cap. Off (0) by default — default results unchanged.
    */
  def minhashLsh(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.8,
      excludeIds: Option[DataFrame] = None, maxBucket: Int = 0): DataFrame =
    minhashLshWith(docs, textCol, idCol, threshold, excludeIds, maxBucket,
      fatCacheGate(docs))

  /** [[minhashLsh]] with the cache-contents verdict passed in, so the
    * slim ≡ fat pair-set equivalence is spec-pinned (sf-scale corpora
    * always gate fat, so the slim arm would otherwise only run at
    * blow-up scale).
    */
  private[graft] def minhashLshWith(docs: DataFrame, textCol: String,
      idCol: String, threshold: Double, excludeIds: Option[DataFrame],
      maxBucket: Int, fatCache: Boolean): DataFrame = {
    // persist: the signature feeds the candidate pass and 2 verify
    // join sides — without a materialization barrier Catalyst
    // recomputes it per branch. The count() EAGERLY materializes the
    // cache: lazily-persisted frames race when AQE kicks off the
    // consumer branches concurrently — each branch finds the cache
    // unbuilt and computes the full signature pass itself (measured
    // at the 256× stress: four identical 13.9 s signature stages in
    // one query execution, tools/StageProfile r6).
    //
    // WHAT rides the cache is volume-gated (r7, late): under the
    // storage budget the shingle arrays cache alongside the buckets
    // — the verify sides then read them for free (re-deriving was
    // MEASURED and rejected at the 256× stress: 52-53 s vs 37-43 s,
    // two extra parquet text scans). PAST the budget the combined
    // cache crosses the storage-memory cliff — disk-stored
    // CachedBatches lose column pruning, so all three consumer scans
    // (candgen + both verify sides) re-read ~5 GB of serialized rows
    // at 14-31× their 256× stage cost while every other stage stayed
    // ≤ 4× (1024× stress, tools/StageProfile) — so only the slim
    // (doc_id, buckets) frame persists (~200 B/row, the one column
    // set whose recompute would repeat the 64-perm minhash pass) and
    // each verify side re-derives shingles from source: two LINEAR
    // text scans instead of the cliff (109-137 s → 75.7 s at 1024×).
    // The verdict is [[fatCacheGate]]'s.
    val sigCols =
      if (fatCache) Seq("doc_id", "shingles", "buckets")
      else Seq("doc_id", "buckets")
    // the slim frame persists even past the eviction knee: skipping
    // that persist was A/B'd at 4096lin (SURVEY §17.9) and LOST,
    // 486.0 s vs 330.9 s — the banding exchange recomputes the
    // 64-perm signature inside its shuffle write, dwarfing the saved
    // cache churn
    val signed = minhashSignature(docs, textCol, idCol)
      .select(sigCols.head, sigCols.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusRows = signed.count()
    // band on ids only — the shingle arrays must NOT ride the band
    // shuffle (16× duplication of the heaviest column); they are
    // re-joined once, only for verification of the candidate pairs.
    // The banded frame is NOT persisted anymore (the r6 banded cache
    // existed because each candidate pass re-ran the 16-way band
    // xxhash over the sig cache): with the buckets fused into the
    // signature pass, banding is a posexplode over the cached,
    // column-pruned 16-long buckets column — cheaper to recompute per
    // pass than to write + read a second n·bands cache (measured at
    // the 256× stress, r7).
    val kept = excludeIds.foldLeft(
        bandedIds(signed).select("bucket", "doc_id"))((b, ex) =>
      b.join(ex.select(col(ex.columns.head).as("doc_id")),
        Seq("doc_id"), "left_anti"))
    // verify-side shingles: from the fat cache when it exists, else
    // the SAME derivation the signature pass shingles from (one
    // shared expression, so banding and verification can never
    // drift), recomputed from source per verify side — no minhash
    val sh = if (fatCache) signed.select("doc_id", "shingles")
      else docs.select(col(idCol).as("doc_id"),
        TextFns.wordShingles(lower(col(textCol)), DefaultShingleK)
          .as("shingles"))
    // group by bucket ALONE: the band id is hashed into the bucket
    // value (bandedIds hashes lit(j) first), so dropping the band
    // column from the keys is pair-equivalent up to 2^-64 cross-band
    // hash collisions — which only ADD candidates the exact-jaccard
    // verify rejects. Candidate generation is volume-gated
    // ([[candidatePairs]]): the single-shuffle sorted-run form at
    // blow-up scale (r7 A/B at the 256× stress:
    // sorted runs 4.6 s vs count+semi 7.0-10.0 s vs collect-all
    // 10.3 s), the two-pass count+semi form below ~2M banded rows
    // where sorted-run's fixed overhead dominates.
    // persist + eager count: the pair set is a bounded sliver of the
    // corpus, and materializing it here does two load-bearing things
    // at once. (1) The dedup aggregation inside candidatePairs runs
    // DISTRIBUTED now — without this, AQE's runtime broadcast
    // conversion saw join 1's build side under threshold, coalesced
    // its AQEShuffleRead to ONE partition, and the single broadcast-
    // build task absorbed the entire pair-dedup aggregation (21.9 s
    // of a 110 s d_dedup_corpus at the 1024× stress; turning the
    // conversion off globally was A/B-rejected — the sf0.1 sweep
    // regressed 63 → 78 s, runtime broadcasts earn their keep on
    // small derived frames). (2) Join planning sees the cached
    // relation's ACCURATE size, so build-side choices stop depending
    // on post-shuffle estimates. A shuffle_hash hint does NOT prevent
    // the conversion — size-based broadcast outranks shuffle-hash
    // hints in join selection.
    val cands = candidatePairs(kept, "bucket", "doc_id", maxBucket,
      corpusRows * Bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cands.count()
    // (the caches are pinned once below, after the candidate-doc set
    // joins them — see [[pin]])
    // (measured, not guessed: verifying over xxhash64'd shingle arrays
    // — 8-byte longs instead of strings in the join shuffle — timed
    // NEUTRAL at the 128× blow-up (3.73 s vs 3.70 s):
    // the per-element hash transform costs what the smaller payload
    // saves, so the string verify stays, keeping the oracle exact.)
    //
    // Verify-join physical shapes, chosen per build side (the round-4
    // shuffle_hash-everywhere form had a 256× OOM cliff: AQE's 64 MB
    // advisory target coalesces the factor-scaled partitions, and a
    // corpus-sized ShuffledHashJoin BUILD side is not spillable —
    // tasks die building multi-hundred-MB hash relations):
    //  - join 1 hints the CANDIDATE side as the hash build — ids
    //    only, bounded by the pair count, a few bytes each; the
    //    corpus shingle frame streams. No broadcast (the 64× 1-task
    //    AQE trap), no unbounded build.
    //  - join 2's smaller side now carries sh_a (candidate-bounded
    //    but heavy), so neither side is a safe hash build at EVERY
    //    scale → the size gate: hash while the corpus shingle
    //    relation (~800 B/row measured at 256×) fits a task budget,
    //    sort-merge beyond — small corpora keep the fast path, big
    //    ones spill gracefully instead of OOMing.
    // verify-side doc prune (late r7, the substrDedup recipe): only
    // docs that appear in some candidate pair need shingles. Away
    // from the FP knee the candidate doc set is a sliver of the
    // corpus, so the semi join (the bounded id set broadcasts) turns
    // the slim path's two FULL corpus text-scan+shingle derivations
    // into candidate-doc-only work, and shrinks both verify join
    // inputs in either cache mode. The gate estimate uses the pruned
    // count — accurate by construction.
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCandDocs = candDocs.count()
    pin("minhash", signed, cands, candDocs)
    val shp = sh.join(candDocs, Seq("doc_id"), "left_semi")
    cands.hint("shuffle_hash")
      .join(shp.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")),
        "doc_a")
      .join(sizeGate(shp.select(col("doc_id").as("doc_b"),
        col("shingles").as("sh_b")), nCandDocs * ShingleRowBytes), "doc_b")
      .withColumn("jaccard", TextFns.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Pin one call's materialized frames as its family's single live
    * [[graft.SessionCaches]] entry: the next call's pin releases them,
    * so a long-lived driver holds at most one corpus's worth per
    * family, and the pins count against the shared budget. The lazy
    * result keeps reading the frames, so they cannot be released at
    * the end of the call without materializing (which would hide the
    * audited plan); a result held across calls stays correct — it
    * just recomputes.
    */
  private def pin(family: String, frames: DataFrame*): Unit =
    graft.SessionCaches.cached(family, java.util.UUID.randomUUID.toString,
      maxLive = 1)(frames): Unit

  /** Within-bucket candidate pairs from (key..., id) rows, with the
    * singleton buckets cut out BEFORE any per-bucket id collection.
    *
    * Round-4's one-pass form (groupBy(keys).agg(collect_list(id)),
    * filter size >= 2) routed EVERY bucket through collect_list —
    * an ObjectHashAggregate whose hash map caps at
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * in-memory groups and then falls back to SORT-BASED aggregation:
    * with ~n·bands mostly-singleton groups the stage degenerates into
    * a full sort of the band rows plus one array allocation per
    * bucket, just to discard the singletons (the 256× profile put
    * 45.5 s of the 58.4 s d_minhash_lsh wall here; VERDICT r5 #2).
    *
    * This form pays one extra exchange of the NARROW rows to avoid
    * all of that: (1) a codegen'd long-count HashAggregate finds the
    * non-singleton buckets (no object buffers, no sort fallback);
    * (2) the rows semi-join that bucket set — the bucket set is
    * bounded by the collision volume, a sliver of the corpus, so it
    * is the shuffle-hash BUILD side per the r5 build-side rule;
    * (3) only the surviving sliver reaches collect_list, and the
    * semi join's (keys)-hash partitioning already satisfies the
    * groupBy, so stage 3 adds NO exchange. Measured at the 256×
    * blow-up: candidate generation 45.5 →
    * [see SURVEY §14], pair set bit-identical (the singleton buckets
    * produce no pairs; the cap filter moves from size(ids) to the
    * count — the same predicate on the same number).
    *
    * `maxBucket > 0` cuts over-cap buckets WHOLE (cut-not-split —
    * a split keeps cross-split pairs; see the minhash/simhash cap
    * rationale above).
    */
  private[graft] def bucketCandidatePairs(rows: DataFrame,
      keys: Seq[String], idCol: String, maxBucket: Int): DataFrame = {
    val lo = lit(2L)
    val counts = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= lo &&
        (if (maxBucket <= 0) lit(true) else col("__n") <= maxBucket))
      .select(keys.map(col): _*)
    val hot = rows.join(counts.hint("shuffle_hash"), keys, "left_semi")
    hot.groupBy(keys.map(col): _*)
      .agg(collect_list(col(idCol)).as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "da")))
      .select(col("da"), explode(slice(col("ids"), col("i") + lit(2),
        greatest(size(col("ids")) - col("i") - lit(1), lit(0)))).as("db"))
      // collect_list order is partitioning-dependent — normalize
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Candidate generation with the form chosen by banded-row volume:
    * the single-shuffle sorted-run scan wins at blow-up scale (4.6 s
    * vs 7-10 s for count+semi at the 256× stress) but its
    * mapPartitions tuple encode/decode + repartition carry ~0.5 s of
    * fixed overhead that dominates at sf scale, where the two-pass
    * count+semi form is cheaper. The two forms produce the IDENTICAL
    * pair set (same ≥2 / cut-whole-cap predicates; spec-asserted), so
    * the choice is pure physics — the size-gate pattern, applied to
    * candgen.
    */
  private[graft] def candidatePairs(rows: DataFrame, bucketCol: String,
      idCol: String, maxBucket: Int, estRows: Long): DataFrame =
    if (estRows >= SortedRunRows)
      sortedRunCandidatePairs(rows, bucketCol, idCol, maxBucket, estRows)
    else bucketCandidatePairs(rows, Seq(bucketCol), idCol, maxBucket)

  /** Banded-row volume above which sorted-run candgen wins (~2M rows:
    * the 64× blow-up sits at 5.1M — sorted-run; sf0.1 at 320k —
    * count+semi).
    */
  private[graft] val SortedRunRows = 2L * 1000 * 1000

  /** Single-shuffle candidate generation (the round-7 measured
    * alternative to [[bucketCandidatePairs]]): repartition the
    * (bucket, id) rows by bucket, sort within each partition, and
    * emit pairs per sorted run — no second (semi-join) exchange, no
    * per-bucket object-aggregation buffers; the local sort handles
    * n·bands/partitions rows per task. Pair set identical to the
    * count-prefilter form (same ≥2 / ≤maxBucket run predicate,
    * cut-whole cap semantics, doc_a < doc_b normalized, deduped).
    */
  /** Rows per sorted-run task: ~4M (bucket, id) pairs ≈ 200 MB of
    * unsafe sort data — comfortably in-memory for a task's share of
    * an 8 GB heap. The repartition below must be EXPLICITLY sized
    * from the row estimate: an un-sized `repartition(col)` lands on
    * spark.sql.shuffle.partitions and AQE keeps it there, so at the
    * 2048× stress 150M fingerprint rows sorted in 8 tasks with
    * 19.8 GB of external-sort spill — 72 of 194 s (StageProfile).
    */
  private[graft] val SortedRunRowsPerTask = 4L * 1000 * 1000

  private[graft] def sortedRunCandidatePairs(rows: DataFrame,
      bucketCol: String, idCol: String, maxBucket: Int,
      estRows: Long): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val cap = if (maxBucket <= 0) Int.MaxValue else maxBucket
    val defaultN = spark.sessionState.conf.numShufflePartitions
    val n = math.max(defaultN.toLong,
      math.min(4096L, (estRows + SortedRunRowsPerTask - 1) / SortedRunRowsPerTask)).toInt
    rows.select(col(bucketCol).cast("long"), col(idCol).cast("long"))
      .as[(Long, Long)]
      .repartition(n, col(bucketCol))
      .sortWithinPartitions(bucketCol, idCol)
      .mapPartitions { it =>
        new Iterator[(Long, Long)] {
          private val run = new scala.collection.mutable.ArrayBuffer[Long]()
          private var runBucket = 0L
          private var out: Iterator[(Long, Long)] = Iterator.empty
          private def pairsOf(ids: scala.collection.Seq[Long]) =
            if (ids.length < 2 || ids.length > cap) Iterator.empty
            else ids.indices.iterator.flatMap(i =>
              (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
          private def advance(): Unit = {
            while (!out.hasNext && (it.hasNext || run.nonEmpty)) {
              if (!it.hasNext) { out = pairsOf(run.toSeq); run.clear() }
              else {
                val (b, id) = it.next()
                if (run.isEmpty || b == runBucket) { runBucket = b; run += id }
                else {
                  out = pairsOf(run.toSeq)
                  run.clear(); runBucket = b; run += id
                }
              }
            }
          }
          override def hasNext: Boolean = { advance(); out.hasNext }
          override def next(): (Long, Long) = { advance(); out.next() }
        }
      }
      .toDF("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** (doc_id, band, bucket) rows from a signed frame — one row per
    * band, ids only. Shared by the batch LSH join and the streaming
    * stateful dedup (both sides MUST agree bit-for-bit on buckets so
    * stream and batch find the same candidates).
    *
    * BUCKET-HASH VERSIONING: StreamingDedup checkpoints state keyed by
    * (band, bucket). Changing this function (hash inputs, band count,
    * rows per band) makes new arrivals hash into buckets the old
    * history isn't under — silent recall loss against everything seen
    * before the change. Any such change requires discarding streaming
    * checkpoints and re-seeding the history.
    */
  def bandedIds(signed: DataFrame, carry: Seq[String] = Nil): DataFrame =
    // the buckets were already computed inside the signature pass
    // (MinHashSigBuckets — bit-identical to the former per-band
    // xxhash64 chain, parity spec-pinned); banding is now a plain
    // posexplode of the bands-long array
    signed.select((col("doc_id") +: carry.map(col)) :+
        posexplode(col("buckets")).as(Seq("band", "bucket")): _*)
      .select((col("doc_id") +: carry.map(col)) ++
        Seq(col("band"), col("bucket")): _*)

  // ----------------------------------------------------------- simhash

  /** 64-bit weighted SimHash: bit i is the sign of
    * Σ_token (2·bit_i(xxhash64(token)) − 1) over ALL tokens, i.e.
    * term-frequency-weighted — which separates near-identical docs
    * from merely same-vocabulary docs far better than set semantics
    * on small-vocabulary corpora.
    */
  def simhash(text: Column): Column =
    graft.plans.native.simhash64(TextFns.words(lower(text)))

  /** Near-dup pairs by SimHash: candidates share one of EIGHT 16-bit
    * windows — the four aligned chunks (pigeonhole: guaranteed recall
    * for hamming <= 3) plus the four chunks of the signature rotated
    * by 8 bits. The rotated decomposition catches most hamming 4-8
    * pairs whose errors straddle aligned-chunk boundaries (errors
    * must hit ALL EIGHT windows to hide, which random bit flips
    * rarely do). Verified with bit_count(a XOR b) <= maxHamming.
    */
  /** `maxBucket > 0` drops 16-bit windows shared by more than that
    * many docs before the self-join — the simhash analog of skew
    * salting, except a giant bucket can't be split without losing its
    * cross-split pairs, so it is CUT instead: a bucket that large is a
    * boilerplate/exact-dup family, which exact dedup upstream already
    * collapses (DedupPipeline routes copies through representatives).
    * Recall loss is confined to pairs whose EVERY shared window is
    * over the cap. Off (0) by default — the registered query and the
    * oracle are uncapped.
    */
  def simhashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 6,
      maxBucket: Int = 0): DataFrame = {
    // persist: the signature feeds 8 exploded chunks × 2 self-join
    // sides — without a materialization barrier Catalyst collapses the
    // projections and recomputes the 64-bit aggregate tree 16×.
    // Eager count (the r6 AQE-race rule): a lazily-persisted frame
    // whose consumer branches start concurrently is rebuilt per
    // branch; and the cache is pinned through the SessionCaches
    // ledger like every other long-lived corpus cache (r13 review —
    // an unregistered persist is invisible to the shared budget and
    // never released across corpora).
    val sh = docs.select(col(idCol).as("doc_id"),
      simhash(col(textCol)).as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    pin("simhash", sh)
    // rotl(sim, 8): the second, offset-by-8 windowing
    val rot = shiftleft(col("simhash"), 8)
      .bitwiseOR(shiftrightunsigned(col("simhash"), 56))
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(array(
        (0 until 4).map { j =>
          struct(lit(j).as("chunk_id"),
            shiftrightunsigned(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))
        } ++ (0 until 4).map { j =>
          struct(lit(j + 4).as("chunk_id"),
            shiftrightunsigned(rot, j * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))
        }: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_id"), col("c.chunk"))
    // Bucket-cap enforcement + singleton pre-cut via a NARROW
    // (chunk_id, chunk) count + semi-join (r14, the prefixJaccardPairs
    // restructure applied to its sibling): the old count-over-window
    // form sorted ALL 8n chunk rows by bucket and buffered each hot
    // (boilerplate-family) bucket whole in one task's window buffer —
    // and it shipped every SINGLETON window row into both self-join
    // sides, where it could never match (doc_a < doc_b). The count
    // collapses map-side on the window key; the surviving-bucket set
    // is bounded by the collision volume (shuffle-hash build, r5
    // rule); `__n >= 2` cuts the singleton majority before the join.
    // Pair set identical in both modes (spec-pinned): same
    // `<= maxBucket` predicate on the same groups, and singleton
    // windows produce no pair.
    val blocked = {
      val counts = chunked.select("chunk_id", "chunk")
        .groupBy("chunk_id", "chunk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2 &&
          (if (maxBucket <= 0) lit(true) else col("__n") <= maxBucket))
        .select("chunk_id", "chunk")
      chunked.join(counts.hint("shuffle_hash"),
        Seq("chunk_id", "chunk"), "left_semi")
    }
    val a = blocked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = blocked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // verify BEFORE dedup: both signatures already ride the bucket
    // join (no extra lookup, unlike minhash's shingle re-join), so the
    // bit_count cut runs inside the join's codegen stage and the
    // dropDuplicates shuffle moves only true near-dup pairs — not the
    // full Σ bucket² candidate space (measured 50M candidates → a few
    // thousand pairs on a small-vocabulary 64× corpus).
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
  }

  // ------------------------------------- exact shared-substring pairs

  /** Exact substring-level duplicate pairs (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * pass, re-shaped for bucketed candidate generation): every pair
    * of documents sharing a VERBATIM character span of ≥ `minLen` is
    * returned with its distinct shared `minLen`-gram count. Two
    * stages, both with guaranteed recall:
    *
    *  1. CANDIDATES from winnowing-fingerprint buckets: the winnowing
    *     theorem (Schleimer et al. 2003) guarantees two strings
    *     sharing a span of ≥ w + k − 1 chars select at least one
    *     common fingerprint, so with minLen ≥ w + k − 1 (enforced)
    *     the bucket join is a SUPERSET of the true pair set — recall
    *     is 1 by construction, not by measurement. Same one-shuffle
    *     bucket aggregation as minhashLsh (collect ids per
    *     fingerprint, expand non-singleton buckets map-side).
    *  2. VERIFY with plain string equality: the native
    *     SharedGramCount confirms the ≥minLen-char overlap exactly —
    *     no hashes in the decision — which is why the op is
    *     oracle-backed: DuckDB replays it as an all-grams equi-join.
    *
    * The fingerprint k-gram must be LONG — k=40 (~8 words), not the
    * contamination default 20: candidate volume is Σ bucket² over
    * docs sharing one k-char gram, and on a small-vocabulary corpus
    * 4-word grams collide by the birthday bound corpus-wide (the
    * uncapped k=20 form never finished the 64× blow-up; k=40 makes
    * collisions ≈ true long-span sharers and runs in seconds). Any
    * k with w + k − 1 ≤ minLen preserves exactness — the pair set is
    * DEFINED by the verify, candidates only need to be a superset.
    * At corpus scale a ubiquitous boilerplate span still makes its
    * bucket corpus-sized; `maxBucket` cuts those buckets WHOLE
    * (cut-not-split, the simhash/minhash cap rationale). Off by
    * default so the registered sf results stay oracle-exact; at
    * 100 TB run [[boilerplateStrip]] first or set the cap.
    */
  def substrDedup(docs: DataFrame, minLen: Int = 60,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 40, w: Int = 0, maxBucket: Int = 0): DataFrame = {
    // the widest window the contract allows: winnowing guarantees a
    // shared fingerprint for any common span >= w + k - 1 chars, so
    // w = minLen - k + 1 detects exactly the spans the op promises
    // while selecting the FEWEST fingerprints (~len/w rows per doc —
    // the op's dominant shuffle). A narrower w only adds candidates
    // for sub-minLen spans that the exact verify rejects anyway: the
    // output is w-invariant, the cost is not (2048× stress: the w=8
    // default shuffled 12.4 GB of fingerprints with 41 GB of
    // shuffle-sort spill — 250 of 322 s).
    val w1 = if (w > 0) w else math.max(1, minLen - k + 1)
    require(minLen >= w1 + k - 1,
      s"winnowing(k=$k, w=$w1) only guarantees spans >= ${w1 + k - 1} chars")
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // deliberately NOT persisted: the fingerprint explode feeds both
    // candidate passes, but it is ~len/w rows PER DOC (96 M rows at
    // the 256× stress at w=8) — caching that costs more than running
    // the winnowing rolling hash twice (measured: 96.2 s with an
    // eager MEMORY_AND_DISK cache vs 53.6 s recomputing, StageProfile
    // r6). The opposite call from minhashLsh's signed cache, which is
    // one row per doc and feeds the verify joins too.
    val fps = base.select(col("doc_id"),
      explode(graft.plans.native.winnowing(col("text"), k, w1)).as("fp"))
    // one narrow agg feeds the candgen volume gate and the verify-join
    // size gate: row count plus the MEASURED character volume — the
    // fingerprint row estimate is Σlen/w, and the previous fixed
    // 720-char-doc assumption undersized the sorted-run repartition
    // ~100× on long-document corpora (r13 review: each task then
    // sorts ~100× SortedRunRowsPerTask — the external-sort spill wall
    // the sizing exists to avoid)
    val stats = base.agg(count(lit(1)),
      sum(length(col("text")))).head()
    val corpusRows = stats.getLong(0)
    val totalChars =
      if (stats.isNullAt(1)) 0L else stats.getLong(1)
    // volume-gated candgen (the minhashLsh r7 form): singleton
    // fingerprint runs — the vast majority — emit nothing, and at
    // scale the fingerprint explode crosses exactly ONE exchange.
    // persist + eager count: the pair set feeds TWO consumers now
    // (the doc prune below and the verify), and materializing it runs
    // the pair dedup distributed + gives join planning accurate sizes
    // (the minhashLsh §15.15 rationale).
    val cands = candidatePairs(fps, "fp", "doc_id", maxBucket,
      math.max(corpusRows, totalChars / w1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cands.count()
    // verify-side prune (late r7): only docs that appear in some
    // candidate pair ever reach the verify joins, and the candidate
    // doc set is a SLIVER of the corpus away from the FP knee — so
    // semi-join the text down to candidate docs first (the id set
    // usually broadcasts; worst case one text shuffle) instead of
    // shuffling the FULL corpus text through both verify joins. At
    // the 2048× sub-knee stress the two corpus-text shuffles, one of
    // them sort-merge-spilled, were the measured above-linear
    // residual. The gate estimate below uses the PRUNED doc count —
    // accurate by construction.
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val pruned = base.join(candDocs, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCandDocs = pruned.count()
    pin("substr", cands, pruned)
    // verify joins mirror minhashLsh's build-side rule exactly:
    // join 1 builds the CANDIDATE pair ids (bounded, a few bytes
    // each) and streams the pruned text; join 2 goes through the
    // size gate on the pruned text relation (~800 B/row) — hash
    // while it fits, sort-merge beyond, where an unspillable
    // corpus-sized build is the round-5 256× OOM class. (The r4 form
    // hinted the corpus TEXT side as the hash build on BOTH joins
    // unconditionally.)
    cands.hint("shuffle_hash")
      .join(pruned.select(col("doc_id").as("doc_a"), col("text").as("text_a")),
        "doc_a")
      .join(sizeGate(pruned.select(col("doc_id").as("doc_b"),  // text ≈ shingle row weight
        col("text").as("text_b")), nCandDocs * ShingleRowBytes), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.plans.native.sharedGramCount(col("text_a"), col("text_b"),
          minLen).as("n_shared"))
      .filter(col("n_shared") >= 1)
  }

  // ----------------------------------------- exact n-gram Jaccard pairs

  /** Exact word-set Jaccard for candidate pairs sharing a text prefix
    * (cheap high-recall blocking for this corpus; swap the blocking
    * key for minhash bands at lower expected overlap).
    *
    * `maxBucket` is the cut-not-split saturation cap (same rationale
    * as [[simhashPairs]]): a prefix shared by k docs is boilerplate —
    * its k²/2 exact-Jaccard pairs are the quadratic no partitioner
    * fixes (measured: a planted 64-replica prefix family turned the
    * 64× blow-up sweep from seconds into tens of minutes). Buckets
    * over the cap are dropped whole, not sampled, so the survivors'
    * pair set is unchanged; exact dedup upstream owns true k-copy
    * families. The oracle mirrors the cap (a window count is plain
    * SQL), so the gate stays exact.
    */
  def prefixJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", prefixLen: Int = 40,
      threshold: Double = 0.5, maxBucket: Int = 32): DataFrame = {
    val d0 = docs.select(col(idCol).as("doc_id"),
      substring(col(textCol), 1, prefixLen).as("pre"),
      TextFns.distinctWords(col(textCol)).as("ws"))
    // Cap enforcement is a NARROW (pre) count + semi-join, NOT a
    // count-over-window on d0 (the r13 VERDICT weak): the window form
    // sort-buffered the fat `ws` distinct-words arrays in exactly the
    // hot-prefix (boilerplate) partitions the cap exists to defuse —
    // at blow-up scale a planted hot prefix became an external-sort
    // spill wall before the filter ever cut it. The count re-scans the
    // narrow (pre) projection (Catalyst prunes ws) and collapses
    // map-side on the prefix key; the count table is bounded by the
    // distinct-prefix volume, so it is the shuffle-hash BUILD side per
    // the r5 build-side rule and only longs cross the extra exchange
    // (the bucketCandidatePairs shape). Pair set PROVABLY unchanged
    // (spec-pinned): the `__n <= maxBucket` predicate is the same
    // count on the same groups, and the added `__n >= 2` only drops
    // singleton prefixes, which produce no a<b pair; null prefixes
    // (dropped by the semi join's equi-key) never matched the
    // downstream equi-self-join either.
    val d =
      if (maxBucket <= 0) d0
      else {
        val counts = d0.select("pre").groupBy("pre")
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= 2 && col("__n") <= maxBucket)
          .select("pre")
        d0.join(counts.hint("shuffle_hash"), Seq("pre"), "left_semi")
      }
    val a = d.select(col("pre"), col("doc_id").as("doc_a"), col("ws").as("ws_a"))
    val b = d.select(col("pre"), col("doc_id").as("doc_b"), col("ws").as("ws_b"))
    a.join(b, Seq("pre"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", TextFns.jaccard(col("ws_a"), col("ws_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // -------------------------------------------- embedding cosine pairs

  /** Cosine near-dup pairs, probe side restricted by `probeFilter`
    * (brute force baseline; see Similarity.lshTopK for the bucketed
    * scale path).
    */
  /** LSH-bucketed cosine near-dup — the scale path: candidates must
    * share a hyperplane-signature bucket in one of `nTables` tables,
    * so the pair space is O(Σ bucket²) instead of O(n²); exact cosine
    * verifies. Recall < 1 by construction (tune bits/nTables).
    *
    * `bits = 0` (auto) sizes the signature from the corpus:
    * ceil(log2(n/128)) clamped to [4, 20], so expected bucket
    * occupancy stays ~128 and the Σ bucket² verify stays LINEAR in n.
    * A FIXED bit width is quadratic-by-parameter at scale: 4 bits =
    * 16 buckets per table regardless of corpus size, which at a 64×
    * blow-up (128k vectors) meant 8k-vector buckets and an 8G-pair
    * verify. Below ~2k vectors auto resolves to 4 bits — small-corpus
    * results (and the sf0.01 oracle gate) unchanged.
    */
  /** Largest double x (in [0, 2]) whose HALF_UP rounding to `scale`
    * decimals is <= tau — so `round(c, scale) > tau` ⟺ `c > boundary`
    * POINTWISE (same BigDecimal.valueOf rounding Catalyst's Round
    * applies). Evaluating Round per row goes BigDecimal.valueOf →
    * Double.toString → FloatingDecimal — ~1 µs of string formatting
    * per candidate pair (jstack'd as the hot frame at the 64×
    * blow-up); one driver-side binary search over the ordered double
    * bits removes it without changing a single admit/reject decision.
    */
  private[graft] def roundGtBoundary(tau: Double, scale: Int = 6): Double = {
    def roundsLe(x: Double): Boolean =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue() <= tau
    require(roundsLe(0.0) && !roundsLe(2.0), s"tau $tau outside (0, 2)")
    var lo = java.lang.Double.doubleToLongBits(0.0)
    var hi = java.lang.Double.doubleToLongBits(2.0)
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (roundsLe(java.lang.Double.longBitsToDouble(mid))) lo = mid else hi = mid
    }
    java.lang.Double.longBitsToDouble(lo)
  }

  def embeddingNearDupLsh(emb: DataFrame, tau: Double,
      bits: Int = 0, nTables: Int = 4): DataFrame = {
    import graft.functions.VectorFns
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // count AFTER persist, on EVERY path (r13 review: the explicit-
    // bits path used to skip it — the r6 AQE race): the sizing pass
    // doubles as the cache materialization
    val n = math.max(1L, base.count())
    pin("embedlsh", base)
    val useBits =
      if (bits > 0) bits
      else math.min(20, math.max(4,
        math.ceil(math.log(n / 128.0) / math.log(2.0)).toInt))
    // vectors ride the bucket join (the simhash lesson): the cosine
    // cut evaluates INSIDE the join stage, so only true near-dup
    // pairs reach the pair-dedup shuffle — never the Σ bucket²
    // candidate space (a candidates-first dropDuplicates shuffled
    // 128M pair rows at the 64× blow-up). The vector payload in the
    // band shuffle is nTables × ~dim·4B per vec — linear, and tiny
    // next to the quadratic it removes. The cut is `cos > boundary`,
    // pointwise-identical to embeddingNearDup's round(cos, 6) > tau
    // ([[roundGtBoundary]]) so the LSH path stays a strict subset of
    // the exact reference (spec-asserted) without a per-pair
    // BigDecimal.
    val bucketed = base.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          VectorFns.hyperplaneSignature(col("embedding"), useBits, t * useBits).as("sig"))
      }: _*)).as("b"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("b.tbl"), col("b.sig"))
    val a = bucketed.select(col("tbl").as("tbl_a"), col("sig").as("sig_a"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val bb = bucketed.select(col("tbl").as("tbl_b"), col("sig").as("sig_b"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val boundary = roundGtBoundary(tau)
    a.join(bb, col("tbl_a") === col("tbl_b") && col("sig_a") === col("sig_b")
        && col("vec_a") < col("vec_b")
        && VectorFns.dot(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")) > boundary)
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
  }

  def embeddingNearDup(emb: DataFrame, probeFilter: Column,
      tau: Double): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
    val probes = base.filter(probeFilter)
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val others = base
      .select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    probes.join(others, col("vec_a") < col("vec_b"))
      .withColumn("cos",
        VectorFns.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(round(col("cos"), 6) > tau)
      .select("vec_a", "vec_b")
  }
}
