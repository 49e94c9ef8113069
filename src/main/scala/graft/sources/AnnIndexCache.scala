package graft.sources

import org.apache.spark.sql.DataFrame

/** Session-scoped [[IvfIndex]] cache — the lifecycle that lets the
  * REGISTERED ANN queries stop re-fitting KMeans per call (the
  * repeated-probing access pattern a production ANN deployment runs:
  * the fit+assignment build is the expensive stage and is a pure
  * function of the corpus, so one process builds it once).
  *
  *  - Indexes live under one per-JVM temp root: every fresh process
  *    (each `graft.Verify` / `graft.Bench` run — sbt forks a JVM per
  *    runMain) starts empty and rebuilds lazily on first probe, so
  *    verification runs stay deterministic and self-contained while
  *    repeated probes within a process (Bench's warm-up + min-of-2,
  *    a long-lived driver's query stream) pay only probe-batch cost.
  *  - The KEY identifies an immutable corpus snapshot (callers use
  *    the table directory); the fit params are folded into the full
  *    cache key so two calls with the same corpus but different
  *    (nCells, trainSample) never share an index. If the underlying
  *    data is rewritten in-process, call [[reset]] — the cache cannot
  *    see the rewrite.
  *  - The build is the same seeded fit as the in-query IVF form, so a
  *    cached-index probe returns its rows bit-for-bit
  *    (IvfIndexSpec pins the registry path).
  *
  * Naming, eviction, and build concurrency delegate to [[DirCache]]:
  * SHA-256 collision-resistant dir names, generation-unique build
  * paths, deferred (next-build) deletion of evicted dirs so live lazy
  * probe frames get a grace window, and per-key build latches so
  * different corpora build concurrently while same-key first probes
  * build once.
  */
object AnnIndexCache {

  /** Most-recently-used bound on live index dirs: a many-corpus
    * driver (one process probing N table snapshots) otherwise grows
    * one persisted index per corpus for the process lifetime — disk,
    * not heap, but unbounded. 4 covers every in-repo access pattern
    * (Verify/Bench touch one corpus; tests a handful) while an
    * evicted corpus transparently rebuilds on its next probe.
    */
  private[graft] val MaxLive = 4

  private val cache = new DirCache("ann-idx", MaxLive)

  /** The index directory for `key` (+ fit params), building from
    * `emb` on first use. Past [[MaxLive]] corpora the
    * least-recently-probed index is retired — deleted at the next
    * build, not eagerly — and any lazy frame still pointing at it
    * must re-probe, same as after [[reset]].
    */
  def dirFor(emb: DataFrame, key: String, nCells: Int = 0,
      trainSample: Int = 2000): String =
    cache.dirFor(s"$key#n=$nCells#t=$trainSample") { dir =>
      IvfIndex.build(emb, dir, nCells, trainSample)
    }

  private[graft] def liveCount: Int = cache.liveCount

  /** Forget every cached index (in-process corpus rewrite, tests). */
  private[graft] def reset(): Unit = cache.reset()
}
