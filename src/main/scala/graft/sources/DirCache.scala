package graft.sources

/** Shared lifecycle for the session-scoped on-disk artifact caches
  * ([[AnnIndexCache]] index dirs, [[CellAssignCache]] assignment
  * parquets): one per-JVM temp root, LRU of at most `maxLive` live
  * directories, lazy rebuild after eviction.
  *
  * Rules (ADVICE r8 + r9):
  *
  *  - '''Collision-resistant names.''' Directories are named by the
  *    SHA-256 of the FULL key (truncated to 128 bits), not the 32-bit
  *    `hashCode` — a `hashCode` collision mapped two distinct
  *    (corpus, params) keys onto one directory and the second build
  *    silently overwrote the first while its map entry still pointed
  *    there (wrong-corpus results with every green check).
  *  - '''Generation-unique paths.''' Every build writes a FRESH
  *    directory (`-g<N>` suffix): a retired dir is never the same
  *    path as a live build target, so the deferred deleter below can
  *    never race a same-key rebuild writing into the path it is
  *    deleting, and a rebuild never needs the overwrite/refresh
  *    choreography of in-place writes.
  *  - '''Deferred deletion.''' Eviction does NOT delete immediately:
  *    results returned by consumers are LAZY frames that scan the
  *    directory at collect time, so an eager delete under a live
  *    reader fails with FAILED_READ_FILE. Evicted dirs park on a
  *    retire list and are deleted at the START of the next build —
  *    the single-slot pin pattern of SessionCaches, giving outstanding
  *    frames a full build-to-build grace window (callers that hold
  *    results across many further builds must materialize them, which
  *    every in-repo consumer does). A FAILED build retires its
  *    partial directory the same way, so builders never see leftover
  *    files and failures don't leak disk.
  *  - '''Per-key builds.''' First builds for DIFFERENT keys run
  *    concurrently (a multi-corpus driver fits two corpora in
  *    parallel); concurrent calls for the SAME key build once — the
  *    second caller parks on the key's latch and reads the winner's
  *    directory. The old form serialized every build on one lock.
  *  - '''Reset epochs.''' [[reset]] (in-process corpus rewrite)
  *    retires every live dir AND bumps an epoch: a build already in
  *    flight when reset() runs completes against pre-rewrite data, so
  *    its result is retired instead of cached and the caller loops
  *    into a fresh post-rewrite build.
  */
private[graft] final class DirCache(prefix: String, maxLive: Int) {

  private lazy val root =
    java.nio.file.Files.createTempDirectory(s"graft-$prefix").toString

  // access-ordered: iteration starts at the least-recently-used key
  private val built = new java.util.LinkedHashMap[String, String](16, 0.75f, true)
  private val building =
    new java.util.HashMap[String, java.util.concurrent.CountDownLatch]
  // evicted/failed/stale dirs pending delete (freed at next build start)
  private val retired = new java.util.ArrayDeque[String]
  private var epoch = 0L // bumped by reset(); guarded by built's lock
  private var gen = 0L // per-build unique dir suffix; same lock

  private def sha(key: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(16).map(b => f"$b%02x").mkString
  }

  /** The directory for `key`, running `build(dir)` on first use.
    * `build` gets a fresh non-existent path, must leave it readable
    * on success, and may throw — a failed build retires its partial
    * dir and releases the key so the next caller retries.
    */
  def dirFor(key: String)(build: String => Unit): String = {
    while (true) {
      var latch: java.util.concurrent.CountDownLatch = null
      var mine: java.util.concurrent.CountDownLatch = null
      var myEpoch = 0L
      var dir: String = null
      val have = built.synchronized {
        val d = built.get(key)
        if (d != null) d
        else {
          latch = building.get(key)
          if (latch == null) {
            mine = new java.util.concurrent.CountDownLatch(1)
            building.put(key, mine)
            myEpoch = epoch
            gen += 1
            dir = s"$root/$prefix-${sha(key)}-g$gen"
          }
          null
        }
      }
      if (have != null) return have
      if (latch != null) { latch.await(); /* winner done (or failed) */ }
      else {
        val doomed = built.synchronized {
          val ds = new java.util.ArrayList[String](retired)
          retired.clear(); ds
        }
        doomed.forEach(d => deleteRecursively(new java.io.File(d)))
        try build(dir)
        catch {
          case t: Throwable =>
            built.synchronized {
              building.remove(key): Unit
              retired.add(dir): Unit // partial dir: defer-delete it
            }
            mine.countDown()
            throw t
        }
        val fresh = built.synchronized {
          building.remove(key): Unit
          if (epoch == myEpoch) {
            built.put(key, dir)
            while (built.size > maxLive) {
              val it = built.entrySet().iterator()
              val evict = it.next(); it.remove()
              retired.add(evict.getValue): Unit
            }
            true
          } else {
            // reset() ran mid-build: the result reflects pre-rewrite
            // data — discard it and loop into a fresh build
            retired.add(dir): Unit
            false
          }
        }
        mine.countDown()
        if (fresh) return dir
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Forget every cached entry (in-process corpus rewrite, tests).
    * Live dirs are retired (deleted at the next build's start — the
    * same grace window eviction gives outstanding lazy frames) and
    * builds in flight discard their stale results via the epoch.
    */
  def reset(): Unit = built.synchronized {
    epoch += 1
    built.values.forEach(d => retired.add(d): Unit)
    built.clear()
  }

  private[graft] def liveCount: Int = built.synchronized(built.size)
  private[graft] def retiredCount: Int = built.synchronized(retired.size)

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
