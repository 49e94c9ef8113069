package graft

import org.apache.spark.sql.DataFrame

/** The one owner of every long-lived in-heap or persisted frame in the
  * process — the minhash/simhash/embedlsh/substr pins, the corpus
  * components, rarity stats and BPE learn frames, and the export's
  * events table. One access-ordered map of (family, key) → frames
  * enforces two bounds: a per-family `maxLive` breadth (1 for the
  * single-slot pins: each call releases the previous call's frames)
  * and one shared byte budget across ALL families. The budget
  * exists because per-family gates were independent: five families
  * each sized against the same aggregate-storage/4 budget could
  * together pin 5× it (§15.18: d_compress_ratio 12.1 s fresh vs 27 s
  * after family_keep's caches stayed pinned at blow-up scale). Past
  * the budget (Dedup.cacheBudgetBytes — aggregate executor heap / 4)
  * the least-recently-used entries of any family are released until
  * the total fits. Eviction is always safe: a released entry's frames
  * are unpersisted and the next call rebuilds, while a lazy result
  * that still reads them just recomputes.
  *
  * Entry bytes come from the cache manager's MEASURED InMemoryRelation
  * stats for persisted frames (accurate after the build's own eager
  * count) and from count × schema width for checkpoint-barrier frames
  * — see [[bytesOf]] for why propagated stats are unusable there.
  *
  * Locking: one lock, held only for map bookkeeping. Builds, byte
  * sizing and releases all run outside it, so a build may itself call
  * [[cached]] (the components build pins minhash frames) and no
  * release path ever re-enters a lock.
  */
object SessionCaches {

  private final case class Entry(frames: Seq[DataFrame], bytes: Long)

  // access-ordered: iteration starts at the least-recently-used key
  private val live =
    new java.util.LinkedHashMap[(String, String), Entry](32, 0.75f, true)

  /** Test seam: a fixed budget in bytes so the eviction path is
    * exercisable at spec scale; `None` (production) uses the shared
    * cluster-storage budget.
    */
  @volatile private[graft] var budgetOverride: Option[Long] = None

  private def budgetFor(df: DataFrame): Long =
    budgetOverride.getOrElse(graft.operators.Dedup.cacheBudgetBytes(df))

  /** Estimated live bytes of one entry's frames: measured cache stats
    * when persisted; count × schema width for checkpoint-barrier
    * frames. Propagated plan stats are NOT usable for the barrier
    * class — checkpoint preserves the ORIGIN plan's stats, and those
    * inflate through the build's joins (measured: the CC label frame
    * reported 523 TB, the BPE word frame 46 PB — registering either
    * at face value evicted every other family on the spot). The
    * count is a cheap cached-block scan: every build materializes its
    * frames eagerly.
    */
  private[graft] def bytesOf(frames: Seq[DataFrame]): Long =
    frames.map { f =>
      org.apache.spark.sql.graftshim.GraftShim.cachedPlanBytes(f) match {
        case Some(sz) =>
          if (sz.isValidLong) sz.toLong else Long.MaxValue / 256
        case None =>
          val width = f.schema.fields.map(_.dataType.defaultSize).sum + 16L
          f.count() * width
      }
    }.foldLeft(0L)((a, b) => if (a + b < 0) Long.MaxValue else a + b)

  /** The frames cached under (family, key), built on first use. A hit
    * returns the identical frames (`eq`) and marks them recently used.
    * `build` must return eagerly materialized frames (persist + count,
    * or a barrier). It runs outside the lock, so two concurrent first
    * calls may both build: the first insert wins and the loser's frames
    * are discarded. Inserting releases the family's least-recently-used
    * entries past `maxLive`, then the least-recently-used entries of
    * any family past the shared budget — never the entry just built.
    */
  def cached(family: String, key: String, maxLive: Int)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    val k = (family, key)
    live.synchronized(Option(live.get(k))) match {
      case Some(hit) => hit.frames
      case None =>
        val frames = build
        val bytes = bytesOf(frames)
        val budget = frames.headOption.map(budgetFor).getOrElse(Long.MaxValue)
        val (winner, familyVictims, budgetVictims, kept) = live.synchronized {
          Option(live.get(k)) match {
            case Some(race) => (race.frames, Nil, Nil, liveFrames)
            case None =>
              live.put(k, Entry(frames, bytes))
              var famLive = 0
              var total = 0L
              live.forEach { (fk, e) =>
                if (fk._1 == family) famLive += 1
                total = if (total + e.bytes < 0) Long.MaxValue else total + e.bytes
              }
              // least-recently-used first, never the entry just built
              def sweep(pick: String => Boolean, over: => Boolean) = {
                val out = Seq.newBuilder[((String, String), Entry)]
                val it = live.entrySet().iterator()
                while (over && it.hasNext) {
                  val e = it.next()
                  if (e.getKey != k && pick(e.getKey._1)) {
                    out += (e.getKey -> e.getValue); it.remove()
                    total -= e.getValue.bytes
                    if (e.getKey._1 == family) famLive -= 1
                  }
                }
                out.result()
              }
              val fam = sweep(_ == family, famLive > maxLive)
              (frames, fam, sweep(_ => true, total > budget), liveFrames)
          }
        }
        if (!(winner eq frames)) {
          release(frames, kept)
          frames.foreach(deleteCheckpointFile)
        }
        familyVictims.foreach(v => release(v._2.frames, kept))
        // budget eviction is rare and operationally significant — say
        // so (the StageProfile/ScaleCheck drives read this to attribute
        // rebuilds)
        budgetVictims.foreach { case ((vf, vk), e) =>
          System.err.println(s"[cache-ledger] evict $vf:$vk" +
            s" (${e.bytes / 1048576} MB) for $family:$key")
          release(e.frames, kept)
        }
        winner
    }
  }

  private def liveFrames: Seq[DataFrame] = {
    val out = Seq.newBuilder[DataFrame]
    live.values().forEach(e => out ++= e.frames)
    out.result()
  }

  /** Unpersist released frames — except a frame whose plan a live
    * frame shares: the CacheManager keys storage by plan, so two
    * entries built over the same input (a build-race loser and its
    * winner, two single-slot calls on one corpus) hold ONE cached copy,
    * and unpersisting either would drop the survivor's storage too.
    */
  private def release(frames: Seq[DataFrame], kept: Seq[DataFrame]): Unit =
    frames.foreach { df =>
      val plan = df.queryExecution.analyzed
      if (!kept.exists(_.queryExecution.analyzed.sameResult(plan)))
        df.unpersist(false)
    }

  /** A build-race loser's barrier frame: under localCheckpoint its
    * blocks free with the dropped reference, but with a reliable
    * checkpoint dir configured barrier() wrote durable checkpoint FILES
    * that nothing will ever reference again (ADVICE r13) — best-effort
    * delete of those. Evicted entries keep theirs: a lazy result built
    * over an evicted frame may still read it.
    */
  private def deleteCheckpointFile(df: DataFrame): Unit =
    try df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true): Unit
        }
      case _ => ()
    } catch { case _: Throwable => () }

  private[graft] def liveCount(family: String): Int =
    live.synchronized(live.keySet().stream().filter(_._1 == family).count().toInt)

  /** Release and forget the entries of the named families — of every
    * family when none is named (tests, in-process corpus rewrites).
    */
  private[graft] def reset(families: String*): Unit = {
    val (victims, kept) = live.synchronized {
      val out = Seq.newBuilder[DataFrame]
      val it = live.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (families.isEmpty || families.contains(e.getKey._1)) {
          out ++= e.getValue.frames; it.remove()
        }
      }
      (out.result(), liveFrames)
    }
    release(victims, kept)
  }
}
