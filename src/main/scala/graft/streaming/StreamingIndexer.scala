package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of a persisted IVF index (SURVEY §2.4 /
  * §2.5): embeddings arrive as a stream and each micro-batch is
  * APPENDED to an already-built [[graft.sources.IvfIndex]] via
  * `foreachBatch` — the build-once / ingest-forever shape a real ANN
  * deployment runs (CCMatrix-style mining over a growing corpus:
  * centroids refit on an operator-chosen cadence, the ingest path
  * never does).
  *
  * Correctness under retries: `foreachBatch` is at-least-once — a
  * failed micro-batch is REPLAYED with the same batchId, and a blind
  * append would double every vector in it (duplicate code rows =
  * duplicate neighbor candidates in every later probe). The sink is
  * made idempotent the standard way: a commit LEDGER inside the index
  * dir (`stream_commits/<batchId>`, one empty marker file per
  * committed batch) — a replayed batchId is skipped whole. The
  * marker is written AFTER the append, so the remaining failure
  * window (crash between the data write and the marker) can land a
  * batch twice; that window SELF-HEALS at the next
  * [[graft.sources.IvfIndex.compact]] pass, which collapses the
  * bit-identical replica rows during the rewrite it performs anyway
  * (exact — a replayed batch appends the same rows — and
  * spec-asserted: a planted double-append probes identically to a
  * never-duplicated index after compact). Probe RESULTS are
  * unaffected by the ledger mechanics: the spec pins stream-ingested
  * probes ≡ batch-append probes bit-for-bit, and replayed batches
  * append nothing.
  *
  * Ledger growth is BOUNDED on the ingest-forever premise: plain
  * markers would accumulate one file per batch for the stream's
  * lifetime, and `committedBatches` (the compaction-cadence input,
  * consulted every micro-batch) would pay an O(all-time batches)
  * listing. Instead each compaction [[pruneLedger]]s: a single
  * `_hwm_<N>` file records that every batchId ≤ N is committed, and
  * markers at or below the CONTIGUOUS committed prefix are deleted.
  * The replay check becomes `batchId ≤ hwm || marker exists`, and the
  * live marker count stays ≈ compactEvery. Crash-safety of the prune
  * itself: the new hwm file is created BEFORE the old one and the
  * covered markers are deleted, so an interrupted prune leaves extra
  * files that only widen the committed set it already proved —
  * never un-commits a batch.
  *
  * Small-file hygiene: every append lands new files in each touched
  * cell directory, so after N batches a cell holds N fragments — the
  * sink compacts every `compactEvery` committed batches (compaction
  * changes file layout only; bit-identical probes are already
  * spec-asserted on IvfIndex.compact). Compaction cost is a full
  * rewrite of the codes dataset — O(index size), NOT O(batch) — so
  * the cadence is the operator's trade between steady-state probe
  * read amplification and periodic rewrite IO (measured in
  * `tools/StreamScale index`: steady batches flat, the every-K batch
  * absorbs the rewrite; pick K by index-size/ingest-rate, or run
  * compaction out-of-band from the offline refit job instead —
  * WITH THE INGEST STREAM STOPPED: compact is read→rewrite→swap, so
  * a batch appended by another process between its read and its swap
  * would be destroyed by the swap while its ledger marker stands,
  * i.e. committed-and-gone. The in-stream cadence is safe because
  * foreachBatch serializes compaction with the appends; out-of-band
  * compaction owns no such exclusion and must create it by pausing
  * the query).
  */
object StreamingIndexer {

  private val HwmPrefix = "_hwm_"

  /** Stream-identity record: `_query_<queryId>` in the ledger dir
    * names the streaming query that owns this ledger. A query's id is
    * STABLE across restarts from its checkpoint (it lives in the
    * checkpoint metadata) and fresh for any other start, so a SKIP
    * whose live queryId mismatches the record is a renumbered stream
    * even in the one shape the batchId ordering can't see (a
    * single-committed-batch ledger, where the renumbered batch 0
    * collides with max committed id 0). Ignored by ledgerState
    * (markers are all-digits, hwm files carry their own prefix) and
    * by pruneLedger's sweep; absent for ledgers driven only by direct
    * [[appendBatch]] calls outside a streaming thread, where the
    * check stays inert.
    */
  private val QueryPrefix = "_query_"

  private def ledgerDir(dir: String) = new Path(s"$dir/stream_commits")

  private def ledgerPath(dir: String, batchId: Long) =
    new Path(ledgerDir(dir), batchId.toString)

  private def fsFor(batch: DataFrame, dir: String): FileSystem =
    ledgerDir(dir).getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)

  /** Raw ledger entry names — ONE listing, shared by every consumer
    * of the same call (a micro-batch on an object-store-backed index
    * should pay one LIST, not one per question asked of it).
    */
  private def ledgerNames(fs: FileSystem, dir: String): Seq[String] = {
    val p = ledgerDir(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** (high-water mark, live marker ids) from a raw listing. hwm = -1
    * when no prune has run yet. An interrupted prune can leave two
    * hwm files — the MAX wins (both were proven-contiguous when
    * written).
    */
  private def parseState(names: Seq[String]): (Long, Seq[Long]) = {
    val hwm = names.filter(_.startsWith(HwmPrefix))
      .map(_.stripPrefix(HwmPrefix).toLong)
      .reduceOption(_ max _).getOrElse(-1L)
    // markers are bare batchIds; anything else (a filesystem's own
    // shadow files, e.g. raw .crc listings) is not ledger state
    val markers = names.filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
    (hwm, markers)
  }

  private def ledgerState(fs: FileSystem, dir: String): (Long, Seq[Long]) =
    parseState(ledgerNames(fs, dir))

  /** Idempotent per-batch append: returns true when the batch was
    * appended, false when its batchId was already committed (the
    * foreachBatch replay case) — by live marker or by the pruned
    * ledger's high-water mark. Factored out of the sink so the
    * replay contract is directly testable without a streaming query.
    *
    * Identity check on the skip path: when running inside a streaming
    * micro-batch thread (Spark sets the queryId local property), a
    * skip whose queryId mismatches the ledger's recorded owner fails
    * loudly — a replay can only come from the SAME query (checkpoint
    * recovery keeps the id), so a mismatched skip is a renumbered
    * stream about to silently lose data. This closes the shape the
    * sink's batchId-ordering guard can't see: a renumbered stream
    * against a ledger whose max committed id is also 0.
    */
  def appendBatch(batch: DataFrame, dir: String, batchId: Long): Boolean =
    appendBatchCore(batch, dir, batchId)._1

  /** The one-listing core shared by [[appendBatch]] and [[indexSink]]:
    * (appended?, committed batch count AFTER this call, max committed
    * id) all derived from a single ledger LIST — the sink asks all
    * three questions every micro-batch, and on an object-store-backed
    * index each separate listing is a remote round-trip.
    */
  private def appendBatchCore(batch: DataFrame, dir: String,
      batchId: Long): (Boolean, Long, Long) = {
    val fs = fsFor(batch, dir)
    val names = ledgerNames(fs, dir)
    val (hwm, markers) = parseState(names)
    val committed0 = (hwm + 1) + markers.count(_ > hwm)
    val maxId = (hwm +: markers).max
    val marker = ledgerPath(dir, batchId)
    val qid = Option(batch.sparkSession.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime
        .StreamExecution.QUERY_ID_KEY))
    val records = names.filter(_.startsWith(QueryPrefix))
      .map(_.stripPrefix(QueryPrefix))
    if (batchId <= hwm || markers.contains(batchId) ||
        fs.exists(marker)) {
      for (q <- qid) require(records.isEmpty || records.contains(q),
        s"indexSink: batchId $batchId was committed by stream " +
          s"${records.mkString(",")} but is being replayed by a DIFFERENT " +
          s"stream $q — this query was restarted WITHOUT its checkpoint " +
          "(a checkpoint recovery keeps the query id) and its renumbered " +
          "batches would be silently dropped by the idempotency ledger; " +
          "restart from the original checkpointLocation (or point a " +
          "genuinely new stream at a fresh index dir)")
      (false, committed0, maxId)
    } else {
      // identity record BEFORE any data lands: written first so a
      // crash anywhere after the append leaves every committed marker
      // attributable — were it written after the marker, a crash in
      // between would leave a committed single-batch ledger with NO
      // owner, exactly the renumbered-batch-0 shape the record exists
      // to catch. Handover (a new query appending at a fresh batchId)
      // deletes stale records BEFORE creating its own: the crash
      // window between the two leaves no record (the guards degrade
      // to batchId ordering), never TWO records — which could fail
      // the legitimate stream's replays on a find-order coin flip.
      for (q <- qid; if !records.contains(q)) {
        records.foreach(r =>
          fs.delete(new Path(ledgerDir(dir), s"$QueryPrefix$r"), false))
        fs.mkdirs(ledgerDir(dir))
        fs.create(new Path(ledgerDir(dir), s"$QueryPrefix$q"), true).close()
      }
      graft.sources.IvfIndex.append(batch, dir)
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      // batchId > hwm and not in markers here, so it adds exactly one
      (true, committed0 + 1, math.max(maxId, batchId))
    }
  }

  /** Number of committed stream batches: the pruned contiguous prefix
    * (hwm + 1 batches) plus live markers above it. Exact across
    * prunes because pruning only ever covers batches it proved
    * contiguous-committed.
    */
  def committedBatches(batch: DataFrame, dir: String): Long = {
    val (hwm, markers) = ledgerState(fsFor(batch, dir), dir)
    (hwm + 1) + markers.count(_ > hwm)
  }

  /** Advance the high-water mark over the contiguous committed prefix
    * and delete the markers it covers. Non-contiguous ids (a test's
    * hand-planted batchId far ahead) stay as live markers — the prune
    * never assumes an id it hasn't seen. Returns the new hwm.
    *
    * Residue reclaim: the covered-file deletes run even when the mark
    * did NOT advance — a prune interrupted between writing the new hwm
    * and deleting the files it covers leaves markers ≤ hwm and a stale
    * lower hwm file that no contiguity advance would ever revisit
    * (counting stays exact either way — covered markers are ignored —
    * but the ledger would exceed its documented ≈compactEvery files).
    */
  def pruneLedger(batch: DataFrame, dir: String): Long = {
    val fs = fsFor(batch, dir)
    val (h0, markers) = ledgerState(fs, dir)
    var h = h0
    markers.sorted.foreach { id => if (id == h + 1) h = id }
    // crash-safety order: the new hwm exists BEFORE anything it covers
    // is deleted, so an interruption only leaves extra files that a
    // later prune (this same sweep) reclaims — never un-commits a batch
    if (h > h0)
      fs.create(new Path(ledgerDir(dir), s"$HwmPrefix$h"), true).close()
    if (h >= 0) {
      fs.listStatus(ledgerDir(dir)).map(_.getPath.getName).foreach { n =>
        val stale =
          if (n.startsWith(HwmPrefix)) n.stripPrefix(HwmPrefix).toLong < h
          else n.nonEmpty && n.forall(_.isDigit) && n.toLong <= h
        if (stale) fs.delete(new Path(ledgerDir(dir), n), false)
      }
    }
    h
  }

  /** Attach the maintenance sink to a streaming (vec_id, embedding)
    * frame: idempotent append per micro-batch, compaction (plus a
    * ledger prune) every `compactEvery` committed batches. The index
    * at `dir` must be [[graft.sources.IvfIndex.build]]-built already
    * (the deployment premise: an index predates its ingest stream).
    *
    * RESTART CONTRACT: the ledger keys idempotency on `batchId`, and
    * batchIds are only stable across driver restarts when the query
    * recovers from a CHECKPOINT — pass `checkpointLocation` (threaded
    * to `writeStream`, the StreamingMain pattern) on any stream that
    * may outlive its driver. A restarted query WITHOUT the recovered
    * checkpoint renumbers batches from 0, and the hwm check above
    * would then silently SKIP every fresh batch until the counter
    * climbed past the old high-water mark — silent data loss on the
    * sink's own ingest-forever premise. The sink DETECTS that case
    * and fails the query instead: a live stream delivering a batchId
    * strictly below the ledger's max committed id cannot be a
    * checkpoint recovery (recovery replays at most the LATEST
    * committed batch, then continues past it), so the skip refuses
    * loudly rather than dropping data. The residual shape the
    * ordering alone can't see — a renumbered stream whose ledger
    * holds a single committed batch 0 — is caught by the ledger's
    * stream-identity record instead ([[QueryPrefix]]: a skip whose
    * live queryId mismatches the recorded owner fails in
    * [[appendBatch]]). The checkpoint is still the contract; the
    * guards exist so violating it is loud, not lossy.
    */
  def indexSink(emb: DataFrame, dir: String,
      compactEvery: Int = 16,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = emb.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one ledger LIST answers append/committed-count/max-id alike
        val (appended, committed, maxId) =
          appendBatchCore(batch, dir, batchId)
        if (appended) {
          if (compactEvery > 0 && committed % compactEvery == 0) {
            val (before, after) =
              graft.sources.IvfIndex.compact(batch.sparkSession, dir)
            val hwm = pruneLedger(batch, dir)
            // compaction is maintenance, not correctness — surface it
            System.err.println(
              s"[indexer] compacted $dir after batch $batchId:" +
                s" $before -> $after files, ledger pruned to hwm=$hwm")
          }
        } else {
          require(batchId >= maxId,
            s"indexSink: live batchId $batchId is below the ledger's max " +
              s"committed id $maxId at $dir — a checkpoint-recovered " +
              "stream can only replay the latest committed batch, so this " +
              "query was restarted WITHOUT its checkpoint and its " +
              "renumbered batches would be silently dropped by the " +
              "idempotency ledger; restart from the original " +
              "checkpointLocation (or point a genuinely new stream at a " +
              "fresh index dir)")
        }
        ()
      }
      .outputMode("update")
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }
}
