package graft

import graft.operators.Similarity
import graft.sources.IvfIndex
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {

  test("persisted index probes reproduce ivfTopK exactly") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb, dir, nCells = 8)
    // same corpus, same seeded fit, same scan parameters → the
    // index-then-probe path must return ivfTopK's rows bit-for-bit
    val probes = emb.filter(col("vec_id") % 50 === 0)
    val indexed = IvfIndex.topK(spark, dir, probes, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted
    val direct = Similarity.ivfTopK(emb, col("vec_id") % 50 === 0, k = 5,
        nCells = 8, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(indexed.sameElements(direct))
  }

  test("big-probe kernel scan returns the broadcast path's rows bit-for-bit") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb, dir, nCells = 8)
    val probes = emb.filter(col("vec_id") % 10 === 0)
    def run(thin: Boolean): Array[String] = {
      val (out, pc) = IvfIndex.topKPlan(spark, dir, probes, k = 5,
        nProbe = 4, thinProbe = Some(thin))
      try out.collect().map(_.toString).sorted finally pc.unpersist()
    }
    val viaBroadcast = run(thin = true)
    val viaKernel = run(thin = false)
    assert(viaBroadcast.nonEmpty && viaBroadcast.sameElements(viaKernel),
      s"broadcast ${viaBroadcast.length} rows vs kernel ${viaKernel.length}")
  }

  test("default probe-path gate: broadcast at sf scale, kernel on dense or big probes") {
    // d_ann_topk's own probe pass at sf scale (its session index, its
    // probe set, the default width): the collected counts gate broadcast
    val emb = Tables(spark, sf).embeddings
    val dir = graft.sources.AnnIndexCache.dirFor(emb, s"$sf#embeddings")
    val (_, pc) = IvfIndex.topKPlan(spark, dir,
      emb.filter(col("vec_id") % 50 === 0), k = 5, nProbe = 4)
    val counts = try pc.groupBy("cell").count().collect()
      finally pc.unpersist()
    val rows = counts.map(_.getLong(1)).sum
    val budget = graft.operators.Dedup.buildBudgetBytes(emb)
    assert(IvfIndex.thinProbeGate(rows, counts.length, budget),
      s"sf-scale probes ($rows rows over ${counts.length} cells) must broadcast")
    // inflated probe-cell counts take the kernel: dense probes per
    // probed cell (the density knee), and a probe frame past the
    // build budget even at low density
    assert(!IvfIndex.thinProbeGate(rows * 1000, counts.length, budget),
      "dense probes per probed cell must take the kernel")
    assert(!IvfIndex.thinProbeGate(budget, Int.MaxValue, budget),
      "a probe frame past the build budget must take the kernel")
  }

  test("compact merges append-era small files; probes bit-identical before/after") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    // build on half, then two append batches — every touched cell
    // directory now holds multiple small files
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    IvfIndex.append(emb.filter(col("vec_id") % 4 === 1), dir)
    IvfIndex.append(emb.filter(col("vec_id") % 4 === 3), dir)
    val probes = emb.limit(7)
    val before = IvfIndex.topK(spark, dir, probes, k = 5)
      .collect().map(_.toString).sorted
    val (nIn, nOut) = IvfIndex.compact(spark, dir)
    assert(nOut < nIn, s"compact $nIn -> $nOut files")
    // layout-only change: same rows, bit for bit
    val after = IvfIndex.topK(spark, dir, probes, k = 5)
      .collect().map(_.toString).sorted
    assert(after.sameElements(before))
    // compaction is idempotent and keeps the hive cell layout
    val cellDirs = new java.io.File(s"$dir/codes.parquet").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    val again = IvfIndex.compact(spark, dir)
    assert(again._2 <= nOut)
    assert(IvfIndex.topK(spark, dir, probes, k = 5)
      .collect().map(_.toString).sorted.sameElements(before))
  }

  test("registered d_ann_topk routes through the session index and matches ivfTopK") {
    graft.sources.AnnIndexCache.reset()
    val emb = Tables(spark, sf).embeddings
    val viaRegistry = SparkEntry.queries("d_ann_topk")(spark, sf)
      .collect().map(_.toString)
    val direct = Similarity.ivfTopK(emb, col("vec_id") % 50 === 0, k = 5)
      .orderBy("probe_id", "rank").collect().map(_.toString)
    assert(viaRegistry.sameElements(direct))
    // second registry call hits the cached index (no rebuild) and
    // returns the same rows
    val again = SparkEntry.queries("d_ann_topk")(spark, sf)
      .collect().map(_.toString)
    assert(again.sameElements(viaRegistry))
  }

  test("session index cache evicts least-recently-probed dirs past the bound") {
    graft.sources.AnnIndexCache.reset()
    val emb = Tables(spark, sf).embeddings.limit(120)
    val n = graft.sources.AnnIndexCache.MaxLive
    // n+1 distinct corpus keys: the first becomes LRU and is evicted
    // when the (n+1)th builds — but deletion is DEFERRED to the next
    // build's start, so a lazy frame over the evicted dir still reads
    val dirs = (0 to n).map { i =>
      graft.sources.AnnIndexCache.dirFor(emb, s"lru-corpus-$i", nCells = 2)
    }
    assert(graft.sources.AnnIndexCache.liveCount == n)
    assert(new java.io.File(dirs.head).exists(),
      "evicted dir deleted eagerly — must survive until the next build")
    dirs.tail.foreach(d =>
      assert(new java.io.File(d).exists(), s"live dir $d evicted"))
    // the evicted corpus transparently rebuilds on its next probe, at
    // a FRESH generation path; the retired dir is deleted by that build
    val rebuilt =
      graft.sources.AnnIndexCache.dirFor(emb, "lru-corpus-0", nCells = 2)
    assert(rebuilt != dirs.head && new java.io.File(rebuilt).exists())
    assert(!new java.io.File(dirs.head).exists(),
      "retired dir must be reclaimed at the next build")
    graft.sources.AnnIndexCache.reset()
  }

  test("probe scan PRUNES to the probed cell partitions") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb, dir, nCells = 8)
    // a single probe touches nProbe = 2 of the 8 cell directories;
    // the codes scan must carry a PartitionFilters entry on cell —
    // file-level pruning, not a full scan + filter
    val oneProbe = emb.filter(col("vec_id") === emb
      .agg(min("vec_id")).head().getLong(0))
    val (out, pc) = IvfIndex.topKPlan(spark, dir, oneProbe, k = 3, nProbe = 2)
    out.collect()
    pc.unpersist()
    val scans = out.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [cell"), scans)
    // and the index layout really is one directory per populated cell
    // (KMeans random init can leave cells empty on a small corpus, so
    // compare against the coded frame's distinct cells, not nCells)
    val nPopulated = spark.read.parquet(s"$dir/codes.parquet")
      .select("cell").distinct().count()
    val cellDirs = new java.io.File(s"$dir/codes.parquet").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == nPopulated && cellDirs.length >= 2,
      cellDirs.mkString(","))
  }

  test("append maintains the index without refit and is associative") {
    val emb = Tables(spark, sf).embeddings
    val base = emb.filter(col("vec_id") % 2 === 0)
    val restA = emb.filter(col("vec_id") % 4 === 1)
    val restB = emb.filter(col("vec_id") % 4 === 3)
    val probes = emb.limit(5)
    // one big append vs the same rows in two batches: probing must
    // agree row for row (append touches no centroid, so assignment
    // is a pure per-row function of the frozen build)
    val d1 = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, d1, nCells = 4)
    IvfIndex.append(restA.union(restB), d1)
    val one = IvfIndex.topK(spark, d1, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted
    val d2 = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, d2, nCells = 4)
    IvfIndex.append(restA, d2)
    IvfIndex.append(restB, d2)
    val two = IvfIndex.topK(spark, d2, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(one.sameElements(two))
    // appended vectors are immediately FINDABLE: an exhaustive-probe
    // scan (nProbe = nCells) from an appended vector must return
    // SOME appended vector among its neighbors at this density
    val appendedIds = restA.union(restB).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val probeAppended = IvfIndex.topK(spark, d1,
        restA.limit(3), k = 4, nProbe = 4)
      .collect().map(_.getLong(2))
    assert(probeAppended.nonEmpty)
    assert(probeAppended.exists(appendedIds.contains),
      s"no appended neighbor among ${probeAppended.mkString(",")}")
  }

  test("streaming index maintenance: stream-ingested probes match batch append; replays append nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    val base = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val probes = emb.limit(5)

    // batch-append reference index
    val dBatch = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, dBatch, nCells = 4)
    IvfIndex.append(rest, dBatch)
    val ref = IvfIndex.topK(spark, dBatch, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted

    // the same rows through the streaming sink in two micro-batches
    val dStream = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, dStream, nCells = 4)
    val restRows = rest.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = restRows.partition(_._1 % 4 == 1)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingIndexer.indexSink(
      mem.toDF().toDF("vec_id", "embedding"), dStream, compactEvery = 0)
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = IvfIndex.topK(spark, dStream, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(ref),
      s"stream ${streamed.length} rows vs batch ${ref.length}")

    // replay contract: re-running an already-committed batchId is a
    // no-op (the foreachBatch at-least-once case) — same probes, same
    // rows, and the ledger still counts two commits
    val restDf = rest.select("vec_id", "embedding")
    assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dStream, 0L))
    assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dStream, 1L))
    assert(graft.streaming.StreamingIndexer.committedBatches(restDf, dStream) == 2L)
    val replayed = IvfIndex.topK(spark, dStream, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(replayed.sameElements(ref), "a replayed batch changed probe results")

    // a FRESH batchId does append (and is then itself replay-proof)
    assert(graft.streaming.StreamingIndexer.appendBatch(
      restDf.limit(0), dStream, 99L))
    assert(!graft.streaming.StreamingIndexer.appendBatch(
      restDf.limit(0), dStream, 99L))
  }

  test("streaming index maintenance compacts on the configured cadence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    val rows = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def codeFiles(): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingIndexer.indexSink(
      mem.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 4)
    // 4 single-slice batches: files accumulate, then the 4th commit
    // triggers compaction and the count drops to ≤ populated cells
    (0 until 4).foreach { b =>
      mem.addData(rows.filter(_._1 % 8 == 2 * b + 1).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val after = codeFiles()
    val probes = emb.limit(5)
    val res = IvfIndex.topK(spark, dir, probes, k = 4, nProbe = 4).collect()
    assert(res.nonEmpty)
    // compaction ran: one file per populated cell (4 cells max), not
    // one per (batch × cell)
    assert(after <= 4, s"expected compacted layout, found $after files")
  }

  test("crash-window double-append self-heals at compact: probes match a never-duplicated index") {
    val emb = Tables(spark, sf).embeddings
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val probes = emb.limit(7)
    // clean reference: one append
    val dRef = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, dRef, nCells = 4)
    IvfIndex.append(batch, dRef)
    val ref = IvfIndex.topK(spark, dRef, probes, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted
    val refRows = spark.read.parquet(s"$dRef/codes.parquet").count()
    // the StreamingIndexer crash window: data written, marker lost,
    // batch replayed → the SAME rows land twice
    val dDup = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, dDup, nCells = 4)
    IvfIndex.append(batch, dDup)
    IvfIndex.append(batch, dDup)
    val dupRows = spark.read.parquet(s"$dDup/codes.parquet").count()
    assert(dupRows == refRows + batch.count(),
      s"planted double-append: $dupRows rows vs clean $refRows")
    // compact collapses the bit-identical replicas during its rewrite
    IvfIndex.compact(spark, dDup)
    val healedRows = spark.read.parquet(s"$dDup/codes.parquet")
    assert(healedRows.count() == refRows)
    assert(healedRows.select("vec_id").distinct().count() == refRows,
      "duplicate vec_ids survived compact")
    val healed = IvfIndex.topK(spark, dDup, probes, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(healed.sameElements(ref),
      "a healed index must probe identically to a never-duplicated one")
  }

  test("compact fails loudly when one vec_id was re-ingested with conflicting content") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    // same id, two DIFFERENT embeddings across appends — no winner is
    // recoverable, so the strict-identical policy must refuse to pick
    val one = emb.filter(col("vec_id") % 2 === 1).limit(1)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    IvfIndex.append(one, dir)
    IvfIndex.append(one.withColumn("embedding", reverse(col("embedding"))), dir)
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.compact(spark, dir)
    }
    assert(ex.getMessage.contains("CONFLICTING"), ex.getMessage)
    // the failed compact must leave the index probable (staging never
    // swapped in)
    assert(IvfIndex.topK(spark, dir, emb.limit(3), k = 2, nProbe = 2)
      .collect().nonEmpty)
  }

  test("stream ledger prunes below the high-water mark at compaction; replay stays inert") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    val rows = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingIndexer.indexSink(
      mem.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 4)
    (0 until 8).foreach { b =>
      mem.addData(rows.filter(_._1 % 16 == 2 * b + 1).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val restDf = emb.limit(10).select("vec_id", "embedding")
    // two compactions ran (counts 4 and 8) — the ledger is pruned to a
    // single high-water file, NOT eight markers
    // raw listing (NOT hadoop's, which hides its .crc shadows) minus
    // the checksum files and the stream-identity record (one
    // `_query_<id>` file, owned by the sink's query, prune-immune)
    def ledgerFiles() = new java.io.File(s"$dir/stream_commits").listFiles()
      .map(_.getName).filterNot(_.startsWith("."))
      .filterNot(_.startsWith("_query_")).sorted.toSeq
    // the identity record exists exactly once
    assert(new java.io.File(s"$dir/stream_commits").listFiles()
      .count(_.getName.startsWith("_query_")) == 1)
    assert(ledgerFiles() == Seq("_hwm_7"), ledgerFiles().mkString(","))
    assert(graft.streaming.StreamingIndexer
      .committedBatches(restDf, dir) == 8L)
    // replay of a PRUNED batchId is still inert (the hwm path)
    assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dir, 0L))
    assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dir, 7L))
    // a fresh NON-CONTIGUOUS id appends and survives pruning — the
    // prune never assumes an id it hasn't seen
    assert(graft.streaming.StreamingIndexer.appendBatch(
      restDf.limit(0), dir, 99L))
    assert(graft.streaming.StreamingIndexer.pruneLedger(restDf, dir) == 7L)
    assert(ledgerFiles() == Seq("99", "_hwm_7"), ledgerFiles().mkString(","))
    assert(graft.streaming.StreamingIndexer
      .committedBatches(restDf, dir) == 9L)
    // the next contiguous id extends the prefix; the gap marker stays
    assert(graft.streaming.StreamingIndexer.appendBatch(
      restDf.limit(0), dir, 8L))
    assert(graft.streaming.StreamingIndexer.pruneLedger(restDf, dir) == 8L)
    assert(ledgerFiles() == Seq("99", "_hwm_8"), ledgerFiles().mkString(","))
    assert(graft.streaming.StreamingIndexer
      .committedBatches(restDf, dir) == 10L)
  }

  test("incremental scan coverage: base ∪ excludeNProbe top-k contains the fresh-wide top-k") {
    // the invariant marginAlignIvf's escalation rests on (and the
    // r12 EscDebug investigation measured by hand before those
    // one-shot mains were retired): the excludeNProbe scan visits
    // exactly the wide selection's cells MINUS the base selection's,
    // so any candidate ranked ≤ k by the fresh-wide scan is ranked
    // ≤ k by whichever of base/incremental saw it (fewer competitors
    // can only improve a rank) — the escalated union never loses a
    // wide result. Directions can differ (the union may rank extra
    // base candidates above wide's tail), which is why the assertion
    // is containment, not equality.
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb, dir, nCells = 8)
    val probes = emb.filter(col("vec_id") % 10 === 0)
    def pairs(nProbe: Int, excl: Int) =
      IvfIndex.topK(spark, dir, probes, k = 8, nProbe = nProbe,
          excludeNProbe = excl)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(4, 0)
    val incr = pairs(8, 4)
    val wide = pairs(8, 0)
    assert(wide.nonEmpty && incr.nonEmpty)
    val missing = wide -- (base ++ incr)
    assert(missing.isEmpty,
      s"${missing.size} wide pairs outside base ∪ incremental: " +
        missing.take(5).mkString(","))
  }

  test("stream sink restarted FROM its checkpoint: replays stay inert, fresh data lands") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    val base = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val probes = emb.limit(5)
    // batch-append reference over ALL three ingest slices
    val dRef = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(base, dRef, nCells = 4)
    IvfIndex.append(rest, dRef)
    val ref = IvfIndex.topK(spark, dRef, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-ivf-chk").toString
    IvfIndex.build(base, dir, nCells = 4)
    val rows = rest.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val slices = Array(
      rows.filter(_._1 % 8 == 1), rows.filter(_._1 % 8 == 3),
      rows.filter(r => r._1 % 8 == 5 || r._1 % 8 == 7))
    // first driver lifetime: two batches through the checkpointed sink
    val mem = MemoryStream[(Long, Array[Float])]
    val q1 = graft.streaming.StreamingIndexer.indexSink(
      mem.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 0,
      checkpointLocation = Some(chk))
    mem.addData(slices(0).toSeq: _*); q1.processAllAvailable()
    mem.addData(slices(1).toSeq: _*); q1.processAllAvailable()
    q1.stop()
    val restDf = rest.select("vec_id", "embedding")
    assert(graft.streaming.StreamingIndexer.committedBatches(restDf, dir) == 2L)
    // "driver restart": a NEW query recovered from the SAME checkpoint
    // — batchIds continue past the committed prefix instead of
    // renumbering from 0, so the ledger's idempotency key stays valid
    val q2 = graft.streaming.StreamingIndexer.indexSink(
      mem.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 0,
      checkpointLocation = Some(chk))
    mem.addData(slices(2).toSeq: _*); q2.processAllAvailable()
    q2.stop()
    assert(graft.streaming.StreamingIndexer.committedBatches(restDf, dir) == 3L)
    // nothing double-landed, nothing dropped: the restarted stream's
    // index probes bit-identically to the batch-append reference
    val codes = spark.read.parquet(s"$dir/codes.parquet")
    assert(codes.count() ==
      codes.select("vec_id").distinct().count(), "duplicate vec_ids")
    val streamed = IvfIndex.topK(spark, dir, probes, k = 4, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(ref),
      s"restarted stream ${streamed.length} rows vs batch ${ref.length}")
  }

  test("stream sink restarted WITHOUT its checkpoint fails loudly instead of dropping batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    val rows = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // two committed batches (max committed id = 1)
    val mem1 = MemoryStream[(Long, Array[Float])]
    val q1 = graft.streaming.StreamingIndexer.indexSink(
      mem1.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 0)
    mem1.addData(rows.filter(_._1 % 8 == 1).toSeq: _*); q1.processAllAvailable()
    mem1.addData(rows.filter(_._1 % 8 == 3).toSeq: _*); q1.processAllAvailable()
    q1.stop()
    val before = spark.read.parquet(s"$dir/codes.parquet").count()
    // the restart-without-checkpoint mistake: a FRESH query renumbers
    // batches from 0; the r12 hwm check alone would silently skip every
    // fresh batch until the counter passed the old max — the sink must
    // refuse instead (batchId 0 < max committed 1 is impossible under
    // checkpoint recovery)
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.StreamingIndexer.indexSink(
      mem2.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 0)
    mem2.addData(rows.filter(_._1 % 8 == 5).toSeq: _*)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("restarted WITHOUT its checkpoint")),
      messages(ex).mkString(" | "))
    try q2.stop() catch { case _: Exception => () }
    // and nothing was silently appended or dropped from the index
    assert(spark.read.parquet(s"$dir/codes.parquet").count() == before)
  }

  test("ledger stream-identity catches a renumbered stream even against a single-batch ledger") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamExecution}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    // END-TO-END: with only ONE committed batch, a renumbered stream's
    // batch 0 collides with max committed id 0 — the batchId-ordering
    // guard is blind here by construction, so the identity record must
    // catch it
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    val rows = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem1 = MemoryStream[(Long, Array[Float])]
    val q1 = graft.streaming.StreamingIndexer.indexSink(
      mem1.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 0)
    mem1.addData(rows.filter(_._1 % 4 == 1).toSeq: _*); q1.processAllAvailable()
    q1.stop()
    val before = spark.read.parquet(s"$dir/codes.parquet").count()
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.StreamingIndexer.indexSink(
      mem2.toDF().toDF("vec_id", "embedding"), dir, compactEvery = 0)
    mem2.addData(rows.filter(_._1 % 4 == 3).toSeq: _*)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m => m.contains("DIFFERENT stream") &&
        m.contains("restarted WITHOUT its checkpoint")),
      messages(ex).mkString(" | "))
    try q2.stop() catch { case _: Exception => () }
    assert(spark.read.parquet(s"$dir/codes.parquet").count() == before)

    // DIRECT-CALL contract (the property is just a thread-local — the
    // factored unit is testable without a stream): same id replays
    // inert, mismatched id on a SKIP throws, a fresh batchId from a
    // new id is a legitimate takeover and the record follows it
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.limit(60), dir2, nCells = 2)
    val restDf = emb.limit(0).select("vec_id", "embedding")
    val sc = spark.sparkContext
    try {
      sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, "stream-A")
      assert(graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 5L))
      assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 5L))
      sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, "stream-B")
      intercept[IllegalArgumentException] {
        graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 5L)
      }
      assert(graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 6L))
      assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 6L))
      sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, "stream-A")
      intercept[IllegalArgumentException] {
        graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 6L)
      }
    } finally sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, null)
    // outside any stream (no property), replays of either id stay inert
    assert(!graft.streaming.StreamingIndexer.appendBatch(restDf, dir2, 5L))
  }

  test("renameIfAbsent arbitrates on an existing destination instead of nesting") {
    // the load-bearing Hadoop semantic behind the swap/heal races:
    // FileSystem.rename onto an existing destination DIRECTORY moves
    // the source inside it and reports success — renameIfAbsent must
    // instead report false and leave both directories untouched, so
    // a racing peer's completed rename is never corrupted into a
    // nested copy (pinned here against Hadoop upgrades)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory("graft-rn").toString
    def mk(name: String): org.apache.hadoop.fs.Path = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      new java.io.File(d, "payload").createNewFile()
      new org.apache.hadoop.fs.Path(d.toString)
    }
    val src = mk("src"); val dst = mk("dst")
    assert(!IvfIndex.renameIfAbsent(conf, src, dst),
      "existing destination must lose the arbitration")
    assert(new java.io.File(root, "src/payload").exists(), "src untouched")
    assert(new java.io.File(root, "dst/payload").exists(), "dst untouched")
    assert(!new java.io.File(root, "dst/src").exists(), "nothing nested")
    // absent destination: the rename proceeds normally
    val dst2 = new org.apache.hadoop.fs.Path(s"$root/dst2")
    assert(IvfIndex.renameIfAbsent(conf, src, dst2))
    assert(new java.io.File(root, "dst2/payload").exists())
    assert(!new java.io.File(root, "src").exists())
  }

  test("a compact crash between the swap renames heals on next use") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), dir, nCells = 4)
    IvfIndex.append(emb.filter(col("vec_id") % 2 === 1), dir)
    val probes = emb.limit(7)
    val ref = IvfIndex.topK(spark, dir, probes, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted
    val conf = spark.sparkContext.hadoopConfiguration
    val codes = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet")
    val fs = codes.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet.old")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet.compacting")
    def plantCrash(): Unit = {
      // the mid-swap state: codes moved aside, replacement not yet in
      // place (and a possibly-incomplete staging dir left behind)
      assert(fs.rename(codes, old))
      fs.mkdirs(tmp)
      assert(!fs.exists(codes))
    }
    // a PROBE heals the stranded index transparently
    plantCrash()
    val healed = IvfIndex.topK(spark, dir, probes, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted
    assert(healed.sameElements(ref), "probe after heal must match")
    assert(fs.exists(codes) && !fs.exists(old))
    // a COMPACT heals first, then completes its own rewrite
    plantCrash()
    val (nIn, nOut) = IvfIndex.compact(spark, dir)
    assert(nOut <= nIn && fs.exists(codes) && !fs.exists(old) && !fs.exists(tmp))
    assert(IvfIndex.topK(spark, dir, probes, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted.sameElements(ref))
    // an APPEND heals before landing its batch
    plantCrash()
    IvfIndex.append(emb.limit(1)
      .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding")), dir)
    assert(fs.exists(codes) && !fs.exists(old))
    assert(spark.read.parquet(codes.toString)
      .filter(col("vec_id") >= 20000000L).count() == 1L)
    // the rename arbitration must never NEST a dataset inside the
    // index root (FileSystem.rename onto an existing destination dir
    // silently moves the source INSIDE it — the precise-rename fix):
    // after all three heals, codes.parquet contains cell dirs only
    val nested = new java.io.File(s"$dir/codes.parquet").listFiles()
      .filter(_.getName.startsWith("codes.parquet"))
    assert(nested.isEmpty, s"nested datasets: ${nested.mkString(",")}")
  }

  test("an interrupted prune's residue is reclaimed by the next prune") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val restDf = emb.limit(1).select("vec_id", "embedding")
    val ledger = new java.io.File(s"$dir/stream_commits")
    ledger.mkdirs()
    // the interrupted-prune shape: _hwm_5 was written, then the crash —
    // covered markers (3, 4) and the superseded _hwm_2 survive; a live
    // marker (7, non-contiguous: 6 is missing) must NOT be touched
    Seq("_hwm_5", "_hwm_2", "3", "4", "7")
      .foreach(n => new java.io.File(ledger, n).createNewFile())
    // no contiguity advance is possible (6 missing), yet the residue is
    // swept — the r12 prune only cleaned when the mark advanced
    assert(graft.streaming.StreamingIndexer.pruneLedger(restDf, dir) == 5L)
    val files = ledger.listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(files == Seq("7", "_hwm_5"), files.mkString(","))
    assert(graft.streaming.StreamingIndexer
      .committedBatches(restDf, dir) == 7L)
  }

  test("rebuilding the index is idempotent; probes see the new build") {
    val emb = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.build(emb, dir, nCells = 4)
    val first = IvfIndex.topK(spark, dir, emb.limit(3), k = 2, nProbe = 2)
      .collect().map(_.toString).sorted
    IvfIndex.build(emb, dir, nCells = 4) // overwrite in place
    val second = IvfIndex.topK(spark, dir, emb.limit(3), k = 2, nProbe = 2)
      .collect().map(_.toString).sorted
    assert(first.sameElements(second))
  }
}
