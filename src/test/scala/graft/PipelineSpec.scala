package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupPipeline, Sampling, Similarity, SkewJoin}

class PipelineSpec extends SparkSpec {

  test("deduped corpus removes exactly the duplicate-component extras") {
    val docs = Tables(spark, sf).documents
    val total = docs.count()
    val edges = DedupPipeline.duplicateEdges(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // expected component structure via union-find on the driver (test
    // oracle only — the operator itself is fully distributed)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val docsInComponents = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val nComponents = docsInComponents.map(find).distinct.length
    val expectedKept = total - docsInComponents.length + nComponents

    val kept = DedupPipeline.dedupedCorpus(docs, threshold = 0.8)
    assert(kept.count() == expectedKept)
    // representatives are component minima
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    docsInComponents.groupBy(find).foreach { case (_, members) =>
      val m = members.min
      assert(keptIds.contains(m))
      members.filter(_ != m).foreach(x => assert(!keptIds.contains(x)))
    }
  }

  test("long-chain components converge within the round budget (pointer jumping)") {
    // a 40-doc chain has diameter 39: plain neighbor propagation would
    // need 39 rounds, so maxRounds=10 only works because the pointer
    // jump halves the remaining diameter each round (O(log d))
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = DedupPipeline.componentLabels(docs, edges, maxRounds = 10)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === 40)
    assert(got.values.forall(_ == 0L), s"unconverged labels: $got")
  }

  test("componentLabels fails loudly instead of returning split components") {
    import spark.implicits._
    val docs = (0L until 10L).toDF("doc_id")
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // 1 round cannot settle a 10-node chain even with jumping
    assertThrows[IllegalStateException] {
      DedupPipeline.componentLabels(docs, edges, maxRounds = 1).collect()
    }
  }

  test("empty edge set: every doc is its own component, no crash") {
    import spark.implicits._
    val docs = (0L until 5L).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val labels = DedupPipeline.componentLabels(docs, edges)
    assert(labels.count() === 0) // only edge-touched vertices get labels
    val kept = DedupPipeline.dedupedCorpus(
      docs.withColumn("text", concat(lit("unique text x"), col("doc_id"))))
    assert(kept.count() === 5)
  }

  test("reliable-checkpoint mode matches localCheckpoint results exactly") {
    // with a checkpoint dir set, every iterative barrier goes through
    // reliable checkpoint() (replicated, survives executor loss at
    // cluster scale) instead of localCheckpoint; results are identical
    val docs = Tables(spark, sf).documents
    val expectLabels = DedupPipeline.componentLabels(docs,
        DedupPipeline.duplicateEdges(docs, threshold = 0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectAdmit = DedupPipeline.incrementalDedup(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      assert(sc.getCheckpointDir.isDefined)
      val labels = DedupPipeline.componentLabels(docs,
          DedupPipeline.duplicateEdges(docs, threshold = 0.8))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels == expectLabels)
      val admit = DedupPipeline.incrementalDedup(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admit == expectAdmit)
      // checkpoints actually landed on the reliable dir
      assert(new java.io.File(dir).listFiles != null
        && new java.io.File(dir).listFiles.nonEmpty, s"no checkpoint data under $dir")
    } finally {
      org.apache.spark.sql.graftshim.GraftShim.clearCheckpointDir(sc)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("exact-dup groups route minhash through one representative (no k² bucket pairs)") {
    import spark.implicits._
    // 30 identical copies (ids 100-129) + a near-dup of the copy text
    // (id 500, one word changed: shingle jaccard ≈ 0.94 so every LSH
    // band agrees with near-certainty) + unrelated docs
    val base = (0 until 50).map(i => s"w$i").mkString(" ")
    val near = base.replace("w49", "zz")
    val docs = ((100L until 130L).map(i => (i, base)) ++
      Seq((500L, near), (600L, "totally different words entirely"),
        (601L, "another unrelated document body"))).toDF("doc_id", "text")
    val edges = DedupPipeline.duplicateEdges(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // near-dup edges only ever touch the group representative (100):
    // copies 101..129 appear solely as targets of exact edges from 100
    val exactTargets = edges.filter(_._1 == 100L).map(_._2).toSet
    assert((101L until 130L).forall(exactTargets.contains))
    edges.filterNot(e => e._1 == 100L && e._2 < 130L).foreach { case (a, b) =>
      assert(a < 101L || a >= 130L, s"non-rep copy $a in near edge ($a,$b)")
      assert(b < 101L || b >= 130L, s"non-rep copy $b in near edge ($a,$b)")
    }
    // the k copies contribute k-1 exact edges + O(1) near edges, not k²
    assert(edges.length < 40, s"edge blow-up: ${edges.length}")
    // the whole clique + near-dup collapses to one kept doc (the min)
    val kept = DedupPipeline.dedupedCorpus(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 600L, 601L), s"kept $kept")
  }

  test("incremental dedup admits novel docs and rejects corpus dupes") {
    import spark.implicits._
    val corpusText = (0 until 60).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      (1L, corpusText),
      (2L, (100 until 160).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val nearOfCorpus = corpusText.replace("c59", "zz") // jaccard ≈ 0.95
    val batchDup = (200 until 260).map(i => s"b$i").mkString(" ")
    val batch = Seq(
      (10L, corpusText),                 // exact dup of corpus -> reject
      (11L, nearOfCorpus),               // near dup of corpus -> reject
      (12L, batchDup),                   // within-batch pair: keep min id
      (13L, batchDup),
      (14L, "a genuinely novel document body here")) // novel -> admit
      .toDF("doc_id", "text")
    val kept = DedupPipeline.incrementalDedup(corpus, batch, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 14L), s"kept $kept")
    // the corpus-cache gate (fat vs slim + source re-derive) is a
    // physical choice only — the slim verdict must admit the same docs
    val keptSlim = DedupPipeline.incrementalDedupWith(corpus, batch,
        "text", "doc_id", 0.8, corpusFat = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSlim == kept, s"slim path kept $keptSlim")
  }

  test("incremental dedup and corpus dedup honor custom column names") {
    import spark.implicits._
    val corpus = Seq((1L, "shared corpus body of words here repeated " * 3))
      .toDF("id", "body")
    val batch = Seq(
      (10L, ("shared corpus body of words here repeated " * 3)), // exact dup
      (11L, "a new body"), (12L, "a new body"),                  // batch dup pair
      (13L, "something else entirely")).toDF("id", "body")
    val kept = DedupPipeline.incrementalDedup(corpus, batch,
        textCol = "body", idCol = "id", threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L), s"kept $kept")
  }

  test("salted join equals plain join") {
    val t = Tables(spark, sf)
    val orders = t.orders
    val customer = t.customer
    val plain = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_name")
      .collect().map(_.toString).sorted
    val salted = SkewJoin.saltedJoin(t.orders, t.customer,
        "o_custkey", "c_custkey", nSalts = 8)
      .select("o_orderkey", "c_name")
      .collect().map(_.toString).sorted
    assert(plain.sameElements(salted))
  }

  test("ivf ann overlaps brute-force top-k with bounded candidate work") {
    val emb = Tables(spark, sf).embeddings
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") % 50 === 0, k = 5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") % 50 === 0, k = 5,
      nCells = 8, nProbe = 4)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"ivf recall $recall")
  }

  test("leakage split keeps every duplicate family on one side") {
    val docs = Tables(spark, sf).documents
    val split = Sampling.holdoutSplit(
        DedupPipeline.componentsOf(docs), "component", 0.10, 0.10)
      .select(col("doc_id"), col("split"))
    // near-dup pairs (the contamination path) must never straddle
    val straddlers = Dedup.minhashLsh(docs)
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddlers == 0, s"$straddlers near-dup pairs straddle splits")
    // exact-dup groups too: one split per md5 class
    val mixed = docs.join(split, "doc_id")
      .groupBy(md5(col("text"))).agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    assert(mixed == 0, s"$mixed exact-dup groups straddle splits")
    // and it is a real three-way split at this scale
    val sides = split.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(sides == Set("train", "val", "test"), sides.toString)
  }

  test("ComponentsCache: cached labels equal direct, reuse is same-frame, LRU evicts") {
    SessionCaches.reset("components")
    val docs = Tables(spark, sf).documents
    val direct = DedupPipeline.componentsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cached = DedupPipeline.cachedComponents(docs, "cA")
    assert(cached.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == direct)
    // warm key: the SAME checkpointed frame comes back, no recompute
    assert(cached eq DedupPipeline.cachedComponents(
      sys.error("must not recompute on a warm key"), "cA"))
    // a second corpus coexists (breadth), then MaxLive+1 more evict cA
    val small = docs.limit(50)
    DedupPipeline.cachedComponents(small, "cB")
    assert(cached eq DedupPipeline.cachedComponents(
      sys.error("cA must survive cB"), "cA"))
    (1 to DedupPipeline.ComponentsMaxLive + 1).foreach { i =>
      DedupPipeline.cachedComponents(small, s"c$i")
    }
    assert(SessionCaches.liveCount("components") ==
      DedupPipeline.ComponentsMaxLive)
    assert(!(cached eq DedupPipeline.cachedComponents(docs, "cA")))
    SessionCaches.reset("components")
  }

  test("label propagation: ivf path agrees with the exact vote") {
    val emb = Tables(spark, sf).embeddings
    val seed = col("vec_id") % 5 === 0
    val exact = Similarity.labelPropagateExact(emb, seed, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // every non-seed vector gets exactly one prediction with 1..k votes
    val nProbes = emb.filter(col("vec_id") % 5 =!= 0).count()
    assert(exact.size == nProbes.toInt)
    exact.values.foreach { case (_, v) => assert(v >= 1 && v <= 5) }
    // exhaustive IVF (nProbe = nCells, heap margin ≥ seed count at
    // this sf): candidate set is ALL seeds, so the vote — and thus
    // every prediction — must EQUAL the exact path's
    val full = Similarity.labelPropagate(emb, seed, k = 5,
        nCells = 2, nProbe = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(full == exact)
    // blocked IVF (fewer probed cells than cells): still total over
    // the probes, and agreement stays high
    val blocked = Similarity.labelPropagate(emb, seed, k = 5,
        nCells = 4, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(blocked.keySet == exact.keySet)
    val agree = blocked.count { case (id, l) => exact(id)._1 == l }
      .toDouble / exact.size
    assert(agree > 0.5, s"ivf/exact label agreement $agree")
  }

  test("label propagation: an over-cap seed set fails loudly before the driver collect") {
    // the premise is hand-labeled ≪ corpus; a programmatic seed filter
    // matching a corpus-sized slice must refuse with an actionable
    // message (the StreamingQuality vocab-cap rule), not OOM the driver
    val emb = Tables(spark, sf).embeddings
    val seed = col("vec_id") % 5 === 0
    val ex = intercept[IllegalArgumentException] {
      Similarity.labelPropagate(emb, seed, k = 5, nCells = 2, nProbe = 2,
        seedCap = 3L)
    }
    assert(ex.getMessage.contains("seedCap"), ex.getMessage)
    assert(ex.getMessage.contains("narrow the seed filter"), ex.getMessage)
  }

  test("mmr diversification trades redundant relevance for coverage") {
    import spark.implicits._
    // probe between two tight clusters; A is nearer. Pure relevance
    // ranks ALL of A first; MMR must interleave B at rank 2 because
    // a second A is ~fully redundant (within-cluster sim ≈ 1).
    val probe = (0L, Seq(1f, 1f, 0f, 0f))
    val aIds = (1L to 4L)
    val bIds = (11L to 13L)
    val a = aIds.map(i => (i, Seq(1f, 0.2f, i * 1e-4f, 0f)))
    val b = bIds.map(j => (j, Seq(0.1f, 1f, 0f, j * 1e-4f)))
    val emb = (probe +: (a ++ b)).toDF("vec_id", "embedding")
    val out = Similarity.mmrDiversify(emb, col("vec_id") === 0,
        topN = 7, k = 5)
      .orderBy("mmr_rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 5)
    assert(out.map(_._1).toSeq == (1 to 5), "ranks are 1..k")
    assert(aIds.contains(out(0)._2), s"rank 1 is the most relevant (A): ${out.toSeq}")
    assert(bIds.contains(out(1)._2),
      s"rank 2 jumps to the other cluster, not the redundant A: ${out.toSeq}")
    assert(out.map(_._2).distinct.length == 5, "no repeats")
    // set-based greedy: partitioning must not change a single pick
    val re = Similarity.mmrDiversify(emb.repartition(7), col("vec_id") === 0,
        topN = 7, k = 5)
      .orderBy("mmr_rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(re.toSeq == out.toSeq, "mmr is partitioning-invariant")
  }

  test("ivf cell selection: exhaustive ranking exact, coarse level keeps the top cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // a centroid table big enough to engage the coarse level (> 256
    // cells), clustered so the coarse quantizer has structure to find
    val cents = Array.tabulate(600) { c =>
      val axis = c % 8
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f)
        + (rnd.nextFloat() - 0.5f) * 0.3f)
    }
    // probes near centroids — the IVF regime (probes live in the
    // indexed distribution)
    val probeRows = (0 until 200).map { p =>
      val c = cents(rnd.nextInt(600))
      (p.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val df = probeRows.toDF("vec_id", "embedding")
    def bruteTop(v: Array[Float], nProbe: Int): Seq[Int] = {
      val pp = v.map(x => x.toDouble * x).sum
      cents.zipWithIndex.map { case (c, i) =>
        var dot = 0.0; var j = 0
        while (j < 8) { dot += v(j).toDouble * c(j).toDouble; j += 1 }
        var cc = 0.0; var j2 = 0
        while (j2 < 8) { cc += c(j2).toDouble * c(j2).toDouble; j2 += 1 }
        ((pp - 2.0 * dot) + cc, i)
      }.sortBy(identity).take(nProbe).map(_._2).toSeq
    }
    // exhaustive native selection == brute-force (dist2 asc, cell asc)
    val exact = df.select(col("vec_id"),
        Similarity.cellSelect(col("embedding"), cents, 4, coarse = false).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    probeRows.foreach { case (id, v) =>
      assert(exact(id) == bruteTop(v, 4), s"probe $id")
    }
    // coarse selection: still nProbe cells, and the probe's TRUE best
    // cell survives the super-cell pruning for nearly every probe
    // (fixed data → the assertion is deterministic)
    val coarse = df.select(col("vec_id"),
        Similarity.cellSelect(col("embedding"), cents, 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    coarse.values.foreach(s => assert(s.size == 4))
    val top1Kept = probeRows.count { case (id, v) =>
      coarse(id).contains(bruteTop(v, 1).head) }
    assert(top1Kept >= 190, s"coarse kept top-1 for $top1Kept/200 probes")
  }

  test("knn graph: exact at one cell, mutual-only and recall-gated when blocked") {
    val emb = Tables(spark, sf).embeddings
    // brute-force mutual kNN reference
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vecs.keys.toSeq.sorted
    val topk = ids.map { s =>
      s -> ids.filter(_ != s)
        .map(d => (d, cos(vecs(s), vecs(d))))
        .sortBy { case (d, c) => (-c, d) }.take(4).map(_._1).toSet
    }.toMap
    val wantMutual = (for {
      a <- ids; b <- topk(a) if a < b && topk(b).contains(a)
    } yield (a, b)).toSet

    // nCells = 1: blocking disabled, output must EQUAL the reference
    val oneCell = Similarity.knnGraph(emb, k = 4, nCells = 1)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneCell == wantMutual)

    // auto cells: every edge must still be mutual in the blocked
    // top-k sense (a subset of candidates), ordered a < b, and keep
    // real recall vs the exact mutual graph
    val blocked = Similarity.knnGraph(emb, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(blocked.forall { case (a, b, c) => a < b && c <= 1.0001 })
    val blockedSet = blocked.map(t => (t._1, t._2)).toSet
    val recall = (wantMutual & blockedSet).size.toDouble /
      math.max(wantMutual.size, 1)
    assert(recall > 0.3, s"knn-graph recall $recall of ${wantMutual.size}")

    // forced SRP sub-bucketing (the beyond-the-cell-cap scale path;
    // auto bits are 0 at this size): edges stay mutual and ordered,
    // and recall vs the exact mutual graph survives the extra split
    val sub = Similarity.knnGraph(emb, k = 4, subBits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sub.forall { case (a, b) => a < b })
    val subRecall = (wantMutual & sub.toSet).size.toDouble /
      math.max(wantMutual.size, 1)
    assert(subRecall > 0.2, s"sub-bucketed recall $subRecall")
  }
}
