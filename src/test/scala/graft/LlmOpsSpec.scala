package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class LlmOpsSpec extends SparkSpec {

  private def docs = Tables(spark, sf).documents

  test("minhash LSH finds the exact-jaccard near-dup pairs") {
    // ground truth: prefix-blocked exact word-set jaccard >= 0.8
    val truth = Dedup.prefixJaccardPairs(docs, prefixLen = 40, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashLsh(docs, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "test data should contain planted near-dups")
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} pairs")
  }

  test("minhash slim-cache path returns the fat path's pairs exactly") {
    // the cache-contents gate (fat shingles+buckets vs slim buckets +
    // source re-derive) is a PHYSICAL choice only — the pair set and
    // jaccard values must be identical. sf corpora always gate fat,
    // so pass both verdicts explicitly.
    def run(fatCache: Boolean): Set[(Long, Long, Double)] =
      Dedup.minhashLshWith(docs, "text", "doc_id", 0.8, None, 0, fatCache)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fat = run(fatCache = true)
    val slim = run(fatCache = false)
    assert(fat.nonEmpty && fat == slim,
      s"fat ${fat.size} pairs vs slim ${slim.size}")
  }

  test("default fat-cache gate: fat at sf scale, slim past the storage budget") {
    // sf-scale corpora sit far under the cache budget: the shingle
    // arrays ride the signature cache (both call sites' gates)
    assert(Dedup.fatCacheGate(docs), "sf-scale corpus must gate fat")
    assert(Dedup.fatCacheGate(docs, carryRowBytes = 48L),
      "the md5 carry must not flip an sf-scale corpus to slim")
    // a stats-inflated frame (an unexecuted crossJoin: only the
    // optimizer stats are read) crosses the budget: slim
    val inflated = docs.crossJoin(spark.range(1L << 28).toDF("blowup_rep"))
    assert(!Dedup.fatCacheGate(inflated), "past-budget stats must gate slim")
    assert(!Dedup.fatCacheGate(inflated, carryRowBytes = 48L))
  }

  test("prefix-jaccard bucket cap cuts a planted boilerplate family whole, keeps the rest") {
    import spark.implicits._
    val pre = (1 to 12).map(i => s"pw$i").mkString(" ") // 51 chars shared
    val family = (0 until 40).map(i => (i.toLong, s"$pre tail$i"))
    val shared = "unique alpha beta gamma delta epsilon zeta" // 42 chars
    val pair = Seq((100L, s"$shared one"), (101L, s"$shared two"))
    val d = (family ++ pair).toDF("doc_id", "text")
    val capped = Dedup.prefixJaccardPairs(d, threshold = 0.5, maxBucket = 32)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 40-doc family is over the cap → dropped whole (cut, not split)
    assert(!capped.exists { case (a, b) => a < 100 || (b < 100) },
      s"family pairs survived the cap: $capped")
    // the small bucket's genuine near-dup pair survives
    assert(capped.contains((100L, 101L)), capped.toString)
    // cap off → the family's quadratic pair set is back
    val uncapped = Dedup.prefixJaccardPairs(d, threshold = 0.5, maxBucket = 0).count()
    assert(uncapped >= 40L * 39 / 2, s"uncapped pair count $uncapped")
  }

  test("prefix-jaccard cap: count+semi form equals the window-form reference pair-for-pair") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // planted: an over-cap 40-doc family (cut whole), an exactly-at-cap
    // 32-doc family (kept — the boundary), a 2-doc near-dup bucket,
    // plus the real sf corpus underneath
    val hot = (1 to 12).map(i => s"hw$i").mkString(" ")
    val edge = (1 to 12).map(i => s"ew$i").mkString(" ")
    val small = "unique alpha beta gamma delta epsilon zeta"
    val planted =
      (0 until 40).map(i => (2000L + i, s"$hot tail$i")) ++
      (0 until 32).map(i => (3000L + i, s"$edge tail$i")) ++
      Seq((4000L, s"$small one"), (4001L, s"$small two"))
    val d = docs.select(col("doc_id"), col("text"))
      .unionAll(planted.toDF("doc_id", "text"))
    // reference semantics: the r13 window form — keep docs whose
    // 40-char-prefix group is within the cap, then uncapped pairs
    // restricted to kept docs (doc→pre is functional and both pair
    // members share pre, so filtering on doc_a alone is exact)
    val keep = d.select(col("doc_id"), substring(col("text"), 1, 40).as("pre"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("pre")))
      .filter(col("__n") <= 32).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = Dedup.prefixJaccardPairs(d, threshold = 0.5, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, _, _) => keep(a) }.toSet
    val actual = Dedup.prefixJaccardPairs(d, threshold = 0.5, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(actual == expected,
      s"capped form diverges from window reference: " +
        s"only-actual ${(actual -- expected).take(5)}, " +
        s"only-expected ${(expected -- actual).take(5)}")
    // the at-cap family's pairs survive (boundary is <=, not <)
    assert(actual.exists { case (a, b, _) => a >= 3000 && a < 3100 && b < 3100 },
      "exactly-at-cap bucket was cut")
    // the over-cap family is gone whole
    assert(!actual.exists { case (a, _, _) => a >= 2000 && a < 2100 },
      "over-cap family pairs survived")
  }

  test("simhash cap: count+semi form equals the window-form reference pair-for-pair") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // planted: 40 copies of one text (identical simhash → every family
    // window bucket holds all 40 → decisively over a 32 cap), plus the
    // sf corpus underneath for realistic background buckets
    val famBase = (1 to 30).map(i => s"fam$i word$i common").mkString(" ")
    val planted = (0 until 40).map(i => (5000L + i, famBase))
    val d = docs.select(col("doc_id"), col("text"))
      .unionAll(planted.toDF("doc_id", "text"))
    // reference = the r13 window form, replicated verbatim over the
    // same signature/windowing derivation the impl uses
    val sh = d.select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
    val rot = shiftleft(col("simhash"), 8)
      .bitwiseOR(shiftrightunsigned(col("simhash"), 56))
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(array(
        (0 until 4).map { j =>
          struct(lit(j).as("chunk_id"),
            shiftrightunsigned(col("simhash"), j * 16)
              .bitwiseAND(lit(0xFFFFL)).as("chunk"))
        } ++ (0 until 4).map { j =>
          struct(lit(j + 4).as("chunk_id"),
            shiftrightunsigned(rot, j * 16)
              .bitwiseAND(lit(0xFFFFL)).as("chunk"))
        }: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_id"), col("c.chunk"))
    def pairsOf(blocked: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] = {
      val a = blocked.select(col("chunk_id"), col("chunk"),
        col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
      val b = blocked.select(col("chunk_id"), col("chunk"),
        col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
      a.join(b, Seq("chunk_id", "chunk"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
        .filter(col("hamming") <= 10)
        .dropDuplicates("doc_a", "doc_b")
        .select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.get(2).toString.toInt)).toSet
    }
    for (cap <- Seq(32, 0)) {
      val w = Window.partitionBy("chunk_id", "chunk")
      val ref = pairsOf(
        if (cap <= 0) chunked
        else chunked.withColumn("__n", count(lit(1)).over(w))
          .filter(col("__n") <= cap).drop("__n"))
      val actual = Dedup.simhashPairs(d, maxHamming = 10, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.get(2).toString.toInt)).toSet
      assert(actual == ref,
        s"cap=$cap diverges: only-actual ${(actual -- ref).take(5)}, " +
          s"only-ref ${(ref -- actual).take(5)}")
      if (cap > 0)
        assert(!actual.exists { case (a, b, _) => a >= 5000 && b >= 5000 },
          s"cap=$cap kept over-cap family pairs")
    }
    // uncapped still finds the whole planted family (the singleton
    // pre-cut drops no real pair)
    val un = Dedup.simhashPairs(d, maxHamming = 10, maxBucket = 0)
      .filter(col("doc_a") >= 5000).count()
    assert(un == 40L * 39 / 2, s"uncapped family pair count $un")
  }

  test("simhash hamming distance is small exactly for near-dup pairs") {
    val planted = Dedup.prefixJaccardPairs(docs, prefixLen = 40, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    // BLOCKING recall (no hamming cut): the dual 16-bit windowing
    // (aligned + rotated-by-8) guarantees hamming<=3 and empirically
    // recovers most of 4-8; a hard guarantee at higher radii needs
    // combinatorially many tables (Manku et al., WWW'07), which the
    // corpus-level dedup doesn't need because minhash LSH is the
    // primary near-dup edge source
    val blocked = Dedup.simhashPairs(docs, maxHamming = 63)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blockingRecall = (planted & blocked).size.toDouble / planted.size
    assert(blockingRecall >= 0.85, s"simhash blocking recall $blockingRecall")
    // the hamming<=6 cut is SEMANTICS (far pairs are meant to drop);
    // it must still keep the large majority of planted near-dups
    val pairs = Dedup.simhashPairs(docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(blocked))
    val recall = (planted & pairs).size.toDouble / planted.size
    assert(recall >= 0.7, s"simhash recall at ham<=6: $recall")
  }

  test("lsh ann overlaps brute-force top-k") {
    val emb = Tables(spark, sf).embeddings
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") % 50 === 0, k = 5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // random embeddings have weak neighbor structure; wide buckets
    // (4 bits) + 8 tables give the collision rate recall needs here
    val lsh = Similarity.lshTopK(emb, col("vec_id") % 50 === 0, k = 5,
      bits = 4, nTables = 8)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.3, s"lsh recall $recall vs brute force")
    assert(lsh.size <= brute.size)
  }

  test("lsh near-dup finds a subset of brute-force pairs with real recall") {
    val emb = Tables(spark, sf).embeddings
    // brute force over ALL pairs at this small SF
    val brute = Dedup.embeddingNearDup(emb, lit(true), tau = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupLsh(emb, tau = 0.35, bits = 4, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "LSH must not invent pairs")
    if (brute.nonEmpty) {
      val recall = (brute & lsh).size.toDouble / brute.size
      assert(recall > 0.3, s"recall $recall over ${brute.size} pairs")
    }
  }

  test("roundGtBoundary: c > boundary decides exactly like round(c,6) > tau") {
    import org.apache.spark.sql.functions.round
    import spark.implicits._
    for (tau <- Seq(0.35, 0.4, 0.5)) {
      val boundary = Dedup.roundGtBoundary(tau)
      // probe a dense neighborhood of the boundary plus round values
      val probes = (-5 to 5).map(k => boundary + k * math.ulp(boundary)) ++
        (-3 to 3).map(k => tau + k * 5e-7) ++ Seq(0.0, 1.0, tau)
      val viaRound = probes.toDF("c")
        .select(col("c"), (round(col("c"), 6) > tau).as("r")).collect()
        .map(r => r.getDouble(0) -> r.getBoolean(1)).toMap
      probes.foreach { c =>
        assert((c > boundary) == viaRound(c),
          s"tau=$tau c=$c boundary=$boundary spark-round=${viaRound(c)}")
      }
    }
  }

  test("native word shingles match HOF word shingles") {
    import graft.functions.TextFns
    val d = docs.limit(100)
    val mismatches = d.select(
        TextFns.wordShingles(lower(col("text")), 3).as("a"),
        TextFns.wordShinglesHof(lower(col("text")), 3).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(mismatches == 0)
  }

  test("native dot product matches interpreted HOF dot product") {
    import graft.functions.VectorFns
    val emb = Tables(spark, sf).embeddings.limit(50)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")))
      .limit(500)
    val diff = pairs
      .select(abs(VectorFns.dot(col("ea"), col("eb"))
        - VectorFns.dotHof(col("ea"), col("eb"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diff == 0.0, s"native vs HOF dot differ by $diff")
  }

  test("contamination: self-overlap is total, disjoint text is near zero") {
    import graft.operators.TextAnalysis
    val d = docs.limit(50)
    val self = TextAnalysis.contamination(d, d)
    assert(self.filter(col("overlap_ratio") < 1.0).count() == 0,
      "every doc fully overlaps itself")
    // unrelated docs: independent word-salad rarely shares exact
    // 20-char spans, so near-total overlap should not occur
    val other = docs.filter(col("doc_id") >= 250).limit(50)
    val cross = TextAnalysis.contamination(d, other)
    val high = cross.filter(col("overlap_ratio") > 0.9).count()
    assert(high == 0, s"$high docs near-fully contaminated against unrelated corpus")
  }

  test("exact n-gram contamination: verbatim spans hit, disjoint vocab scores zero") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val bench = Seq((100L, (1 to 12).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cand = Seq(
      (1L, (1 to 12).map(i => s"b$i").mkString(" ")), // full copy
      (2L, (1 to 12).map(i => s"c$i").mkString(" ")), // disjoint vocab
      // exactly one shared 8-gram (b1..b8) then fresh words
      (3L, ((1 to 8).map(i => s"b$i") ++ (1 to 8).map(i => s"d$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramContamination(cand, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._3 == 1.0, "verbatim copy must fully overlap")
    assert(out(2L)._2 == 0L, "disjoint vocabulary can never hit")
    assert(out(3L)._2 == 1L, "exactly the one planted 8-gram hits")
    assert(out(3L)._3 < 1.0)
  }

  test("fingerprints are deterministic and bounded") {
    val a = docs.select(col("doc_id") +: TextAnalysis.fingerprint(col("text")): _*)
      .orderBy("doc_id").collect()
    val b = docs.select(col("doc_id") +: TextAnalysis.fingerprint(col("text")): _*)
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
    a.foreach { r => assert(r.getInt(1) > 0) }
  }

  test("langid returns a known code and quality score in [0,1]") {
    val rows = docs
      .select(TextAnalysis.langId(col("text")).as("pred"),
        TextAnalysis.quality(col("text")).last)
      .collect()
    val langs = Set("en", "de", "es", "fr", "zh", "und")
    rows.foreach { r =>
      assert(langs.contains(r.getString(0)))
      val q = r.getDouble(1)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("bloom decontamination never misses an exact hit (one-sided error)") {
    val cands = docs.filter(org.apache.spark.sql.functions.col("source") =!= "src0")
    val bench = docs.filter(org.apache.spark.sql.functions.col("source") === "src0")
    val exact = TextAnalysis.contamination(cands, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bloom = TextAnalysis.bloomContamination(cands, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact.keySet == bloom.keySet) // same candidate docs
    exact.foreach { case (id, hits) =>
      assert(bloom(id) >= hits, s"doc $id: bloom ${bloom(id)} < exact $hits")
    }
    // false positives stay rare at this sizing
    val fpExtra = bloom.map { case (id, m) => m - exact(id) }.sum.toDouble
    val total = bloom.values.sum.toDouble
    assert(total == 0 || fpExtra / math.max(total, 1) < 0.05, s"fp share ${fpExtra / total}")
  }

  test("sequence packing covers the token stream contiguously per shard") {
    val rows = SparkEntry.queries("d_pack")(spark, sf)
      .select("shard", "doc_id", "n_tok", "pack_id", "span_packs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (shard, docs) =>
      val inOrder = docs.sortBy(_._2)
      var prevEnd = 0L // pack after the previous doc's last token
      var cum = 0L
      inOrder.foreach { case (_, id, nTok, packId, span) =>
        assert(span >= 1, s"$shard/$id span $span")
        // the doc starts in the cut containing its first token
        assert(packId == cum / 512, s"$shard/$id pack $packId at cum $cum")
        // no gaps: a doc starts in or adjacent to the previous coverage
        assert(packId <= prevEnd, s"$shard/$id leaves pack ${prevEnd} empty")
        cum += nTok
        prevEnd = (cum - 1) / 512 + 1
        assert(packId + span == prevEnd, s"$shard/$id straddle mismatch")
      }
    }
  }

  test("simhash bucket cap cuts boilerplate families, keeps small-bucket pairs") {
    import spark.implicits._
    // 100 identical docs (one simhash -> every window is a 100-doc
    // bucket) + a small near-dup pair with its own vocabulary
    val boiler = ("copyright footer nav menu login signup " * 8).trim
    val pairA = (0 until 60).map(i => s"v$i").mkString(" ")
    val pairB = pairA.replace("v59", "vx")
    val docs = ((0L until 100L).map(i => (i, boiler)) ++
      Seq((500L, pairA), (501L, pairB))).toDF("doc_id", "text")
    val uncapped = Dedup.simhashPairs(docs, maxHamming = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 100 * 99 / 2, s"family pairs expected: ${uncapped.size}")
    val capped = Dedup.simhashPairs(docs, maxHamming = 10, maxBucket = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate family is cut; the genuine small-bucket pair stays
    assert(capped.contains((500L, 501L)), s"capped lost the real pair: $capped")
    assert(!capped.exists(p => p._1 < 100L && p._2 < 100L),
      s"family pairs survived the cap: ${capped.take(5)}")
  }

  test("word shingles on short docs: one truncated shingle, matching the oracle slice") {
    import spark.implicits._
    // docs shorter than k must yield ONE truncated shingle (never an
    // empty array): d_repetition's total3 floor of 1 then gives
    // distinct3=1 / ratio 0, and the DuckDB oracle's least()-bounded
    // slice produces the identical shingle
    val got = Seq("solo", "only two", "three word doc", "now four word doc")
      .toDF("text")
      .select(col("text"), graft.plans.native.wordShingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(got("solo") == List("solo"))
    assert(got("only two") == List("only two"))
    assert(got("three word doc") == List("three word doc"))
    assert(got("now four word doc") == List("now four word", "four word doc"))
  }

  test("minhash bucket cap bounds near-identical template families, keeps small buckets") {
    import spark.implicits._
    // 80 NEAR-identical templated docs (one trailing token differs, so
    // exact-dup routing can't collapse them; jaccard stays >= 0.8 and
    // most bands bucket them together) + an unrelated small near-dup
    // pair. Uncapped: O(k²) family pairs. Capped: the family is cut,
    // the small-bucket pair survives.
    val template = (0 until 100).map(i => s"t$i").mkString(" ")
    val family = (0L until 80L).map(i => (i, s"$template variant$i"))
    val pairA = (0 until 60).map(i => s"w$i").mkString(" ")
    val pairB = pairA.replace("w59", "wz")
    val docs = (family ++ Seq((500L, pairA), (501L, pairB))).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLsh(docs, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 80 * 79 / 2, s"family pairs expected: ${uncapped.size}")
    assert(uncapped.contains((500L, 501L)))
    val capped = Dedup.minhashLsh(docs, threshold = 0.8, maxBucket = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((500L, 501L)), s"capped lost the real pair: $capped")
    assert(!capped.exists(p => p._1 < 100L && p._2 < 100L),
      s"family pairs survived the cap: ${capped.take(5)}")
  }

  test("marker scores match the padded replace-count construction, shared spaces included") {
    import spark.implicits._
    // " a a a " holds TWO non-overlapping " a " matches (the middle
    // space is shared) — the exact quirk the one-pass scorer must
    // reproduce, since the DuckDB oracle keeps the replace-length form
    val rows = Seq("a a a", "the cat and the dog", "THE AND the",
      "a", "", "edge the", "the edge", "x the the y", "no markers here")
      .toDF("text")
    val markers = Seq("the", "and", "of", "to", "a")
    def replaceCount(m: String) =
      ((length(concat(lit(" "), lower(col("text")), lit(" ")))
        - length(regexp_replace(concat(lit(" "), lower(col("text")), lit(" ")),
            java.util.regex.Pattern.quote(s" $m "), "")))
        / s" $m ".length).cast("int")
    val expected = markers.map(replaceCount).reduce(_ + _)
    val got = rows.select(col("text"), expected.as("e"),
        graft.operators.TextAnalysis.langScore(col("text"), markers).as("g"))
      .collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(2), s"'${r.getString(0)}': $r"))
  }

  test("byte-class counts match the regex char-class form, non-ASCII included") {
    import spark.implicits._
    val rows = Seq("plain words", "w. punct!? (lots); [of] {it}~",
      "digits 0123 and 9", "", "naïve café — em–dash", "tabs\tand\nnewlines")
      .toDF("text")
    val punctRanges = Seq(('!', '/'), (':', '@'), ('[', '`'), ('{', '~'))
    val got = rows.select(col("text"),
        size(regexp_extract_all(col("text"), lit("[!-/:-@\\[-`{-~]"), lit(0))).as("ep"),
        graft.plans.native.byteClassCount(col("text"), punctRanges).as("gp"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).as("ed"),
        graft.plans.native.byteClassCount(col("text"), Seq(('0', '9'))).as("gd"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"punct '${r.getString(0)}': $r")
      assert(r.getInt(3) == r.getInt(4), s"digit '${r.getString(0)}': $r")
    }
  }

  test("bpe-ish token count matches the regex alternation on runs, punct and multibyte") {
    import spark.implicits._
    val rows = Seq("abc def", "abc123def", "a1b2", "!?.,", "  spaced  out ",
      "", "naïve café", "tabs\tand\nlines", "x.y@z 10.0.0.1")
      .toDF("text")
    val got = rows.select(col("text"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).as("e"),
        graft.plans.native.bpeishTokenCount(col("text")).as("g"))
      .collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(2), s"'${r.getString(0)}': $r"))
  }

  test("pii: counts find planted spans and redaction removes every one") {
    import spark.implicits._
    val rows = Seq(
      ("mail me at a.b-c_1@sub.example.org today", 1, 0, 0),
      ("call 555-867-5309 or 212-555-0142", 0, 2, 0),
      ("served from 10.0.12.7 and 192.168.0.255", 0, 0, 2),
      ("x@y.io via 8.8.8.8 at 555-000-1111", 1, 1, 1),
      ("no pii here just words", 0, 0, 0)).toDF("t", "e", "p", "ip")
    val got = rows.select(col("e"), col("p"), col("ip"),
      TextAnalysis.piiCounts(col("t")).head.as("n_emails"),
      TextAnalysis.piiCounts(col("t"))(1).as("n_phones"),
      TextAnalysis.piiCounts(col("t"))(2).as("n_ipv4"),
      TextAnalysis.piiRedact(col("t")).as("red")).collect()
    got.foreach { r =>
      assert(r.getInt(3) == r.getInt(0), s"emails: $r")
      assert(r.getInt(4) == r.getInt(1), s"phones: $r")
      assert(r.getInt(5) == r.getInt(2), s"ipv4: $r")
      val red = r.getString(6)
      assert(!red.matches(s".*${TextAnalysis.PiiEmail}.*"), red)
      assert(!red.matches(s".*${TextAnalysis.PiiPhone}.*"), red)
      assert(!red.matches(s".*${TextAnalysis.PiiIpv4}.*"), red)
    }
    val red = rows.select(TextAnalysis.piiRedact(col("t")).as("r"))
      .as[String].collect().mkString("\n")
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>") && red.contains("<IP>"))
  }

  test("intra-doc dedup drops exactly the within-doc repeats, brute-force checked") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    // docs with planted within-doc repeats: some segments repeat
    // inside the doc, some appear in OTHER docs (must NOT be dropped)
    val shared = (1 to 3).map(_ => vocab(rnd.nextInt(5))).mkString(" ")
    val texts = (0L until 40L).map { i =>
      val segs = (0 until 6).map(_ =>
        (1 to 3).map(_ => vocab(rnd.nextInt(5))).mkString(" "))
      val withRepeat = segs ++ Seq(segs(rnd.nextInt(6)), shared)
      (i, withRepeat.mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val got = Dedup.intraDocDedup(df, segWords = 3)
      .orderBy("doc_id").collect()
    val expect = texts.map { case (_, t) =>
      val toks = t.split(" ", -1)
      val segs = toks.grouped(3).map(_.mkString(" ")).toSeq
      val kept = segs.foldLeft(Vector.empty[String]) {
        case (acc, s) => if (acc.contains(s)) acc else acc :+ s
      }
      (segs.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
    got.zip(expect).foreach { case (r, (nSeg, nKept, clean)) =>
      assert(r.getLong(1) == nSeg, s"n_segments: $r")
      assert(r.getLong(2) == nKept, s"n_kept: $r")
      assert(r.getString(3) == clean, s"clean_text: $r")
    }
    // shared-across-docs segment survives in every doc (within-doc only)
    assert(got.forall(_.getString(3).contains(shared)))
  }

  test("gopher rules: each rule triggers on its designed violation") {
    import spark.implicits._
    val good = (("the quick brown fox and the lazy dog trot in step " * 3).trim, true)
    val tooShort = ("the and of to in is very tiny", false) // 8 words < 10
    val longWords = ("the " + Seq.fill(12)("pneumonoultramicroscopics").mkString(" ")
      + " and in is", false) // mean word len > 10
    val symbols = (("# " * 12 + "the and in of to is here now ok yes").trim, false)
    val nonAlpha = (("12 34 56 78 90 11 22 33 44 55 66 77 88 99 00 "
      + "the and is").trim, false) // alpha fraction 3/18 < 0.8
    val noStops = ("red green blue cyan teal plum gray pink gold jade", false)
    val rows = Seq(good, tooShort, longWords, symbols, nonAlpha, noStops)
      .zipWithIndex.map { case ((t, k), i) => (i.toLong, t, k) }
      .toDF("doc_id", "text", "expect_keep")
    val got = rows.select((col("doc_id") +: col("expect_keep") +:
        TextAnalysis.gopherRules(col("text"))): _*)
      .orderBy("doc_id").collect()
    got.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("keep_flag"))
        == r.getBoolean(r.fieldIndex("expect_keep")), r.toString)
    }
    // the designed violations hit the intended rule specifically
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(!byId(1L).getBoolean(byId(1L).fieldIndex("r_word_count")))
    assert(!byId(2L).getBoolean(byId(2L).fieldIndex("r_mean_word")))
    assert(!byId(3L).getBoolean(byId(3L).fieldIndex("r_symbol")))
    assert(!byId(4L).getBoolean(byId(4L).fieldIndex("r_alpha")))
    assert(!byId(5L).getBoolean(byId(5L).fieldIndex("r_stop")))
  }

  test("bigram fluency: corpus-predicted transitions score below rare ones") {
    import spark.implicits._
    // 20 template docs make "x y" transitions overwhelmingly likely;
    // one doc breaks the template with never-repeated transitions
    val template = "x y x y x y x y x y"
    val rare = "x q y r x s y t x u"
    val df = ((0L until 20L).map(i => (i, template)) ++ Seq((20L, rare)))
      .toDF("doc_id", "text")
    val got = graft.operators.Retrieval.bigramFluency(df)
      .orderBy("doc_id").collect()
    val ppl = got.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ppl(0L) < ppl(20L),
      s"template ${ppl(0L)} must be more fluent than rare ${ppl(20L)}")
    // hand check the template doc: 9 bigrams, ctx cf for w1=x counts
    // all bigrams starting with x across the corpus
    val nBigrams = got.head.getLong(1)
    assert(nBigrams == 9L, got.head.toString)
  }

  test("longArrayMatches equals the zip_with/filter form") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val rows = (1 to 50).map { i =>
      val n = rnd.nextInt(10)
      (i.toLong, Seq.fill(n)(rnd.nextInt(4).toLong),
        Seq.fill(n)(rnd.nextInt(4).toLong))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.plans.native.longArrayMatches(col("a"), col("b")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, a, b) =>
      val want = a.zip(b).count { case (x, y) => x == y }
      assert(got(id) == want, s"id $id")
    }
  }

  test("span corruption: sentinels number in order, rebuild round-trips") {
    import spark.implicits._
    import graft.operators.{Sampling, TextAnalysis}
    val texts = (0L to 19L).map(i =>
      (i, (1 to 23).map(j => s"w${(i * 7 + j) % 13}").mkString(" ")))
    val df = texts.toDF("doc_id", "text")
    val rows = TextAnalysis.spanCorrupt(df, spanWords = 3, rate = 0.4)
      .orderBy("doc_id").collect()
    val cut = Sampling.hexCut(0.4)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex8(s: String): String =
      md.digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    rows.zip(texts).foreach { case (r, (id, t)) =>
      val ws = t.split(" ")
      val groups = ws.grouped(3).map(_.mkString(" ")).toSeq
      assert(r.getLong(1) == groups.length)
      val masks = groups.indices.map(g => hex8(s"$id:$g") < cut)
      assert(r.getLong(2) == masks.count(identity).toLong)
      var k = -1
      val corrupted = groups.zip(masks).map { case (seg, m) =>
        if (m) { k += 1; s"<extra_id_$k>" } else seg
      }.mkString(" ")
      k = -1
      val targets = groups.zip(masks).collect { case (seg, true) =>
        k += 1; s"<extra_id_$k> $seg"
      }.mkString(" ")
      assert(r.getString(3) == corrupted, s"doc $id corrupted")
      assert(r.getString(4) == targets, s"doc $id targets")
      // every unmasked word survives in order: dropping sentinels from
      // the corrupted text must give the original minus masked spans
      val kept = corrupted.split(" ").filterNot(_.startsWith("<extra_id_"))
      val wantKept = groups.zip(masks).collect { case (seg, false) => seg }
        .flatMap(_.split(" "))
      assert(kept.toSeq == wantKept.toSeq)
    }
    assert(rows.map(_.getLong(2)).sum > 0, "rate 0.4 masked nothing")
  }

  test("fim: PSM reorder round-trips to the original text, cuts in bounds") {
    val out = TextAnalysis.fimTransform(docs, rate = 0.5).collect()
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var applied = 0
    out.foreach { r =>
      val (id, app, lo, hi, t) = (r.getLong(0), r.getBoolean(1),
        r.getLong(2), r.getLong(3), r.getString(4))
      val src = orig(id)
      assert(0 <= lo && lo <= hi && hi <= src.length, s"doc $id cuts $lo..$hi")
      if (!app) assert(t == src, s"doc $id untouched row changed")
      else {
        applied += 1
        assert(t.startsWith("<fim_prefix>"), s"doc $id: $t")
        val afterPre = t.stripPrefix("<fim_prefix>")
        val Array(pre, rest) = afterPre.split("<fim_suffix>", 2)
        val Array(suf, mid) = rest.split("<fim_middle>", 2)
        assert(pre + mid + suf == src, s"doc $id does not reassemble")
        assert(pre == src.substring(0, lo.toInt) &&
          mid == src.substring(lo.toInt, hi.toInt), s"doc $id cut mismatch")
      }
    }
    // the md5 draw at rate 0.5 should transform roughly half
    assert(applied > out.length / 4 && applied < out.length * 3 / 4,
      s"$applied of ${out.length} transformed at rate 0.5")
  }

  test("zero-norm embeddings are unrankable: excluded from both sides of a cosine ranking") {
    import spark.implicits._
    // the r13 review find: cos against a zero vector is 0/0 = NaN and
    // NaN sorts ABOVE every double desc — one failed-encode row would
    // be the rank-1 neighbor of EVERY probe. The policy (the
    // benchArtifact precedent, now uniform across the ranking entry
    // points): a zero-norm vector is neither neighbor nor probe.
    val emb = Tables(spark, sf).embeddings
    val zeroRow = Seq((99999999L, Array.fill(64)(0f), 0))
      .toDF("vec_id", "embedding", "label")
    val poisoned = emb.unionByName(zeroRow)
    val probeF = col("vec_id") % 50 === 0 || col("vec_id") === 99999999L
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted
    val cleanBrute = sorted(Similarity.bruteForceTopK(
      emb, col("vec_id") % 50 === 0, k = 5))
    val zeroBrute = sorted(Similarity.bruteForceTopK(poisoned, probeF, k = 5))
    assert(cleanBrute.nonEmpty && zeroBrute.sameElements(cleanBrute),
      "a zero-norm vector changed brute-force rankings")
    val cleanHn = sorted(Similarity.hardNegatives(
      emb, col("vec_id") % 10 === 0, k = 5))
    val zeroHn = sorted(Similarity.hardNegatives(
      poisoned, col("vec_id") % 10 === 0 || col("vec_id") === 99999999L,
      k = 5))
    assert(zeroHn.sameElements(cleanHn),
      "a zero-norm vector changed mined hard negatives")
    // the persisted index path: the zero vector never enters the index
    // and a zero probe emits nothing
    val dir = java.nio.file.Files.createTempDirectory("graft-zn").toString
    graft.sources.IvfIndex.build(poisoned, dir, nCells = 4)
    assert(spark.read.parquet(s"$dir/codes.parquet")
      .filter(col("vec_id") === 99999999L).count() == 0,
      "zero-norm vector entered the index")
    assert(graft.sources.IvfIndex.topK(spark, dir, zeroRow, k = 3, nProbe = 2)
      .collect().isEmpty, "a zero-norm probe must return nothing")
  }

  test("hard negatives label pack refuses labels outside 0..15 loudly") {
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    // a label 16 would silently unpack as (vec_id+1, label 0) —
    // corrupted training pairs; the pack must raise instead
    val bad = emb.limit(20).unionByName(
      Seq((88888888L, Array.fill(64)(0.5f), 16))
        .toDF("vec_id", "embedding", "label"))
    val ex = intercept[Exception] {
      Similarity.hardNegatives(bad, col("vec_id") % 2 === 0, k = 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("4-bit pack range")),
      messages(ex).mkString(" | "))
  }

  test("hard negatives: differently-labeled, below the dup ceiling, label recovered") {
    val emb = Tables(spark, sf).embeddings
    // the 4-bit label pack's precondition on this schema
    val maxLabel = emb.agg(max("label")).head.getInt(0)
    assert(maxLabel < 16, s"label pack needs labels < 16, saw $maxLabel")
    val probeLabels = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val allLabels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.hardNegatives(emb, col("vec_id") % 10 === 0, k = 5)
      .collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (probe, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"probe $probe ranks")
      // cos6 non-increasing with rank
      val cs = sorted.map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"probe $probe order")
      sorted.foreach { r =>
        val (nid, nlab, c) = (r.getLong(2), r.getInt(3), r.getDouble(4))
        assert(allLabels(nid) == nlab, s"probe $probe neighbor $nid label")
        assert(nlab != probeLabels(probe), s"probe $probe same-label negative")
        assert(c < 0.9, s"probe $probe near-dup $nid survived the ceiling: $c")
      }
    }
  }

  test("ivf hard negatives: real recall of the exact set, same invariants") {
    val emb = Tables(spark, sf).embeddings
    val exact = Similarity.hardNegatives(emb, col("vec_id") % 10 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$sf#embeddings-hnspec")
    val ivfRows = Similarity.hardNegativesIvf(emb, col("vec_id") % 10 === 0,
      idx, k = 5).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivfRows.foreach { r =>
      val (probe, nid, nlab, c) = (r.getLong(0), r.getLong(2), r.getInt(3),
        r.getDouble(4))
      assert(labels(nid) == nlab && nlab != labels(probe),
        s"probe $probe neighbor $nid label")
      assert(c < 0.9, s"probe $probe dup ceiling: $c")
    }
    val ivf = ivfRows.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"ivf hard-negative recall $recall over ${exact.size}")
  }

  test("ivf margin alignment: agreement with the exact pairs, same margin floor") {
    val emb = Tables(spark, sf).embeddings
    val exact = Similarity.marginAlign(emb, col("vec_id") % 10 === 0,
        col("vec_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$sf#embeddings-maspec")
    val ivfRows = Similarity.marginAlignIvf(emb, col("vec_id") % 10 === 0,
      col("vec_id") % 2 === 1, idx).collect()
    // invariants hold on every emitted pair regardless of recall
    ivfRows.foreach { r =>
      assert(r.getLong(1) % 2 == 1, s"non-target match: $r")
      assert(r.getDouble(3) >= 1.02, s"margin floor: $r")
    }
    val ivf = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"ivf margin-align recall $recall over ${exact.size}")
    // the IVF-specific failure mode is a FALSE ADMIT: the candidate
    // cut misses the true best (or second-best), the margin computes
    // against a farther runner-up, and a hub slips through with the
    // WRONG partner. Pin it: every admitted pair must name the true
    // grid-argmax target (missing the runner-up can only DEFLATE
    // recall, never corrupt an emitted partner)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    def grid(a: Array[Float], b: Array[Float]): Double =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5)
    val targets = vecs.keys.filter(_ % 2 == 1).toSeq
    ivf.foreach { case (pid, m) =>
      val best = targets.filter(_ != pid)
        .map(t => (grid(vecs(pid), vecs(t)), t))
        .minBy { case (g, t) => (-g, t) }._2
      assert(m == best, s"ivf admitted probe $pid with partner $m, true best $best")
    }
  }

  test("ivf margin alignment: planted hub-miss at nProbe=1, exhaustive probes recover exact") {
    // the documented adversarial distribution: the probe's TRUE best
    // target sits just across the cell bisector, so a 1-cell probe
    // scan never sees it and the margin computes against an in-cell
    // decoy — the false-partner failure the scaladoc warns about.
    // Widening the probe set to every cell must recover the exact
    // pairs row-for-row (same tail code, exhaustive candidates).
    import spark.implicits._
    def v(x: Double, y: Double, z: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat, 0f)
    val rows =
      Seq((1000L, v(1, 0, 0))) ++                     // probe, cell A center
      Seq((1L, v(0.5, 0, 0.866)), (3L, v(0.4, 0, 0.917))) ++ // decoy targets, cell A
      (2L to 20L by 2).map(i => (i, v(1, 0.005 * i, 0))) ++  // A fillers (non-target)
      (101L to 119L by 2).map(i => (i, v(0.005 * (i - 101), 1, 0))) ++ // B fillers
      Seq((999L, v(0.68, 0.733, 0)))                  // true best: barely cell B
    val emb = rows.map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
    val probeF = col("vec_id") === 1000L
    val targetF = col("vec_id") % 2 === 1
    val exact = Similarity.marginAlign(emb, probeF, targetF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    // grounded: the exact miner pairs the probe with 999 (cos .697
    // over decoy .5 → margin ~1.39)
    assert(exact.length == 1 && exact.head._2 == 999L, exact.toSeq.toString)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ma-hub").toString
    graft.sources.IvfIndex.build(emb, dir, nCells = 2)
    // precondition on the seeded 2-means split: probe and true best
    // must land in DIFFERENT cells, or the scenario below is vacuous
    val cellOf = spark.read.parquet(s"$dir/codes.parquet")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellOf(1000L) != cellOf(999L),
      s"planted geometry must split probe/best across cells: $cellOf")
    // 1-cell probing: the true best is invisible; whatever comes out
    // (a decoy partner or nothing) must NOT equal the exact pair —
    // the trade the op documents
    val narrow = Similarity.marginAlignIvf(emb, probeF, targetF, dir,
        nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!narrow.exists(_ == (1000L, 999L)),
      s"1-cell probe cannot see the cross-bisector best: ${narrow.toSeq}")
    // exhaustive probing (both cells, m > corpus) == exact, margins too
    val wide = Similarity.marginAlignIvf(emb, probeF, targetF, dir,
        nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(wide.toSeq == exact.toSeq, s"wide=${wide.toSeq} exact=${exact.toSeq}")
  }

  test("ivf margin escalation: flagged near-tie partner re-probed wide, exact pair recovered") {
    // the escalation premise: a narrow probe that misses the true
    // best across the cell bisector emits an IN-CELL decoy pair —
    // and when the decoy's own runner-up near-ties it (cos .50 vs
    // .49 → margin ≈ 1.0204, inside the low-headroom band), the
    // emitted pair is flagged and ONLY that probe re-mines at the
    // escalated width, flipping to the exact partner (the hub-miss
    // fixture above with the decoys squeezed into the flag band).
    import spark.implicits._
    def v(x: Double, y: Double, z: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat, 0f)
    // probe tilted toward the A/B bisector (still nearest cell A);
    // decoys are ORDINARY x-cluster members whose cosines to the
    // probe near-tie (margin ≈ 1.037 — inside the default flag
    // band); the true best sits in cell B at cos .995
    val rows =
      Seq((1000L, v(0.8, 0.6, 0))) ++                          // probe, cell A side
      Seq((1L, v(1, 0.02, 0)), (3L, v(1, -0.02, 0))) ++        // near-tie decoys, cell A
      (2L to 20L by 2).map(i => (i, v(1, 0.005 * i, 0))) ++    // A fillers (non-target)
      (101L to 119L by 2).map(i => (i, v(0.005 * (i - 101), 1, 0))) ++ // B fillers
      Seq((999L, v(0.67, 0.74, 0)))                            // true best: cell B
    val emb = rows.map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
    val probeF = col("vec_id") === 1000L
    val targetF = col("vec_id") % 2 === 1 && col("vec_id") =!= 1000L
    val exact = Similarity.marginAlign(emb, probeF, targetF)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(exact.length == 1 && exact.head._2 == 999L, exact.toSeq.toString)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ma-esc").toString
    graft.sources.IvfIndex.build(emb, dir, nCells = 2)
    val cellOf = spark.read.parquet(s"$dir/codes.parquet")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellOf(1000L) != cellOf(999L) && cellOf(1000L) == cellOf(1L)
        && cellOf(1000L) == cellOf(3L),
      s"planted geometry must put decoys with the probe, best across: $cellOf")
    // narrow base: the probe emits the near-tie decoy, margin inside
    // the low-headroom band — the flaggable false class
    val narrow = Similarity.marginAlignIvf(emb, probeF, targetF, dir,
        nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(narrow.exists(d => d._1 == 1000L && d._2 == 1L &&
        d._4 >= 1.02 && d._4 < 1.02 + Similarity.MarginHeadroomEps),
      s"narrow probe must emit a flagged decoy pair: ${narrow.toSeq}")
    // escalated: the flagged probe re-mines at nProbe=2 (exhaustive)
    // and recovers the exact pair, margins included
    val esc = Similarity.marginAlignIvf(emb, probeF, targetF, dir,
        nProbe = 1, escalateNProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(esc.toSeq == exact.toSeq, s"esc=${esc.toSeq} exact=${exact.toSeq}")
    // the OTHER side of the band: with an epsilon below the decoy
    // pair's headroom nothing is flagged, so escalation must leave
    // the narrow verdict byte-identical (touch only the band)
    val noEsc = Similarity.marginAlignIvf(emb, probeF, targetF, dir,
        nProbe = 1, escalateNProbe = 2, escalateEps = 0.005).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(noEsc.toSeq == narrow.toSeq,
      s"below-band escalation must be a no-op: ${noEsc.toSeq} vs ${narrow.toSeq}")
    // withStats composes over the POST-escalation set: constant
    // companion columns, healthy after the flip
    val st = Similarity.marginAlignIvf(emb, probeF, targetF, dir,
        nProbe = 1, escalateNProbe = 2, withStats = true)
      .select("margin_p50", "margin_p90", "low_headroom").collect()
    assert(st.length == 1 && !st.head.getBoolean(2),
      s"post-escalation population must not flag low headroom: ${st.toSeq}")
  }

  test("ivf margin escalation: unflagged pairs ride through byte-identical at corpus scale") {
    // escalation only re-probes the low-headroom band: every base
    // pair with healthy margin must appear in the escalated output
    // verbatim (those probes never pay the wide re-probe), and the
    // escalated set keeps the op's emit invariants
    val emb = Tables(spark, sf).embeddings
    val probeF = col("vec_id") % 10 === 0
    val targetF = col("vec_id") % 2 === 1
    val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$sf#embeddings-maesc")
    val base = Similarity.marginAlignIvf(emb, probeF, targetF, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val esc = Similarity.marginAlignIvf(emb, probeF, targetF, idx,
        escalateNProbe = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(base.nonEmpty)
    val escByProbe = esc.map(r => r._1 -> r).toMap
    val healthy = base.filter(_._4 >= 1.02 + Similarity.MarginHeadroomEps)
    assert(healthy.nonEmpty, "fixture should mine some healthy-margin pairs")
    healthy.foreach { b =>
      assert(escByProbe.get(b._1).contains(b),
        s"healthy pair $b changed under escalation: ${escByProbe.get(b._1)}")
    }
    esc.foreach { r =>
      assert(r._2 % 2 == 1, s"non-target match: $r")
      assert(r._4 >= 1.02, s"margin floor: $r")
    }
    // the registered d_margin_align_esc shape (half-width base +
    // escalation) must hold the same recall floor as the full-width
    // miner's agreement gate — measured 0.93 at sf0.01 (vs 1.00 for
    // flat nProbe=16 at ~2x the probe cost)
    val exact = Similarity.marginAlign(emb, probeF, targetF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val escHalf = Similarity.marginAlignIvf(emb, probeF, targetF, idx,
        nProbe = 8, escalateNProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & escHalf).size.toDouble / exact.size
    assert(recall >= 0.8, s"escalated recall $recall over ${exact.size}")
  }

  test("family keep: one best-quality representative per family, singletons kept") {
    val rows = SparkEntry.queries("d_family_keep")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val fams = rows.groupBy(_._2)
    assert(fams.exists(_._2.length > 1), "test data should contain dup families")
    fams.foreach { case (comp, ms) =>
      val kept = ms.filter(_._4)
      assert(kept.length == 1, s"family $comp kept ${kept.length}")
      // the kept member is the (quality desc, id asc) argmax
      val want = ms.minBy { case (id, _, q, _) => (-q, id) }
      assert(kept.head == want, s"family $comp kept ${kept.head}, want $want")
    }
  }

  test("token budget: per-shard greedy prefix, budget respected and maximal") {
    val rows = SparkEntry.queries("d_token_budget")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (shard, ds) =>
      val order = ds.sortBy { case (id, _, _, q, _, _) => (-q, id) }
      // cum_tokens replays the ordered running sum
      var cum = 0L
      order.foreach { case (id, _, nt, _, c, kept) =>
        cum += nt
        assert(c == cum, s"shard $shard doc $id cum $c want $cum")
        assert(kept == (cum <= 512L), s"shard $shard doc $id kept")
      }
      // kept is a PREFIX of the order (greedy under the budget)
      val firstDrop = order.indexWhere(!_._6)
      if (firstDrop >= 0)
        assert(order.drop(firstDrop).forall(!_._6), s"shard $shard not a prefix")
    }
  }

  test("margin align: replays local brute force; hubs with tied matches rejected") {
    // planted: probe 0 has a distinctly-best target, probe 1 sits
    // equidistant between both targets (a hub) -> margin 1.0, dropped
    import spark.implicits._
    val planted = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.6f, 0.8f)),
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.marginAlign(planted, col("vec_id") < 10,
      col("vec_id") >= 10, marginMin = 1.02).collect()
    assert(p.map(_.getLong(0)).toSet == Set(0L), s"planted: ${p.toSeq}")
    assert(p.head.getLong(1) == 10L)

    // sf data: exact agreement with a local replay of the grid loop
    val emb = Tables(spark, sf).embeddings
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    def grid(a: Array[Float], b: Array[Float]): Double =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5)
    val probes = vecs.keys.filter(_ % 10 == 0).toSeq.sorted
    val targets = vecs.keys.filter(_ % 2 == 1).toSeq.sorted
    val want = probes.flatMap { pid =>
      val ranked = targets.filter(_ != pid)
        .map(t => (grid(vecs(pid), vecs(t)), t))
        .sortBy { case (g, t) => (-g, t) }
      if (ranked.length < 2) None
      else {
        val (g1, m) = ranked(0); val g2 = ranked(1)._1
        if (g2 > 0 && g1 / g2 >= 1.02) Some((pid, m, g1 / g2)) else None
      }
    }.toSet
    val got = SparkEntry.queries("d_margin_align")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == want, s"got ${got.size} vs want ${want.size}")
    assert(want.nonEmpty, "margin criterion should admit some pairs")
  }

  test("deflate length: inflate round-trips, repetition compresses, query is consistent") {
    // the native expression against a hand-driven Inflater round-trip
    val s = "the quick brown fox jumps over the lazy dog 0123456789"
    val bytes = s.getBytes("UTF-8")
    val d = new java.util.zip.Deflater()
    d.setInput(bytes); d.finish()
    val buf = new Array[Byte](4096)
    val n = d.deflate(buf); d.end()
    val got = graft.plans.NativeImpl.deflateLen(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(got == n, s"deflateLen $got vs Deflater $n")
    val inf = new java.util.zip.Inflater()
    inf.setInput(buf, 0, n)
    val back = new Array[Byte](bytes.length + 16)
    val m = inf.inflate(back); inf.end()
    assert(m == bytes.length && back.take(m).toSeq == bytes.toSeq, "round trip")

    import spark.implicits._
    val rep = ("spam " * 200).trim
    val mixed = (1 to 200).map(i => s"w${i * 7919 % 997}").mkString(" ")
    val two = Seq((1L, rep), (2L, mixed)).toDF("doc_id", "text")
      .select(col("doc_id"), graft.plans.native.deflateLen(col("text"))
        .cast("double").as("dl"), length(col("text")).cast("double").as("rl"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1) / r.getDouble(2)).toMap
    assert(two(1L) < two(2L) / 2,
      s"repetitive ${two(1L)} should compress far below mixed ${two(2L)}")

    // the registered query's ppm is the exact integer DIV of its columns
    val q = SparkEntry.queries("d_compress_ratio")(spark, sf).collect()
    assert(q.length == docs.count())
    q.foreach { r =>
      val (raw, dl, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(raw > 0 && dl > 0 && ppm == dl * 1000000L / raw)
    }
  }

  test("semantic decontam: planted copy flagged, argmax exact, ties to smaller bench id") {
    import spark.implicits._
    val emb = Tables(spark, sf).embeddings
    // plant a candidate that IS a benchmark vector (grid cos = 1e6) —
    // the paraphrase-overlap case the op exists for — plus a tie probe
    // equidistant from two identical benchmark vectors
    val bvec = emb.filter(col("vec_id") % 20 === 0).orderBy("vec_id")
      .select("embedding").head.getSeq[Float](0).toArray
    val planted = Seq(
      (9000001L, bvec, 0),            // exact copy of the lowest bench vec
      (9000020L, bvec, 0))            // %20==0 → a second, identical bench vec
      .toDF("vec_id", "embedding", "label")
    val all = emb.unionByName(planted)
    val out = Similarity.semanticDecontam(all,
      col("vec_id") % 20 =!= 0, col("vec_id") % 20 === 0)
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    // every candidate reports exactly one best benchmark row
    assert(got.size == all.filter(col("vec_id") % 20 =!= 0).count())
    val (bid, c, flag) = got(9000001L)
    assert(c == 1.0 && flag, s"planted copy must flag at cos 1: ($bid, $c, $flag)")
    // two identical bench vecs tie at grid 1e6 → the SMALLER bench id wins
    val benchIds = all.filter(col("vec_id") % 20 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(bid == benchIds.head, s"tie must break to smallest bench id, got $bid")
    // the argmax replays brute force on the grid for a sample of candidates
    val bench = all.filter(col("vec_id") % 20 === 0).orderBy("vec_id").limit(256)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def grid(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
    }
    all.filter(col("vec_id") % 20 =!= 0).orderBy("vec_id").limit(20)
      .select("vec_id", "embedding").collect().foreach { r =>
        val (vid, v) = (r.getLong(0), r.getSeq[Float](1).toArray)
        val best = bench.filter(_._1 != vid).map { case (b, bv) => (grid(v, bv), b) }
          .maxBy { case (g, b) => (g, -b) }
        assert(got(vid) == ((best._2, best._1 / 1e6, best._1 >= 400000L)),
          s"argmax mismatch for $vid: got ${got(vid)}, want $best")
      }
    // partitioning invariance
    val re = Similarity.semanticDecontam(all.repartition(7),
      col("vec_id") % 20 =!= 0, col("vec_id") % 20 === 0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(re == got)
  }

  test("curation ledger: every flag agrees with its source op, keep is the conjunction") {
    val ledger = SparkEntry.queries("d_curation_ledger")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getLong(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8))).toMap
    assert(ledger.size == docs.count())
    // flags replay their source ops
    val gopher = docs.select(col("doc_id"),
        TextAnalysis.gopherRules(col("text")).last).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val comp = graft.operators.DedupPipeline.componentsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bench = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1) == "src0")).toMap
    val contam = TextAnalysis.ngramContamination(
        candidates = docs.filter(col("source") =!= "src0"),
        benchmark = docs.filter(col("source") === "src0")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3) > 0.5)).toMap
    ledger.foreach { case (id,
        (isB, gk, _, _, component, drop, cont, keep)) =>
      assert(isB == bench(id), s"doc $id benchmark flag")
      assert(gk == gopher(id), s"doc $id gopher flag")
      assert(component == comp(id) && drop == (id != comp(id)),
        s"doc $id family")
      assert(cont == contam.getOrElse(id, false), s"doc $id contamination")
      assert(keep == (!isB && gk && !drop && !cont), s"doc $id keep")
    }
    // at least one doc passes and at least one fails each gate class
    assert(ledger.values.exists(_._8) && ledger.values.exists(!_._8))
    assert(ledger.values.exists(_._6), "corpus has planted dup families")
  }

  test("soft dedup: inverse-family-size weights, family mass sums to one doc") {
    val out = SparkEntry.queries("d_soft_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.count())
    // weights replay 1e6 div family_size; singletons keep full weight
    out.foreach { case (id, _, n, w) =>
      assert(n >= 1 && w == 1000000L / n, s"doc $id: n=$n w=$w")
    }
    assert(out.exists(_._3 == 1) && out.exists(_._3 > 1),
      "corpus has both singletons and planted families")
    // per family: member count × weight ≈ 1e6 (exact up to the div
    // truncation, < family_size ppm short)
    out.groupBy(_._2).foreach { case (c, rows) =>
      val mass = rows.map(_._4).sum
      val n = rows.length
      assert(mass <= 1000000L && mass > 1000000L - n, s"family $c mass $mass")
    }
    // families agree with the CC labeling
    val comp = graft.operators.DedupPipeline.componentsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, c, _, _) => assert(c == comp(id), s"doc $id") }
  }

  test("corpus drift: exact ppm deltas and L1 under a controlled side split") {
    import spark.implicits._
    // controlled sides: A = docs 1,2 (6 tokens), B = doc 3 (4 tokens)
    val d = Seq(
      (1L, "x x y z aa bb"),
      (2L, "q q q r"),
      (3L, "x x y r")).toDF("doc_id", "text")
    val out = TextAnalysis.corpusDrift(d, topK = 50,
        sideA = Some(col("doc_id") <= 2))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // A: x2 y1 z1 aa1 bb1 q3 r1 (tot 10); B: x2 y1 r1 (tot 4)
    assert(out("q") == ((3L, 0L, 300000L, 0L, 300000L, out("q")._6)))
    assert(out("x") == ((2L, 2L, 200000L, 500000L, 300000L, out("x")._6)))
    assert(out("r") == ((1L, 1L, 100000L, 250000L, 150000L, out("r")._6)))
    // L1 = Σ d_ppm over ALL terms, constant on every row
    val expL1 = Seq(
      math.abs(200000L - 500000L), // x
      math.abs(100000L - 250000L), // y
      100000L,                     // z (A only)
      100000L, 100000L,            // aa, bb
      300000L,                     // q
      math.abs(100000L - 250000L)  // r
    ).sum
    assert(out.values.map(_._6).toSet == Set(expL1), out.toString)
    // default md5 split: deterministic and partitioning-invariant on
    // the sf corpus
    val a = TextAnalysis.corpusDrift(docs).collect().toSeq
    val b = TextAnalysis.corpusDrift(docs.repartition(7)).collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
