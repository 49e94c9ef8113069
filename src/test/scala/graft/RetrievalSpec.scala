package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Retrieval}

class RetrievalSpec extends SparkSpec {

  private def docs = Tables(spark, sf).documents

  private def mkDocs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("segment dedup drops exactly the re-used segments, keeps first occurrence") {
    val seg1 = (1 to 20).map(i => s"a$i").mkString(" ")
    val seg2 = (1 to 20).map(i => s"b$i").mkString(" ")
    val seg3 = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = mkDocs(Seq(
      (1L, s"$seg1 $seg2"), // first occurrence of both
      (2L, s"$seg1 $seg3"), // seg1 is boilerplate here → dropped
      (3L, seg3)))          // seg3 already claimed by doc 2
    val out = Dedup.segmentDedup(d, segWords = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (2L, 2L, s"$seg1 $seg2"))
    assert(out(2L) == (2L, 1L, seg3))
    assert(out(3L) == (1L, 0L, ""))
  }

  test("segment dedup keeps every segment of a duplicate-free corpus") {
    val out = Dedup.segmentDedup(docs.limit(50))
    assert(out.filter(col("n_kept") > col("n_segments")).isEmpty,
      "kept can never exceed total")
    // corpus-wide: total kept == distinct segment count
    val agg = Dedup.segmentDedup(docs)
      .agg(sum("n_kept").as("kept"), sum("n_segments").as("total"))
      .head()
    assert(agg.getLong(0) <= agg.getLong(1))
  }

  test("boilerplate strip drops every occurrence at the distinct-doc threshold") {
    val seg1 = (1 to 20).map(i => s"a$i").mkString(" ") // 3 docs → boilerplate
    val seg2 = (1 to 20).map(i => s"b$i").mkString(" ") // 2 docs → kept
    val seg3 = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = mkDocs(Seq(
      (1L, s"$seg1 $seg2"),
      (2L, s"$seg1 $seg2"),
      (3L, s"$seg1 $seg3")))
    val out = Dedup.boilerplateStrip(d, segWords = 20, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (2L, 1L, seg2), "seg1 dropped from EVERY doc, seg2 kept")
    assert(out(2L) == (2L, 1L, seg2))
    assert(out(3L) == (2L, 1L, seg3))
  }

  test("tfidf ranks distinctive terms first with integer-exact scores") {
    val d = mkDocs(Seq(
      (1L, "rare rare common common common"),
      (2L, "common common other"),
      (3L, "common zebra")))
    val out = Retrieval.tfidf(d, topK = 2).collect()
    val doc1 = out.filter(_.getLong(0) == 1L).sortBy(_.getInt(1))
    assert(doc1.head.getString(2) == "rare", "doc-exclusive term outranks ubiquitous one")
    // rare: tf=2, df=1 → 2·(3e6 div 1); common: tf=3, df=3 → 3·(3e6 div 3)
    assert(doc1.head.getLong(5) == 6000000L)
    assert(doc1(1).getString(2) == "common")
    assert(doc1(1).getLong(5) == 3000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(5))
    val re = Retrieval.tfidf(d.repartition(5), topK = 2).collect()
    assert(re.map(key).sortBy(x => (x._1, x._2)).toSeq ==
      out.map(key).sortBy(x => (x._1, x._2)).toSeq,
      "tfidf is partitioning-invariant")
  }

  test("substring dedup finds exactly the pairs sharing a >=minLen span") {
    // the full shared region includes the delimiting spaces: an
    // 80-char planted span shares " span " = 82 chars -> 23 distinct
    // 60-grams; a 57-char span shares 59 chars < minLen -> no pair
    val span80 = (10 to 26).map(i => s"xx$i").mkString(" ").take(80)
    assert(span80.length == 80)
    val span57 = (30 to 45).map(i => s"yy$i").mkString(" ").take(57)
    // letter-only pads, a DISTINCT alphabet per doc: no digits or
    // shared pad text that could extend the planted span's match
    def pad(t: String) = Seq.fill(14)(t * 4).mkString(" ")
    val d = mkDocs(Seq(
      (1L, s"${pad("e")} $span80 ${pad("f")}"),
      (2L, s"${pad("g")} $span80 ${pad("h")}"),
      (3L, s"${pad("i")} $span57 ${pad("j")}"),
      (4L, s"${pad("k")} $span57 ${pad("l")}")))
    val out = Dedup.substrDedup(d, minLen = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.contains((1L, 2L)), s"80-char span must be found: $out")
    assert(out((1L, 2L)) == 23, s"expected 23 shared 60-grams: $out")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"59-char shared region is below minLen: $out")
  }

  test("hybrid RRF fuses sparse and dense ranks with exact contributions") {
    import spark.implicits._
    // doc 1: keyword-dense AND embedding-near the probe → both lists;
    // doc 2: keyword-only; doc 3: embedding-only; doc 4/5: neither
    val d = mkDocs(Seq(
      (1L, "spark spark spark join window"),
      (2L, "spark spark join pad pad"),
      (3L, "nothing relevant here at all"),
      (4L, "plain filler text body words"),
      (5L, "more filler body words here")))
    val e = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),       // the probe
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),   // near the probe
      (3L, Seq(0.8f, 0.2f, 0f, 0f)),   // near the probe
      (2L, Seq(0f, 1f, 0f, 0f)),       // orthogonal
      (4L, Seq(0f, 0f, 1f, 0f)),
      (5L, Seq(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = Retrieval.hybridRrf(d, e, Seq("spark", "join"),
      probeVecId = 0L, topN = 2, rrfK = 60, limit = 10).collect()
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    // both-list doc 1 carries two contributions and leads the fusion
    assert(byDoc(1L)._1 == 1 && byDoc(1L)._2 == 1, s"doc 1 tops both: $byDoc")
    assert(out.head.getLong(0) == 1L, "both-list doc outranks single-list docs")
    assert(byDoc(2L)._1 == 2 && byDoc(2L)._2 == 0, s"doc 2 sparse-only: $byDoc")
    assert(byDoc(3L)._2 == 2 && byDoc(3L)._1 == 0, s"doc 3 dense-only: $byDoc")
    assert(!byDoc.contains(4L) && !byDoc.contains(5L),
      "docs absent from both top-Ns never reach the fusion")
    // every rrf value is exactly round(Σ 1/(60+rank), 6) of its ranks
    out.foreach { r =>
      val (sr, dr) = (r.getInt(1), r.getInt(2))
      val exp = BigDecimal((if (sr > 0) 1.0 / (60 + sr) else 0.0)
          + (if (dr > 0) 1.0 / (60 + dr) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == exp, s"rrf mismatch for doc ${r.getLong(0)}")
    }
    // fused order is total: (rrf desc, doc_id)
    val key = out.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(key == key.sorted, "output ordered by (rrf desc, doc_id)")
  }

  test("bm25 ranks by term density and is repartition-invariant") {
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = mkDocs(Seq(
      (1L, s"spark spark spark join $filler"),
      (2L, s"spark $filler"),
      (3L, filler)))
    val out = Retrieval.bm25(d, Seq("spark", "join"), limit = 3).collect()
    assert(out.map(_.getLong(0)).take(2).toSeq == Seq(1L, 2L),
      "denser doc must rank first")
    val score3 = out.find(_.getLong(0) == 3L).get.getAs[Double]("bm25")
    assert(score3 == 0.0, "no term hits → zero score")
    val re = Retrieval.bm25(d.repartition(7), Seq("spark", "join"), limit = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("bm25")))
    assert(re.toSeq == out.map(r => (r.getLong(0), r.getAs[Double]("bm25"))).toSeq)
  }

  test("rarity: integer weights are exact and rare tokens score higher") {
    val d = mkDocs(Seq(
      (1L, "common common common"),
      (2L, "common rareword")))
    // counts: common=4, rareword=1
    val out = Retrieval.rarity(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Double]("mean_rarity"))).toMap
    val wCommon = 1000000000L / 4
    val wRare = 1000000000L / 1
    assert(out(1L) == (3L, 3 * wCommon, (3 * wCommon).toDouble / 3))
    assert(out(2L)._2 == wCommon + wRare)
    assert(out(2L)._3 > out(1L)._3, "doc with the rare token scores higher")
  }

  test("rarity cache: shared stats equal direct rarity; new key retires the old cache") {
    import graft.operators.Retrieval.{RarityMaxLive, cachedRarityStats}
    SessionCaches.reset("rarity")
    val docs = Tables(spark, sf).documents
    val direct = Retrieval.rarity(docs)
      .select("doc_id", "n_tokens", "rarity_sum")
      .collect().map(_.toString).sorted
    val cached = cachedRarityStats(docs, s"$sf#r1")
    assert(cached.collect().map(_.toString).sorted.sameElements(direct))
    // same key → the SAME cached frame (no rebuild)
    assert(cachedRarityStats(docs, s"$sf#r1") eq cached)
    // new key → rebuilt; results still correct
    val next = cachedRarityStats(docs, s"$sf#r2")
    assert(!(next eq cached))
    assert(next.collect().map(_.toString).sorted.sameElements(direct))
    // breadth: r1 survives r2 (the A→B→A flip must not retrain)...
    assert(cachedRarityStats(
      sys.error("r1 must survive r2"), s"$sf#r1") eq cached)
    // ...but past RarityMaxLive keys the least-recently-used (r2) evicts
    (3 to RarityMaxLive + 2).foreach { i =>
      cachedRarityStats(docs.limit(20), s"$sf#r$i")
    }
    assert(SessionCaches.liveCount("rarity") == RarityMaxLive)
    assert(!(cachedRarityStats(docs, s"$sf#r2") eq next))
    SessionCaches.reset("rarity")
  }

  test("importance: on-target docs outscore off-target, smoothing keeps weights defined") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta gamma delta", "en"),
      (3L, "gamma delta gamma delta", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Retrieval.importance(d, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getAs[Double]("mean_importance"))).toMap
    // corpus counts: alpha 3 (all target), beta 3 (all target),
    // gamma 3 (1 target), delta 3 (1 target)
    val wAll = 1000000L * 4 / 4   // tc=3 → (3+1)/(3+1)
    val wMix = 1000000L * 2 / 4   // tc=1 → (1+1)/(3+1)
    assert(out(1L) == ((1, 4L, 4 * wAll, (4.0 * wAll / 4))))
    assert(out(2L)._3 == 2 * wAll + 2 * wMix)
    assert(out(3L)._1 == 0)
    assert(out(1L)._4 > out(2L)._4 && out(2L)._4 > out(3L)._4,
      "importance must order by target-likeness")
  }

  test("length histogram conserves docs and tokens; cumulative share ends at 1") {
    val hist = graft.operators.TextAnalysis.lengthHistogram(docs).collect()
    val total = docs.count()
    assert(hist.map(_.getLong(2)).sum == total, "n_docs must sum to corpus size")
    val expectTok = docs.select(
      sum(graft.functions.TextFns.wordCount(col("text")).cast("long"))).head.getLong(0)
    assert(hist.map(_.getLong(3)).sum == expectTok, "token mass conserved")
    val last = hist.maxBy(_.getLong(0))
    assert(last.getLong(4) == total && last.getAs[Double]("cum_share") == 1.0)
    hist.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 64, "lo_word = bucket * width")
    }
  }

  test("invertedIndex equals a reference index incl. posting cap") {
    import spark.implicits._
    val texts = Seq(
      (10L, "a b a c"), (3L, "b a"), (7L, "c c c a"), (1L, "b"), (5L, "a"))
    val df = texts.toDF("doc_id", "text")
    val got = Retrieval.invertedIndex(df, topTerms = 10, postingCap = 2)
      .orderBy(col("df").desc, col("term")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // reference: term -> (docs touched, total occurrences, 2 smallest ids)
    val occ = texts.flatMap { case (id, t) => t.split(" ").map(w => (w, id)) }
    val want = occ.groupBy(_._1).map { case (w, os) =>
      val byDoc = os.groupBy(_._2)
      (w, byDoc.size.toLong, os.size.toLong,
        byDoc.keys.toSeq.sorted.take(2).mkString(","))
    }.toSeq.sortBy(t => (-t._2, t._1))
    assert(got.toSeq == want)
  }

  test("cooccurrencePmi equals a reference windowed count + ratio") {
    import spark.implicits._
    val texts = Seq((1L, "x y z x y"), (2L, "x y x"), (3L, "z z y x q q q q"))
    val df = texts.toDF("doc_id", "text")
    val got = Retrieval.cooccurrencePmi(df, window = 3, topPairs = 50, minCount = 2)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    // reference
    val uni = texts.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val n = uni.values.sum
    val pc = scala.collection.mutable.Map[(String, String), Long]()
    for ((_, t) <- texts; ws = t.split(" "); i <- ws.indices;
         d <- 1 to 3 if i + d < ws.length) {
      val (a, b) = if (ws(i) <= ws(i + d)) (ws(i), ws(i + d)) else (ws(i + d), ws(i))
      pc((a, b)) = pc.getOrElse((a, b), 0L) + 1
    }
    val want = pc.filter(_._2 >= 2).map { case ((a, b), c) =>
      (a, b) -> (c, uni(a), uni(b),
        (c.toDouble * n.toDouble) / (uni(a).toDouble * uni(b).toDouble))
    }.toMap
    assert(got == want)
  }

  test("textrank replays the integer PageRank loop exactly, hub outranks leaf") {
    import spark.implicits._
    // planted star: "hub" co-occurs with every spoke, spokes only
    // with the hub and their chain neighbor — hub must rank first
    val lines = (1 to 6).map(i => s"hub w$i hub w$i hub w$i hub w$i hub w$i")
    val d = lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Retrieval.textRank(d, window = 2, minCount = 2, iters = 5,
      topK = 10).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    // local reference: identical integer arithmetic over the same edges
    val tokss = lines.map(_.split(" ").toSeq)
    val pc = scala.collection.mutable.Map.empty[(String, String), Long]
    for (toks <- tokss; d0 <- 1 to 2; i <- 0 until toks.length - d0) {
      val (x, y) = (toks(i), toks(i + d0))
      val key = if (x <= y) (x, y) else (y, x)
      pc(key) = pc.getOrElse(key, 0L) + 1
    }
    val edges = pc.toSeq.filter(_._2 >= 2)
      .flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
    val wsum = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var q = wsum.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5)
      q = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> (150000L + es.map { case (src, _, w) =>
          85L * w * q(src) / (100L * wsum(src))
        }.sum)
      }
    val want = q.toSeq.sortBy { case (w, s) => (-s, w) }.take(10)
    assert(got == want, s"got $got\nwant $want")
    assert(got.head._1 == "hub")

    // partitioning invariance: integer sums are order-independent
    val re = Retrieval.textRank(d.repartition(7), window = 2, minCount = 2,
      iters = 5, topK = 10).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(re == got)
  }

  test("perplexityBucket: garbage lands in tail, thresholds are per-language, smoothing is defined") {
    import spark.implicits._
    val fluent = "the cat is in the house and the dog is in the barn of the town to a degree"
    val rows =
      (1L to 9L).map(i => (i, fluent, "en")) ++          // clean, fluent
      Seq((10L, "qwxz1 vbnm2 asdf3 zxcv4 qret5 uiop6 hjkl7 wert8", "en")) ++ // unseen transitions
      (11L to 16L).map(i => (i, fluent, "fr")) ++        // all identical → all head
      Seq((20L, "aa bb", "de"), (21L, "cc dd", "de"))    // no clean de docs → total fallback
    val d = rows.toDF("doc_id", "text", "lang")
    val out = Retrieval.perplexityBucket(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getString(5))).toMap
    // en: the 9 fluent docs share every transition (low 1/p) → head;
    // the garbage doc's transitions are all unseen-context events
    // (clean-total fallback) → distinctly above both tercile cuts
    (1L to 9L).foreach(i => assert(out(i)._2 == "head", s"doc $i: ${out(i)}"))
    assert(out(10L)._2 == "tail", s"garbage: ${out(10L)}")
    assert(out(10L)._1 > out(1L)._1, "garbage must out-surprise fluent")
    // fr never sees the garbage doc: its terciles are its own, and a
    // uniform language is entirely head
    (11L to 16L).foreach(i => assert(out(i)._2 == "head", s"fr $i: ${out(i)}"))
    // de has no Gopher-clean training docs: every bigram scores the
    // deterministic count-1 fallback, 1·10⁶ per occurrence
    assert(out(20L)._1 == 1000000L && out(21L)._1 == 1000000L, s"${out(20L)} ${out(21L)}")
    // partitioning invariance
    val out7 = Retrieval.perplexityBucket(d.repartition(7))
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getString(5))).toMap
    assert(out7 == out)
  }

  test("perplexity scoring: the occ and scoretable plan shapes are row-identical") {
    // the score-table form assembles smoothing per distinct (lang, bg)
    // on the vocab side; every smoothing branch (seen bigram / unseen
    // bigram under seen context / unseen context / no clean slice)
    // must survive the factoring — the sf corpus plus the planted rows
    // below exercise all four
    import spark.implicits._
    val planted = Seq(
      (9000001L, "the cat is in the house and the dog is here now", "en"),
      (9000002L, "qwxz1 vbnm2 asdf3 zxcv4 qret5 uiop6 hjkl7 wert8", "en"),
      (9000003L, "aa bb cc dd", "zz"), (9000004L, "ee ff gg hh", "zz"),
      // NULL lang: must route through the same fallback smoothing on
      // BOTH shapes — the score-table's join-back is null-safe, so a
      // null key cannot vanish in the inner join while surviving the
      // occ path's left joins
      (9000005L, "nn oo pp qq rr", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val d = Tables(spark, sf).documents.select("doc_id", "text", "lang")
      .unionByName(planted)
    def run(scoreTable: Boolean): Seq[(Long, String, Long, Long)] = {
      val (scores, lm) = Retrieval.perplexityScoresWithLm(d, "text",
        "doc_id", "lang", scoreTable)
      try scores.orderBy("doc_id")
        .collect().map(r => (r.getLong(1), r.getString(0),
          r.getLong(2), r.getLong(3))).toSeq
      finally Retrieval.releasePerplexityLm(lm)
    }
    val st = run(scoreTable = true)
    assert(st.exists(_._1 == 9000005L),
      "the null-lang doc must be scored, not dropped by the join-back")
    assert(st.nonEmpty && st == run(scoreTable = false))
  }

  test("default perplexity plan-shape gate: scoretable at sf scale, occ past the budget") {
    // sf-scale corpora sit far under the cache budget: the one-exchange
    // score-table shape
    assert(Retrieval.perplexityScoreTableGate(docs),
      "sf-scale corpus must take the scoretable shape")
    // a stats-inflated frame (an unexecuted crossJoin: only the
    // optimizer stats are read) crosses the spill knee: occ
    val inflated = docs.crossJoin(spark.range(1L << 28).toDF("blowup_rep"))
    assert(!Retrieval.perplexityScoreTableGate(inflated),
      "past-budget stats must take the spill-safe occ shape")
  }

  test("rarity on the corpus: every token instance weighted, sums positive") {
    val out = Retrieval.rarity(docs)
    val bad = out.filter(col("rarity_sum") <= 0 || col("n_tokens") <= 0).count()
    assert(bad == 0)
    // n_tokens must agree with the whitespace token count
    val mismatch = out.join(
        docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_ws")),
        "doc_id")
      .filter(col("n_tokens") =!= col("n_ws")).count()
    assert(mismatch == 0)
  }
}
