package graft

import graft.operators.Bpe

/** Bpe.learn/trainReport/encodeStats vs an in-test reference
  * implementation of classic BPE (pair counts weighted by word
  * frequency, argmax with (count desc, pair asc) tie-break, greedy
  * left-to-right merge application) — including equal-symbol runs,
  * where greediness is the part the relational islands formulation
  * has to get right.
  */
class BpeSpec extends SparkSpec {

  /** Reference BPE on a word-frequency map. Returns (merges, final
    * symbol sequences per word).
    */
  private def refBpe(wf: Map[String, Long], k: Int)
      : (Seq[(String, String, Long)], Map[String, List[String]]) = {
    var words = wf.keys.map(w => w -> w.toList.map(_.toString)).toMap
    val merges = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to k) {
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, syms) <- words; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + wf(w)
      val ((a, b), c) = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      merges += ((a, b, c))
      words = words.map { case (w, syms) =>
        val out = List.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        w -> out.result()
      }
    }
    (merges.result(), words)
  }

  private def docsDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def wordFreqOf(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  test("trainReport equals reference BPE incl. equal-symbol runs") {
    // aaaa/aaa force overlapping (a,a) candidates: greedy must merge
    // at offsets 0,2 within a run, never at 1
    val texts = Seq(
      "aaaa aaa banana bananas cabana",
      "low lower lowest low low slow",
      "aaaa aaaa banana slowest lowly",
      "newer newest wider widest low")
    val got = Bpe.trainReport(docsDf(texts), merges = 8)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val (want, _) = refBpe(wordFreqOf(texts), 8)
    assert(got == want)
  }

  test("encodeStats equals reference token counts") {
    val texts = Seq(
      "aaaa aaa aa a banana",
      "low lower lowest slow slower",
      "banana cabana aaaa low low")
    val df = Bpe.encodeStats(docsDf(texts), merges = 6).orderBy("doc_id").collect()
    val (_, words) = refBpe(wordFreqOf(texts), 6)
    val want = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
      (i.toLong, ws.length.toLong, ws.map(_.length).sum.toLong,
        ws.map(w => words(w).length).sum.toLong)
    }
    val got = df.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // merged tokens really compress: every doc has n_tokens < n_chars
    assert(got.forall(r => r._4 < r._3))
  }

  test("vocab report: ids ordered by weighted count, symbols cover the corpus") {
    val texts = Seq("low lower lowest low", "newer newest low slow")
    val got = Bpe.vocabReport(docsDf(texts), merges = 6)
      .orderBy("token_id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val (_, words) = refBpe(wordFreqOf(texts), 6)
    val wf = wordFreqOf(texts)
    val want = words.toSeq
      .flatMap { case (w, syms) => syms.map(_ -> wf(w)) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      .toSeq.sortBy { case (s, c) => (-c, s) }
      .zipWithIndex.map { case ((s, c), i) => (i + 1, s, c) }
    assert(got.toSeq == want)
  }

  test("merge loop stops at the last valid state when pairs run out") {
    // one mergeable pair then nothing: training must stop after merge
    // 1 instead of joining an empty argmax through (which emptied the
    // symbol table and zeroed every downstream artifact)
    val texts = Seq("ab ab")
    val got = Bpe.trainReport(docsDf(texts), merges = 8)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "b", 2L)))
    val vocab = Bpe.vocabReport(docsDf(texts), merges = 8).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(vocab == Seq(("ab", 2L)))
    // no pairs at all (every word one char): empty merge list with the
    // artifact schema, single-char vocabulary intact
    val single = Seq("a b a")
    val tr = Bpe.trainReport(docsDf(single), merges = 4)
    assert(tr.columns.toSeq ==
      Seq("rank", "left_sym", "right_sym", "pair_freq"))
    assert(tr.count() == 0L)
    val v2 = Bpe.vocabReport(docsDf(single), merges = 4).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    assert(v2 == Set(("a", 2L), ("b", 1L)))
  }

  test("merge choice tie-break is lexicographic at equal counts") {
    // "zz" and "yy" both appear exactly twice; (y,y) must win rank 1
    val texts = Seq("zz yy", "zz yy")
    val got = Bpe.trainReport(docsDf(texts), merges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "y", "y", 2L), (2, "z", "z", 2L)))
  }

  test("LearnCache: cached reports equal direct, key change retires") {
    SessionCaches.reset("bpe")
    val docs = Tables(spark, sf).documents
    val direct = Bpe.trainReport(docs).orderBy("rank").collect().toSeq
    val cached = Bpe.trainReportFrom(docs,
      Bpe.cachedLearn(docs, "k1")._1).orderBy("rank").collect().toSeq
    assert(cached == direct)
    // same key: the SAME learned frames come back (no re-train)
    val again = Bpe.cachedLearn(
      sys.error("must not re-learn on a warm key"), "k1")
    assert(again._2 eq Bpe.cachedLearn(docs, "k1")._2)
    // new key: retrain on the new corpus, results still correct
    val texts = Seq("ab ab", "ab cd")
    val viaCache = Bpe.vocabReportFrom(
      Bpe.cachedLearn(docsDf(texts), "k2")._2)
      .orderBy("token_id").collect().toSeq
    val directSmall = Bpe.vocabReport(docsDf(texts))
      .orderBy("token_id").collect().toSeq
    assert(viaCache == directSmall)
    // breadth: a second corpus must NOT evict the first (the SoakCheck
    // A→B→A flip retrained every leg under the one-slot cache)
    assert(again._2 eq Bpe.cachedLearn(
      sys.error("k1 must survive k2"), "k1")._2)
    // ...but past LearnMaxLive distinct keys the least-recently-used
    // keys (k1 then k2 — k1 was touched before this re-touch of k2)
    // are evicted and retrain on next use
    val k2Frames = Bpe.cachedLearn(docsDf(texts), "k2")._2
    (3 to Bpe.LearnMaxLive + 2).foreach { i =>
      Bpe.cachedLearn(docsDf(texts), s"k$i")
    }
    assert(SessionCaches.liveCount("bpe") == Bpe.LearnMaxLive)
    assert(!(k2Frames eq Bpe.cachedLearn(docsDf(texts), "k2")._2))
    SessionCaches.reset("bpe")
    assert(SessionCaches.liveCount("bpe") == 0)
  }

  test("fertility: per-language integer ratios from the encode stats") {
    import spark.implicits._
    // en words merge fully (one token each after 2 merges of a+b,
    // ab+c); zz words stay 2 symbols (y,y wins no merges here)
    val docs = Seq((1L, "en", "abc abc abc abc"), (2L, "qq", "xy xy"))
      .toDF("doc_id", "lang", "text")
    val got = Bpe.fertility(docs, merges = 2)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // merges learned on the whole corpus: (a,b) freq 4, then (ab,c)
    // freq 4 → "abc" is 1 token; "xy" remains x,y = 2 tokens
    assert(got == Seq(
      ("en", 4L, 12L, 4L, 1000000L, 3000000L),
      ("qq", 2L, 4L, 4L, 2000000L, 1000000L)))
    // fertility is per-word-weighted: matches n_tokens*1e6 div n_words
    got.foreach { case (_, w, c, t, f, cpt) =>
      assert(f == t * 1000000L / w); assert(cpt == c * 1000000L / t)
    }
  }
}
