package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.TextAnalysis
import graft.plans.{NativeImpl, native}

/** The winnowing kernel and the decontamination gate's fused overlap
  * kernel against their definitions. d_fingerprint, d_contamination
  * and d_bloom_decontam are rows-only (xxhash64 winnowing has no SQL
  * twin), so these parity checks are what guard their values:
  *  - winnowing = the distinct window minima, ascending, computed here
  *    by the straightforward boxed-TreeSet reference;
  *  - fpOverlap = size(filter(winnowing, might_contain)) /
  *    greatest(size, 1), composed here from Spark's own expressions.
  * Both are checked on the interpreted path and on the generated path.
  */
class FingerprintKernelSpec extends SparkSpec {

  /** Reference winnowing, the boxed form the kernel replaced: hash
    * every char k-gram (xxhash64, seed 42, over its UTF-8 bytes), add
    * each window of w hashes' minimum to a TreeSet, return the set in
    * ascending order.
    */
  private def reference(s: String, k: Int, w: Int): Seq[Long] = {
    val text = UTF8String.fromString(s)
    val nChars = text.numChars()
    val nGrams = math.max(nChars - (k - 1), 1)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nBytes = text.numBytes()
    val offs = new Array[Int](nChars + 1)
    var c = 0
    var b = 0
    while (b < nBytes) {
      offs(c) = b
      c += 1
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
    }
    offs(c) = nBytes
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val endChar = math.min(i + k, nChars)
      val startByte = if (i < nChars) offs(i) else nBytes
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        base, off + startByte, offs(endChar) - startByte, 42L)
      i += 1
    }
    val nWin = math.max(nGrams - (w - 1), 1)
    val mins = new java.util.TreeSet[java.lang.Long]()
    i = 0
    while (i < nWin) {
      var m = hashes(i)
      var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      mins.add(m)
      i += 1
    }
    val out = Seq.newBuilder[Long]
    mins.forEach(x => out += x.longValue)
    out.result()
  }

  private val params = Seq((5, 4), (20, 8), (1, 1), (3, 1), (1, 5))

  /** Edge cases: empty, shorter than k, shorter than k+w−1, exactly
    * k+w−1, 2/3/4-byte UTF-8, and long repeats whose windows share
    * minima over long runs; plus seeded random text over small
    * alphabets (ASCII and multi-byte).
    */
  private val generated: Seq[String] = {
    val rnd = new scala.util.Random(9)
    def draw(alphabet: String, n: Int) =
      new String(Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))))
    Seq("", "a", "abcd", "abcdefghijklmnopqrs", "abcdefghijklmnopqrstuvwxyz0",
      "abcdefghijklmnopqrstuvwxyz01234", "é", "éé文", "naïve café déjà vu",
      "文字文字文字文字文字文字文字文字文字文字文字文字",
      "😀😁😂🤣😃😄😅😆😉😊😋😎😍😘🥰😗😙",
      "mixed ascii é 文 😀 and more ascii text after the multi-byte run",
      "a" * 1000, "ab" * 500, "abc " * 300, "the same words " * 80,
      "é" * 300, "文字" * 200, "😀x" * 150) ++
      (1 to 20).map(i => draw("ab ", 50 * i)) ++
      (1 to 10).map(i => draw("aé文😀 ", 40 * i)) ++
      (1 to 10).map(i => draw("abcdefghijklmnopqrstuvwxyz ", 100 * i))
  }

  /** One generated-code run and one interpreted run of `df`'s plan
    * (whole-stage codegen off and the interpreted projection factory).
    * A janino compile error throws instead of falling back.
    */
  private def bothPaths(df: => DataFrame, kernelCall: String): (Array[Row], Array[Row]) = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val gen = df
      val code = org.apache.spark.sql.execution.debug.codegenString(
        gen.queryExecution.executedPlan)
      assert(code.contains(s"graft.plans.NativeImpl.$kernelCall("),
        s"the kernel is not in generated code:\n${code.take(3000)}")
      val genRows = gen.collect()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      (genRows, df.collect())
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def textsDf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    // an RDD source, so the optimizer cannot fold the projection into
    // a local relation: the kernel runs in a codegen stage
    spark.sparkContext.parallelize(texts.zipWithIndex, 2).toDF("text", "id")
  }

  private def checkWinnowing(df: DataFrame, what: String): Unit = {
    val cols = col("id") +: col("text") +: params.map { case (k, w) =>
      native.winnowing(col("text"), k, w).as(s"w_${k}_$w") }
    val (gen, interp) = bothPaths(df.select(cols: _*), "winnowing")
    assert(gen.length == interp.length && gen.length > 0)
    val byId = interp.map(r => r.get(0) -> r).toMap
    gen.foreach { r =>
      val text = r.getString(1)
      params.zipWithIndex.foreach { case ((k, w), j) =>
        val want = reference(text, k, w)
        val direct = NativeImpl.winnowing(UTF8String.fromString(text), k, w)
          .toLongArray().toSeq
        assert(direct == want, s"$what ${r.get(0)} k=$k w=$w: static impl")
        assert(r.getSeq[Long](j + 2) == want, s"$what ${r.get(0)} k=$k w=$w: generated")
        assert(byId(r.get(0)).getSeq[Long](j + 2) == want,
          s"$what ${r.get(0)} k=$k w=$w: interpreted")
      }
    }
  }

  test("winnowing equals the TreeSet reference on every sf0.001 document") {
    val docs = Tables(spark, sf).documents.select(col("doc_id").as("id"), col("text"))
    assert(docs.count() == 500)
    checkWinnowing(docs, "doc")
  }

  test("winnowing equals the TreeSet reference on empty, short, multi-byte and repetitive text") {
    checkWinnowing(textsDf(generated), "generated")
    // the reference itself: repeats collapse to few distinct minima,
    // and every text (even the empty one) has at least one
    assert(reference("a" * 1000, 5, 4).size == 1)
    generated.foreach(t => assert(reference(t, 20, 8).nonEmpty, t))
  }

  /** The gate's value as the intake composed it before the kernel. */
  private def composed(text: org.apache.spark.sql.Column, bf: Array[Byte],
      k: Int, w: Int) = {
    val fps = native.winnowing(text, k, w)
    size(filter(fps, fp => TextAnalysis.bloomMightContain(lit(bf), fp)))
      .cast("double") / greatest(size(fps), lit(1)).cast("double")
  }

  test("fpOverlap equals the filter/might_contain composition exactly") {
    val docs = Tables(spark, sf).documents
    // the benchmark: a 1-in-50 subset, fit offline into a bloom
    val bench = docs.filter(pmod(xxhash64(col("doc_id"), lit(3L)), lit(50L)) === 0)
    val bf = TextAnalysis.benchmarkBloomBytes(bench)
    val gens = textsDf(generated ++
      docs.select("text").limit(40).collect().map(_.getString(0)))
    Seq(docs.select(col("doc_id").as("id"), col("text")) -> "doc",
        gens -> "generated").foreach { case (df, what) =>
      val kp = Seq((20, 8), (5, 4))
      // the composition's higher-order filter is CodegenFallback and
      // would pull a shared Project out of codegen: separate selects
      val (gen, interp) = bothPaths(df.select(col("id") +: kp.map { case (k, w) =>
        native.fpOverlap(col("text"), lit(bf), k, w) }: _*), "fpOverlap")
      val want = df.select(col("id") +: kp.map { case (k, w) =>
          composed(col("text"), bf, k, w) }: _*)
        .collect().map(r => r.get(0) -> r).toMap
      Seq(gen -> "generated", interp -> "interpreted").foreach { case (rows, path) =>
        assert(rows.length == want.size)
        rows.foreach { r =>
          kp.indices.foreach { j =>
            val (got, ref) = (r.getDouble(j + 1), want(r.get(0)).getDouble(j + 1))
            assert(java.lang.Double.compare(got, ref) == 0,
              s"$what ${r.get(0)} ($path) ${kp(j)}: fpOverlap $got vs composed $ref")
          }
        }
      }
      if (what == "doc") {
        // not vacuous: the benchmark docs overlap fully, others partly or not
        val ratios = gen.map(_.getDouble(1))
        assert(ratios.count(_ == 1.0) >= bench.count(), ratios.sorted.takeRight(5).toSeq)
        assert(ratios.exists(_ < 1.0))
      }
    }
  }

  test("fpOverlap is null for a null text or a null bloom, and needs a constant bloom") {
    import spark.implicits._
    val bf = TextAnalysis.benchmarkBloomBytes(
      Seq((1L, "the benchmark text that seeds the filter")).toDF("doc_id", "text"))
    val df = textsDf(Seq("some text", null))
    val out = df.select(col("id"), native.fpOverlap(col("text"), lit(bf), 5, 4),
        native.fpOverlap(col("text"), lit(null).cast("binary"), 5, 4))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
    assert(out(1)._1 == null && out(0)._1 != null, out.toString)
    assert(out(0)._2 == null && out(1)._2 == null, out.toString)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(("t", Array[Byte](1, 2))).toDF("text", "b")
        .select(native.fpOverlap(col("text"), col("b"), 5, 4)).collect())
    assert(e.getMessage.contains("constant binary"), e.getMessage)
  }
}
