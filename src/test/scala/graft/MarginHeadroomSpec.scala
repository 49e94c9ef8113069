package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The margin-headroom companion stats on d_margin_align's miner
  * (withStats = true): `low_headroom` must FIRE on a tie-field
  * population (every emitted pair barely clears marginMin — the
  * §16.5 drift signature a structured replica blow-up produces) and
  * must stay OFF at corpus scale (the sf geometry mines with ~2× the
  * epsilon in slack). The stats ride as appended
  * columns; the bare (withStats = false) schema is what the oracle
  * gate hashes, pinned unchanged here.
  */
class MarginHeadroomSpec extends SparkSpec {

  test("low_headroom fires on a tie-field population") {
    import spark.implicits._
    val dim = 16
    def v(parts: (Int, Double)*): Array[Float] = {
      val a = Array.fill(dim)(0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    // four probes in disjoint coordinate blocks; each sees a best
    // match at cos 0.95 and a runner-up at 0.93 — margin ≈ 1.0215,
    // emitted (≥ 1.02) but with ~0.0015 headroom: a threshold-flip
    // population, exactly what a drifted or template-family corpus
    // produces
    val rows = (0 until 4).flatMap { b =>
      Seq(
        (1000L + b, v(4 * b -> 1.0)),
        (1L + 10 * b, v(4 * b -> 0.95, (4 * b + 1) -> 0.3122)),
        (2L + 10 * b, v(4 * b -> 0.93, (4 * b + 2) -> 0.3676)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val mined = Similarity.marginAlign(emb, col("vec_id") >= 1000L,
      col("vec_id") < 1000L, withStats = true)
    val got = mined.select("margin_p50", "margin_p90", "low_headroom")
      .collect()
    assert(got.length == 4, s"expected all 4 probes emitted, got ${got.length}")
    val r = got.head
    assert(r.getDouble(0) < 1.02 + Similarity.MarginHeadroomEps)
    assert(r.getBoolean(2),
      f"tie-field p50 ${r.getDouble(0)}%.4f must flag low headroom")
    // the stats are frame constants: identical on every row
    assert(got.map(_.toString).distinct.length == 1)
  }

  test("low_headroom stays off at corpus scale; bare schema unchanged") {
    val emb = Tables(spark, sf).embeddings
    val probeF = col("vec_id") % 10 === 0
    val targetF = col("vec_id") % 10 =!= 0
    val withS = Similarity.marginAlign(emb, probeF, targetF, withStats = true)
    val hd = withS.select("margin_p50", "margin_p90", "low_headroom").head()
    assert(!hd.getBoolean(2),
      f"sf corpus flagged low headroom: p50 ${hd.getDouble(0)}%.4f")
    assert(hd.getDouble(0) <= hd.getDouble(1))
    // companion columns APPEND — the oracle-hashed bare schema and
    // rows are byte-identical with stats on or off
    val bare = Similarity.marginAlign(emb, probeF, targetF)
    assert(bare.columns.toSeq ==
      Seq("probe_id", "match_id", "cos6", "margin"))
    assert(withS.columns.toSeq == bare.columns.toSeq ++
      Seq("margin_p50", "margin_p90", "low_headroom"))
    val a = bare.orderBy("probe_id").collect().map(_.toString)
    val b = withS.select("probe_id", "match_id", "cos6", "margin")
      .orderBy("probe_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }
}
