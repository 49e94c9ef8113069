package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class QuantizeSpec extends SparkSpec {

  private def emb = Tables(spark, sf).embeddings

  /** Interpreted HOF reference of the native quantizer in [[Similarity.scalarQuantize]]. */
  private def scalarQuantizeHof(emb: DataFrame, levels: Int): DataFrame =
    Similarity.quantizeWith(emb, levels) { (mns, mxs) =>
      val lv = lit(levels.toDouble)
      transform(col("embedding"), (x, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        when(mx === mn, 0L).otherwise(
          least(floor((x.cast("double") - mn) * lv / (mx - mn)),
            lit((levels - 1).toLong)))
      })
    }

  test("scalar quantization codes match an independent driver-side computation") {
    val q = Similarity.scalarQuantize(emb, levels = 256)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = vecs.head._2.length
    val mn = Array.tabulate(dim)(i => vecs.values.map(_(i).toDouble).min)
    val mx = Array.tabulate(dim)(i => vecs.values.map(_(i).toDouble).max)
    vecs.foreach { case (id, v) =>
      val expect = v.indices.map { i =>
        if (mx(i) == mn(i)) 0L
        else math.min(
          math.floor((v(i).toDouble - mn(i)) * 256.0 / (mx(i) - mn(i))).toLong,
          255L)
      }
      assert(q(id) == expect, s"codes diverge for vec $id")
    }
  }

  test("native quantize codes match the interpreted HOF reference bit-for-bit") {
    val nat = Similarity.scalarQuantize(emb, levels = 256)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = scalarQuantizeHof(emb, levels = 256)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(nat.keySet == hof.keySet)
    nat.foreach { case (id, codes) => assert(codes == hof(id), s"vec $id") }
  }

  test("quantization codes stay in range and bucket-center dequantization bounds the error") {
    val q = Similarity.scalarQuantize(emb, levels = 256)
    assert(q.filter(array_min(col("q")) < 0 || array_max(col("q")) > 255).isEmpty)
    // per-dimension reconstruction error <= one bucket width
    val stats = emb.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
    val joined = q.join(emb, "vec_id")
      .select(col("vec_id"), posexplode(arrays_zip(col("q"), col("embedding")))
        .as(Seq("dim", "p")))
      .join(stats, "dim")
      .withColumn("w", (col("mx") - col("mn")) / 256.0)
      .withColumn("dequant", col("mn") + (col("p.q").cast("double") + 0.5) * col("w"))
      .withColumn("err", abs(col("dequant") - col("p.embedding").cast("double")))
    assert(joined.filter(col("err") > col("w")).isEmpty,
      "dequantization error exceeded one bucket width")
  }

  test("label outliers: a planted cross-label vector ranks as its label's top outlier") {
    import spark.implicits._
    val a = Array(1.0f, 0.05f, 0.0f, 0.02f)
    val b = Array(0.0f, 1.0f, 0.03f, 0.0f)
    def jig(v: Array[Float], i: Int) = v.map(_ + i * 0.01f)
    val rows = (0 until 20).map(i => (i.toLong, jig(a, i % 5), 0)) ++
      (20 until 40).map(i => (i.toLong, jig(b, i % 5), 1)) :+
      ((99L, b, 0)) // mislabeled: b-shaped vector tagged label 0
    val e = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(e, k = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(out.contains((0, 1, 99L)),
      s"planted mislabel must be label 0's #1 outlier, got ${out.toSeq}")
    // ranks are dense per label and scores are within [-1, 1]
    val byLabel = out.groupBy(_._1)
    byLabel.values.foreach(g => assert(g.map(_._2).sorted.toSeq == (1 to g.size).toSeq))
  }

  test("semantic dedup: every drop is justified by a lower-id same-cell near neighbor") {
    val tau = 0.4
    val out = Similarity.semanticDedup(emb, tau = tau).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getLong(3)))
    val cells = out.map(t => t._1 -> t._2).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      d / (math.sqrt(a.indices.foldLeft(0.0)((s, i) => s + a(i) * a(i)))
        * math.sqrt(b.indices.foldLeft(0.0)((s, i) => s + b(i) * b(i))))
    }
    val dropped = out.filter(!_._3)
    assert(dropped.nonEmpty, "corpus has planted near-dups; some must drop")
    dropped.foreach { case (id, cell, _, rep) =>
      assert(rep < id, s"representative $rep must precede $id")
      assert(cells(rep) == cell, s"rep $rep of $id must share its cluster")
      val c = cos(vecs(rep), vecs(id))
      assert(c > tau, s"cos($rep, $id) = $c <= $tau")
    }
    out.filter(_._3).foreach { case (id, _, _, rep) => assert(rep == id) }
  }

  test("semantic dedup recalls a real share of the exact cosine pair set") {
    val tau = 0.4
    val exact = Dedup.embeddingNearDup(emb, lit(true), tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val droppedIds = Similarity.semanticDedup(emb, tau = tau)
      .filter(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // an exact pair (a, b) is recalled when its higher-id side was
    // dropped (the one-sided SemDeDup policy); misses are cross-cell
    // pairs — the documented clustering trade
    val recalled = exact.count { case (_, b) => droppedIds.contains(b) }
    val recall = recalled.toDouble / exact.size
    assert(recall >= 0.4, s"semdedup recall $recall over ${exact.size} exact pairs")
  }

  test("cluster topics recover planted topics, deterministically") {
    import spark.implicits._
    // two well-separated embedding clusters with disjoint vocabularies
    val rnd = new scala.util.Random(5)
    def vec(center: Float) = Array.tabulate(16)(i =>
      center + (if (i == 0) 0f else rnd.nextFloat() * 0.01f))
    val rows = (0 until 40).map { i =>
      if (i % 2 == 0)
        (i.toLong, vec(1.0f), "solar panel energy grid watt output yield")
      else
        (i.toLong, vec(-1.0f), "yeast bread dough oven crumb proof bake")
    }
    val embDf = rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")
    val docsDf = rows.map(r => (r._1, r._3)).toDF("doc_id", "text")
    val out = Similarity.clusterTopics(embDf, docsDf, nClusters = 2,
      topTerms = 3, trainSample = 40)
    val byCell = out.collect().groupBy(_.getAs[Int]("cell"))
    assert(byCell.size == 2, s"expected 2 clusters: $byCell")
    byCell.values.foreach { cluster =>
      assert(cluster.length == 3) // topTerms rows each
      assert(cluster.forall(_.getAs[Long]("n_docs") == 20L))
      val terms = cluster.map(_.getAs[String]("term")).toSet
      // a cluster's top terms come from ONE planted vocabulary
      val solar = Set("solar", "panel", "energy", "grid", "watt", "output", "yield")
      val bread = Set("yeast", "bread", "dough", "oven", "crumb", "proof", "bake")
      assert(terms.subsetOf(solar) || terms.subsetOf(bread), terms.toString)
    }
    // deterministic across runs and input partitionings
    val again = Similarity.clusterTopics(embDf.repartition(7),
      docsDf.repartition(3), nClusters = 2, topTerms = 3, trainSample = 40)
    assert(out.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted))
  }
}
