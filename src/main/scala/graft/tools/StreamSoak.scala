package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Corpus-flip soak for the STREAMING components' offline-fit
  * artifacts — the streaming leg of SoakCheck (which proves the 131
  * batch queries survive an (A, B, A) corpus flip in one JVM). The
  * streaming components all follow the offline-fit rule: a fixed
  * artifact (benchmark bloom bytes, capped benchmark embedding
  * matrix, quality LM, drift reference ppm) is fit on a batch corpus
  * and shipped as a plan constant. In a long-lived driver those
  * artifacts are RE-FIT when the corpus changes; this drive proves a
  * re-fit actually takes effect and nothing session-scoped leaks
  * across the flip: fit on A and stream A, flip to B (re-fit,
  * stream), flip back to A (re-fit, stream) — every component's
  * third-pass output must be BIT-IDENTICAL to its first-pass output,
  * in the same JVM, with no cache resets in between.
  *
  * Components exercised per pass:
  *  - StreamingIntake.intake with BOTH decontamination gates (bloom
  *    fingerprints + semantic argmax) and the quality gate — admitted
  *    (doc_id, dedup_key, quality_score, contam_ratio, sem_cos6)
  *    rows; docs without an embedding ride the documented
  *    null-embedding admit policy.
  *  - StreamingQuality.bucketStream — (doc_id, bucket) tags.
  *  - StreamingDrift.driftStream — closed WindowDrift rows.
  *
  * Usage: StreamSoak <dirA> <dirB>
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamSoak <dirA> <dirB>")
    val (dirA, dirB) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus, "graft-stream-soak")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val BaseUs = 1700000000000000L // fixed epoch micros, in-order stream
    val HourUs = 3600L * 1000000L

    def sig(df: DataFrame): String = {
      val rows = df.collect().map(_.toString).sorted
      f"${rows.length} rows / ${rows.mkString("\n").hashCode}%08x"
    }

    var passN = 0
    def pass(dir: String): (String, String, String) = {
      passN += 1
      val t0 = System.nanoTime()
      // ---- offline fits, re-done per pass (the deployment's refit)
      val docs = graft.Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), col("text"))
      val emb = graft.Tables(spark, dir).embeddings
      val bloom = graft.operators.TextAnalysis.benchmarkBloomBytes(
        docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text"))
      val art = graft.operators.Similarity.benchArtifact(
        emb, col("vec_id") % 50 === 0)
      val qModel = graft.streaming.StreamingQuality.fit(docs)
      val dModel = graft.streaming.StreamingDrift.fit(docs)

      // one materialized feed, identical construction every pass:
      // (doc_id, lang, text, embedding-or-null, batch residue)
      val feed = docs
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"), "left")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          Option(r.get(3)).map(_ =>
            r.getSeq[Float](3).toArray).orNull))
        .sortBy(_._1)

      // ---- intake: quality + bloom + semantic gates, watermark dedup
      val inMem = MemoryStream[(Long, Long, String, Array[Float])]
      val inDocs = inMem.toDF().toDF("doc_id", "ts_us", "text", "embedding")
        .select(col("doc_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("text"), col("embedding"))
      val inQ = StreamScale.memorySink(graft.streaming.StreamingIntake.intake(
        inDocs, minQuality = 0.0, benchBloom = Some(bloom), maxOverlap = 0.5,
        semBench = Some(art), semTauMicro = 900000L), s"soak_intake_$passN")
      StreamScale.closedLoop("ssoak", inQ, inMem, 4) { b =>
        feed.filter(_._1 % 4 == b).map(r =>
          (r._1, BaseUs + b * 60000000L, r._3, r._4)).toSeq
      }
      inQ.stop()
      val intakeSig = sig(spark.table(s"soak_intake_$passN")
        .select("doc_id", "dedup_key", "quality_score", "contam_ratio",
          "sem_cos6"))

      // ---- quality terciles
      val qMem = MemoryStream[(Long, String, String)]
      val qQ = StreamScale.memorySink(graft.streaming.StreamingQuality.bucketStream(
        qMem.toDF().toDF("doc_id", "lang", "text"), qModel), s"soak_quality_$passN")
      StreamScale.closedLoop("ssoak", qQ, qMem, 4) { b =>
        feed.filter(_._1 % 4 == b).map(r => (r._1, r._2, r._3)).toSeq
      }
      qQ.stop()
      val qualitySig = sig(spark.table(s"soak_quality_$passN")
        .select("doc_id", "bucket"))

      // ---- drift windows (three 1-hour windows + a far sentinel that
      // advances the watermark past them so all three CLOSE)
      val dMem = MemoryStream[(Long, Long, String)]
      val dQ = StreamScale.memorySink(graft.streaming.StreamingDrift.driftStream(
        dMem.toDF().toDF("doc_id", "ts_us", "text")
          .select(timestamp_micros(col("ts_us")).as("ts"), col("text")),
        dModel), s"soak_drift_$passN")
      StreamScale.closedLoop("ssoak", dQ, dMem, 4) { b =>
        feed.filter(_._1 % 4 == b).map(r =>
          (r._1, BaseUs + (r._1 % 3) * HourUs, r._3)).toSeq
      }
      dMem.addData((-1L, BaseUs + 48L * HourUs, "sentinel flush"))
      dQ.processAllAvailable()
      dQ.stop()
      val driftSig = sig(spark.table(s"soak_drift_$passN"))

      println(f"[ssoak] pass $passN ($dir): intake=$intakeSig" +
        f" quality=$qualitySig drift=$driftSig" +
        f" (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      Console.flush()
      (intakeSig, qualitySig, driftSig)
    }

    val a1 = pass(dirA)
    val b = pass(dirB)
    val a2 = pass(dirA)
    require(b != a1,
      "corpus flip produced identical outputs — the drive isn't flipping")
    require(a2 == a1,
      s"A-pass outputs diverged after the corpus flip: first=$a1 third=$a2")
    println("[ssoak] PASS: all three streaming components bit-identical " +
      "on the return to corpus A after a flip (same JVM, no cache resets)")
    spark.stop()
  }
}
