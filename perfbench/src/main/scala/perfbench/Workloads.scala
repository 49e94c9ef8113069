package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}

object Workloads {
  /** A name for a pass's on-disk and catalog artifacts. */
  def tag(pass: Int): String = if (pass < 0) "warm" else s"p$pass"
}

/** The reference tool's whole job: one op is one `ExportMain.run` of the
  * generated config (12 reports, CSV, zip, SHA-256) into a fresh
  * directory. Packages stay on disk for the checks. */
final class ExportMonth(spark: SparkSession, data: String, work: String)
    extends Workload {
  private val cfg = s"$data/export_config.json"

  override def prepare(rec: Recorder): Unit = {
    val c = graft.sources.ExportConfig.load(Paths.get(cfg))
    val (_, end) = graft.functions.EthiopianCalendar
      .reportWindow(c.ethMonth.get, c.ethYear.get)
    rec.emit("window", "end" -> end.toString,
      "as_of" -> graft.operators.LineLists.asOf.keys.toSeq.sorted)
    // the DuckDB twins of the configured reports, for the output checks
    val sql = SparkEntry.oracleSql
    Files.write(Paths.get(s"$work/oracle_sql.json"), Json.obj(
      c.queries.map(_._2).distinct.sorted.flatMap(q => sql.get(q).map(q -> _)))
      .getBytes("UTF-8"))
  }

  def pass(r: Runner): Unit = {
    val dir = s"$work/packages/${Workloads.tag(r.pass)}"
    r.op("package")(()) { _ =>
      val res = graft.sources.ExportMain.run(spark, Array(data, dir, cfg))
      Map("package" -> res.packagePath.toString, "checksum" -> res.checksum)
    }
  }
}

/** `StreamingIntake.intake` fed from a MemoryStream, one micro-batch at a
  * time: each batch is added only after the previous one has been
  * processed (closed loop). Batch k carries event minute k. A timed pass
  * is one streaming query over the whole feed. */
final class StreamIntake(spark: SparkSession, data: String, work: String,
    batchSize: Int, seed: Long) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var feed: Array[(Long, Timestamp, String)] = Array.empty
  private var bloom: Array[Byte] = Array.empty
  private val progress = scala.collection.mutable.ArrayBuffer[Seq[(String, Any)]]()
  // the memory-sink tables of the timed passes, checked after the run
  private val outputs = scala.collection.mutable.ArrayBuffer[(Int, String)]()

  override def prepare(rec: Recorder): Unit = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val docs = Tables(spark, data).documents
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val step = 60000L / batchSize
    feed = docs.select("doc_id", "text").orderBy("doc_id")
      .as[(Long, String)].collect().zipWithIndex.map { case ((id, text), i) =>
        (id, new Timestamp(base + (i / batchSize) * 60000L + (i % batchSize) * step), text)
      }
    // the decontamination benchmark: a seed-chosen 1-in-50 subset,
    // fit offline into a fingerprint bloom
    val bench = docs.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(50L)) === 0)
    bloom = graft.operators.TextAnalysis.benchmarkBloomBytes(bench)
  }

  def pass(r: Runner): Unit = {
    val tag = Workloads.tag(r.pass)
    val mem = MemoryStream[(Long, Timestamp, String)]
    var intake: DataFrame = null
    var q: StreamingQuery = null
    r.house("build") {
      intake = graft.streaming.StreamingIntake
        .intake(mem.toDF().toDF("doc_id", "ts", "text"), benchBloom = Some(bloom))
    }
    r.house("start") {
      q = intake.writeStream.format("memory").queryName(s"intake_$tag")
        .option("checkpointLocation", s"$work/checkpoints/$tag")
        .start()
    }
    feed.grouped(batchSize).foreach { b =>
      r.op("batch")(()) { _ =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
        q.lastProgress.batchId
      }
    }
    r.house("stop") {
      q.stop()
      q.recentProgress.foreach { pr =>
        val st = pr.stateOperators
        progress += Seq[(String, Any)]("pass" -> r.pass, "batch" -> pr.batchId,
          "rows" -> pr.numInputRows,
          "durations" -> pr.durationMs.asScala.toSeq.map { case (k, v) =>
            Seq(k, v.longValue) },
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_b" -> st.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "dropped" -> st.map(_.numRowsDroppedByWatermark).sum)
      }
      if (r.pass >= 0) outputs += (r.pass -> s"intake_$tag")
      else spark.catalog.dropTempView(s"intake_$tag")
    }
  }

  override def check(rec: Recorder): Unit = {
    progress.foreach(p => rec.emit("progress", p: _*))
    val twin = Main.fingerprint(graft.streaming.StreamingIntake.intakeBatch(
      feed.toSeq.toDF("doc_id", "ts", "text"), benchBloom = Some(bloom)))
    outputs.foreach { case (p, table) =>
      rec.emit("stream_out", "pass" -> p,
        "out" -> Main.fingerprint(spark.table(table)), "twin" -> twin)
      spark.catalog.dropTempView(table)
    }
  }
}
