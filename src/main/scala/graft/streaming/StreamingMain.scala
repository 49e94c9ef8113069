package graft.streaming

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** Demo entry: stream the events table through the windowed-count
  * pipeline via a real file streaming source.
  *
  *   runMain graft.streaming.StreamingMain <sfDir>
  */
object StreamingMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-stream")
    // raw (pre-conversion) schema for the file source, then the same
    // nanos->micros conversion Tables.events applies
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // FileStreamSource wants a directory: stage the table file into one
    val stage = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stage.resolve("events.parquet"))
    val fileStream = spark.readStream
      .schema(raw.schema)
      .format("parquet")
      .option("maxFilesPerTrigger", "1")
      .load(stage.toString)
    // ts arrives as nanos-long (legacy nano parquet) or TIMESTAMP_NTZ
    // (micros, isAdjustedToUTC=false — the current generator's type);
    // watermarks require TIMESTAMP (LTZ), so normalize. The session
    // runs UTC, so the NTZ→LTZ cast is value-preserving.
    val stream = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        fileStream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        fileStream.withColumn("ts", col("ts").cast("timestamp"))
      case _ => fileStream
    }
    // production shape: parquet file sink + checkpoint (exactly-once;
    // a restart resumes from the checkpoint instead of reprocessing)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_sink")
    val q = EventStream.windowedCounts(stream)
      .writeStream.format("parquet")
      .option("path", s"$sinkDir/out")
      .option("checkpointLocation", s"$sinkDir/chk")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$sinkDir/out")
      .orderBy("window_start", "event_type")
    val n = out.count()
    out.show(8, truncate = false)
    // restart against the same checkpoint: no new input -> no new rows
    val q2 = EventStream.windowedCounts(stream)
      .writeStream.format("parquet")
      .option("path", s"$sinkDir/out")
      .option("checkpointLocation", s"$sinkDir/chk")
      .outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()
    val n2 = spark.read.parquet(s"$sinkDir/out").count()
    println(s"[stream] windows_emitted=$n after_restart=$n2 exactly_once=${n == n2}")
    spark.stop()
  }
}
