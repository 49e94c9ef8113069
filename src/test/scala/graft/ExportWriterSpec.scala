package graft

import java.io.{BufferedInputStream, FileInputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.sources.ExportJob

/** ExportJob renders each report's CSV itself (Spark's CSV generator
  * and options, in one job over every report, each task returning its
  * partition's bytes to the driver). These specs hold it to the bytes
  * of Spark's own csv sink with its part files merged under one
  * header, and pin the job shape: every report planned before the one
  * write job starts.
  */
class ExportWriterSpec extends SparkSpec with Eventually {

  /** The csv sink's part files in a write's output dir, in order. */
  private def listParts(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Concatenate the csv sink's part files into one CSV, keeping a
    * single header row. Bytes are copied verbatim after the header line
    * of each part (a line-based merge would normalize newlines inside
    * quoted multiline fields).
    */
  private def mergeCsvParts(parts: Seq[Path], out: OutputStream): Unit = {
    var first = true
    parts.foreach { p =>
      val in = new BufferedInputStream(new FileInputStream(p.toFile), 4 << 20)
      try {
        // scan past the header line (headers never contain newlines)
        var b = in.read()
        val header = new java.io.ByteArrayOutputStream()
        while (b >= 0 && b != '\n') { header.write(b); b = in.read() }
        if (first && (header.size() > 0 || b == '\n')) {
          out.write(header.toByteArray); out.write('\n'); first = false
        }
        // raw byte copy of the remainder
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
  }

  /** The reference: Spark's csv sink, then the merge. */
  private def sparkCsv(df: DataFrame): Seq[Byte] = {
    val dir = Files.createTempDirectory("graft_ref_csv")
    df.write.mode("overwrite").option("header", "true").csv(dir.toString)
    val merged = new java.io.ByteArrayOutputStream()
    mergeCsvParts(listParts(dir), merged)
    merged.toByteArray.toSeq
  }

  /** The CSV an export package carries for the one report `df`. */
  private def exportCsv(df: DataFrame): Seq[Byte] = {
    val res = ExportJob.run(spark, Map("r" -> df), Nil,
      Files.createTempDirectory("graft_parity"), "p")
    val zf = new ZipFile(res.packagePath.toFile)
    val inner = Files.createTempFile("graft_parity", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry(res.innerZip)), inner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val iz = new ZipFile(inner.toFile)
    try iz.getInputStream(iz.getEntry("r_p.csv")).readAllBytes().toSeq
    finally { iz.close(); zf.close() }
  }

  private def assertParity(df: DataFrame): Unit = {
    val (ref, got) = (sparkCsv(df), exportCsv(df))
    assert(got == ref, "\nspark:\n" + new String(ref.toArray, "UTF-8") +
      "\nexport:\n" + new String(got.toArray, "UTF-8"))
  }

  private def frame(schema: StructType, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  test("text cells: nulls, empties, quotes, commas, newlines and non-ASCII match Spark's csv sink") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType),
      StructField("w", StringType)))
    val rows = Seq(
      Row(1L, null, ""),
      Row(2L, "", null),
      Row(3L, "quote\"inside", "\"leading"),
      Row(4L, "comma,inside", "a,b,c"),
      Row(5L, "embedded\nnewline", "crlf\r\nline"),
      Row(6L, "Ādīs Ābeba ኢትዮጵያ", "naïve café 日本"),
      Row(7L, " padded ", "back\\slash"),
      Row(8L, null, null))
    // sorted over several partitions, one of them left empty
    assertParity(frame(schema, rows, 3).orderBy("id").repartition(5))
    assertParity(frame(schema, rows, 3).orderBy("id"))
    // partition 0, the one with the header, finishes after every other,
    // so its bytes reach the driver last
    val slowFirst = spark.sparkContext.parallelize(rows, 4)
      .mapPartitionsWithIndex { (i, it) => if (i == 0) Thread.sleep(1500); it }
    assertParity(spark.createDataFrame(slowFirst, schema))
  }

  test("typed cells: date, UTC timestamp, decimal, double, boolean and long match Spark's csv sink") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("amt", DecimalType(12, 4)),
      StructField("x", DoubleType), StructField("flag", BooleanType),
      StructField("n", IntegerType)))
    val rows = Seq(
      Row(1L, java.sql.Date.valueOf("2024-01-21"),
        java.sql.Timestamp.valueOf("2024-01-21 10:15:30.123"),
        new java.math.BigDecimal("1234.5678"), 0.1, true, 7),
      Row(2L, java.sql.Date.valueOf("1970-01-01"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59"),
        new java.math.BigDecimal("-0.0001"), -1.5e300, false, -1),
      Row(3L, null, null, null, Double.NaN, null, null),
      Row(Long.MaxValue, java.sql.Date.valueOf("2016-02-29"),
        java.sql.Timestamp.valueOf("2016-02-29 00:00:00"),
        new java.math.BigDecimal("0"), Double.PositiveInfinity, true, Int.MinValue),
      Row(Long.MinValue, java.sql.Date.valueOf("9999-12-31"), null,
        new java.math.BigDecimal("99999999.9999"), -0.0, false, 0))
    assertParity(frame(schema, rows, 2).orderBy("id"))
  }

  test("binary cells and duplicate column names, which Spark 4's csv sink accepts, match it too") {
    import spark.implicits._
    assertParity(Seq((1, Array[Byte](1, 2, -1)), (2, Array.emptyByteArray), (3, null))
      .toDF("id", "b").orderBy("id"))
    assertParity(Seq((1, 2), (3, 4)).toDF("a", "a"))
    assertParity(Seq((1, 2), (3, 4)).toDF("a", "A"))
  }

  test("0-row reports, with and without partitions, give Spark's header-only CSV") {
    import spark.implicits._
    val withParts = spark.range(0, 10, 1, 3).filter("id < 0").selectExpr("id", "'x' AS v")
    assert(withParts.rdd.getNumPartitions == 3)
    val noParts = Seq.empty[(Long, String)].toDF("id", "v")
    assert(noParts.rdd.getNumPartitions == 0)
    Seq(withParts, noParts).foreach { df =>
      assertParity(df)
      assert(new String(exportCsv(df).toArray, "UTF-8") == "id,v\n")
    }
  }

  test("column types the csv source rejects fail as Spark's sink does, before any part is written") {
    import spark.implicits._
    val good = spark.range(0, 8, 1, 2).toDF("id")
    val rejected = Seq(
      "interval" -> good.selectExpr("id", "make_interval(0, 0, 0, id, 0, 0, 0) AS i"),
      "array" -> Seq((1, Seq(1, 2))).toDF("id", "a"),
      "map" -> Seq((1, Map("k" -> 1))).toDF("id", "m"),
      "struct" -> good.selectExpr("id", "named_struct('x', id) AS s"))
    rejected.foreach { case (what, df) =>
      val ref = withClue(s"$what: ") { intercept[Exception] {
        df.write.mode("overwrite").option("header", "true")
          .csv(Files.createTempDirectory("graft_ref_bad").toString)
      } }
      val out = Files.createTempDirectory("graft_bad")
      val writes = new WriteJobs
      spark.sparkContext.addSparkListener(writes)
      val got = try intercept[Exception] {
        // the good report sorts first: it must not be written either
        ExportJob.run(spark, Map("a" -> good, "b" -> df), Nil, out, "bad")
      } finally spark.sparkContext.removeSparkListener(writes)
      assert(got.getClass == ref.getClass, s"$what: $got vs $ref")
      def condition(t: Throwable) = t match {
        case s: SparkThrowable => s.getCondition
        case _ => null
      }
      assert(condition(got) != null && condition(got) == condition(ref), s"$what: $got vs $ref")
      assert(writes.starts.isEmpty, s"$what: a part-writing job ran")
      assert(Files.list(out).count() == 0, s"$what: files left in $out")
    }
  }

  /** Start and end times of the jobs that write CSV parts. */
  private class WriteJobs extends SparkListener {
    val starts = new ConcurrentLinkedQueue[(Int, Long)]()
    val ends = new ConcurrentLinkedQueue[(Int, Long)]()
    val others = new ConcurrentLinkedQueue[(Int, Long)]()
    val otherEnds = new ConcurrentLinkedQueue[(Int, Long)]()
    val sqlStarts = new ConcurrentLinkedQueue[(Long, Long)]()
    val sqlEnds = new ConcurrentLinkedQueue[(Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      (if (desc == ExportJob.WriteJob) starts else others).add(e.jobId -> e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      (if (starts.asScala.exists(_._1 == e.jobId)) ends else otherEnds).add(e.jobId -> e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.add(s.executionId -> s.time)
      case s: SparkListenerSQLExecutionEnd => sqlEnds.add(s.executionId -> s.time)
      case _ => ()
    }
  }

  test("a 12-report package: one job writes every part, after every report's planning has ended") {
    val writes = new WriteJobs
    val planned = new ConcurrentLinkedQueue[Long]() // last phase end of each report
    val plans = new QueryExecutionListener {
      private def seen(f: String, qe: QueryExecution): Unit =
        if (f == ExportJob.PlanExecution) planned.add(qe.tracker.phases.values.map(_.endTimeMs).max)
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen(f, qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(f, qe)
    }
    val out: Path = Files.createTempDirectory("graft_job_shape")
    spark.sparkContext.addSparkListener(writes)
    spark.listenerManager.register(plans)
    try {
      val res = graft.sources.ExportMain.run(spark,
        Array(sf, out.toString, "config/export_config.json"))
      assert(res.csvFiles.size == 12)
      eventually(timeout(30.seconds)) {
        assert(writes.ends.size == 1 && planned.size == 12)
        assert(writes.sqlEnds.size == writes.sqlStarts.size)
      }
    } finally {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(writes)
    }
    assert(writes.starts.size == 1, "exactly one job writes CSV parts")
    val (start, end) = (writes.starts.peek()._2, writes.ends.peek()._2)
    // the Catalyst phases of every report end before the write job starts
    assert(planned.asScala.forall(_ <= start), s"${planned.asScala.max} > $start")
    // every SQL execution (a report's planning and its AQE stage jobs)
    // lies wholly before or after the write job, and so does every other job
    val sqlEnd = writes.sqlEnds.asScala.toMap
    writes.sqlStarts.asScala.foreach { case (id, t0) =>
      assert(sqlEnd(id) <= start || t0 >= end, s"SQL execution $id overlaps the write job")
    }
    val otherEnd = writes.otherEnds.asScala.toMap
    writes.others.asScala.foreach { case (id, t0) =>
      assert(otherEnd(id) <= start || t0 >= end, s"job $id overlaps the write job")
    }
  }
}
