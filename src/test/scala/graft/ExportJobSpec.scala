package graft

import java.nio.file.Files
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.io.Source

import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.sources.ExportJob

class ExportJobSpec extends SparkSpec with Eventually {

  /** The reference digest: SHA-256 of a file, read back from disk. */
  private def sha256(p: java.nio.file.Path): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  test("csv merge preserves quoted multiline fields byte-exactly") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_multiline")
    val df = Seq(
      (1L, "plain"),
      (2L, "embedded\nnewline"),
      (3L, "crlf\r\nline"),
      (4L, "quote\"inside")).toDF("id", "v").repartition(3)
    val res = ExportJob.run(spark, Map("ml" -> df), Nil, out, "mltest")
    val zf = new ZipFile(res.packagePath.toFile)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry("mltest.zip")), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val csvPath = Files.createTempFile("ml", ".csv")
    Files.copy(inner.getInputStream(inner.getEntry("ml_mltest.csv")), csvPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Spark's own csv reader must round-trip the merged file exactly
    // reader options must match the writer's defaults (quote=", escape=\)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .csv(csvPath.toString)
      .collect().map(r => r.getString(0).toLong -> r.getString(1)).toMap
    assert(back == Map(1L -> "plain", 2L -> "embedded\nnewline",
      3L -> "crlf\r\nline", 4L -> "quote\"inside"))
    inner.close(); zf.close()
  }

  test("export runs queries, appends constants, zips with checksum") {
    val t = Tables(spark, sf)
    val out = Files.createTempDirectory("graft_export")
    val res = ExportJob.run(
      spark,
      Map(
        "regions" -> t.region,
        "top_nations" -> t.nation.limit(5)),
      constants = Seq("Region" -> "Addis", "Facility" -> "TestFacility", "HMISCode" -> "H123"),
      outDir = out,
      tag = "TestFacilityH123_Tir_2016")

    assert(Files.exists(res.packagePath))
    val zf = new ZipFile(res.packagePath.toFile)
    val names = zf.entries().asScala.map(_.getName).toSet
    assert(names == Set("TestFacilityH123_Tir_2016.zip",
      "TestFacilityH123_Tir_2016_checksum.txt"))

    // checksum in the package matches the sha256 of the inner zip
    val chkEntry = zf.getEntry("TestFacilityH123_Tir_2016_checksum.txt")
    val recorded = Source.fromInputStream(zf.getInputStream(chkEntry)).mkString.trim
    assert(recorded == res.checksum)
    assert(recorded.matches("[0-9a-f]{64}"))

    // inner zip holds one csv per query with the constant columns appended
    val innerEntry = zf.getEntry("TestFacilityH123_Tir_2016.zip")
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(innerEntry), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val csvNames = inner.entries().asScala.map(_.getName).toSet
    assert(csvNames == Set("regions_TestFacilityH123_Tir_2016.csv",
      "top_nations_TestFacilityH123_Tir_2016.csv"))
    val csv = Source.fromInputStream(
      inner.getInputStream(inner.getEntry("regions_TestFacilityH123_Tir_2016.csv")))
      .getLines().toSeq
    assert(csv.head.split(",").takeRight(3).toSeq == Seq("Region", "Facility", "HMISCode"))
    assert(csv.tail.nonEmpty && csv.tail.forall(_.endsWith("Addis,TestFacility,H123")))
    inner.close(); zf.close()
    // the package is all that is left: no part dir, CSV, inner zip or
    // checksum file beside it
    val left = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
    assert(left == Set("TestFacilityH123_Tir_2016_packaged.zip"), left.mkString(", "))
  }

  test("a report that fails mid-package leaves no partial package behind") {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    val out = Files.createTempDirectory("graft_export_fail")
    // range frames, so the failing row is met in a task, not folded
    // away while the driver plans
    val good = spark.range(1, 41, 1, 4)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    val bad = good.select(col("id"),
      when(col("id") === 7, raise_error(lit("injected report failure")))
        .otherwise(col("v")).as("v"))
    val e = intercept[Exception] {
      ExportJob.run(spark, Map("a_good" -> good, "b_bad" -> bad, "c_good" -> good),
        Seq("Facility" -> "F1"), out, "failtag")
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("injected report failure"), messages)
    val left = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(left.isEmpty, s"partial package left in outDir: ${left.mkString(", ")}")
  }

  test("a report failing in an AQE stage job while the reports plan concurrently fails the package cleanly") {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    val sc = spark.sparkContext
    // every report shuffles, so each has a shuffle map stage job that
    // runs while the others plan; the bad report's fails there, before
    // the write job
    val good = spark.range(1, 41, 1, 4)
      .select(col("id"), concat(lit("v"), col("id")).as("v")).repartition(3)
    val bad = spark.range(1, 41, 1, 4).select(col("id"),
      when(col("id") === 7, raise_error(lit("injected planning failure")))
        .otherwise(concat(lit("v"), col("id"))).as("v")).repartition(3)
    val reports = Map("a_good" -> good, "b_bad" -> bad, "c_good" -> good, "d_good" -> good)
    // start and end of every job of this test's job group
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == "export-plan-fail")
          .foreach(p => starts.add(e.jobId -> String.valueOf(p.getProperty("spark.job.description"))))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ends.add(e.jobId -> e.time)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("export-plan-fail", "plan-fail marker")
    try (1 to 2).foreach { attempt =>
      val out = Files.createTempDirectory("graft_export_plan_fail")
      val e = intercept[Exception] {
        ExportJob.run(spark, reports, Seq("Facility" -> "F1"), out, "planfail")
      }
      val thrownAt = System.currentTimeMillis()
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(messages.contains("injected planning failure"), s"run $attempt: $messages")
      val left = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(left.isEmpty, s"run $attempt left in outDir: ${left.mkString(", ")}")
      // no planning thread outlives the run
      val planThreads = Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && t.getName.startsWith("graft-export-plan-"))
      assert(planThreads.isEmpty, s"run $attempt: ${planThreads.map(_.getName)}")
      // every job the run started had ended when it threw; the status
      // store learns of the ends through the listener bus
      eventually(timeout(30.seconds)) {
        val ended = ends.asScala.toMap
        assert(starts.asScala.forall { case (job, _) => ended.contains(job) })
        assert(sc.statusTracker.getActiveJobIds.isEmpty)
      }
      val ended = ends.asScala.toMap
      starts.asScala.foreach { case (job, _) =>
        assert(ended(job) <= thrownAt, s"run $attempt: job $job ended after the run threw")
      }
    }
    finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val descriptions = starts.asScala.map(_._2).toSeq
    assert(descriptions.nonEmpty && !descriptions.contains(ExportJob.WriteJob),
      s"the failure must come from a stage job, not the write job: $descriptions")
  }

  test("a failing re-export keeps the previous package byte for byte") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val out = Files.createTempDirectory("graft_export_rerun")
    // a range frame, so the failing row is met in a task of the write job
    val df = spark.range(1, 41, 1, 4).select(col("id"))
    val first = ExportJob.run(spark, Map("r" -> df), Nil, out, "t")
    val bytes = Files.readAllBytes(first.packagePath)
    def assertKept(blocking: String*): Unit = {
      assert(Files.exists(first.packagePath), "the failed rerun deleted the previous package")
      assert(Files.readAllBytes(first.packagePath).sameElements(bytes))
      val left = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
      assert(left == Set("t_packaged.zip") ++ blocking, left.mkString(", "))
    }
    // the rerun's write job fails in a report's task
    val bad = df.select(when(col("id") === 7, raise_error(lit("injected rerun failure")))
      .otherwise(col("id")).as("id"))
    val e = intercept[Exception](ExportJob.run(spark, Map("r" -> bad), Nil, out, "t"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("injected rerun failure"), messages)
    assertKept()
    // a directory holds the staged package's name, so the rerun cannot write it
    Files.createDirectory(out.resolve(".t_packaged.zip.tmp"))
    intercept[java.io.IOException] {
      ExportJob.run(spark, Map("r" -> df), Nil, out, "t")
    }
    assertKept(".t_packaged.zip.tmp")
  }

  test("a report name or tag with a path separator is refused before any job runs") {
    val out = Files.createTempDirectory("graft_export_names")
    val df = spark.range(1, 5).toDF("id")
    // the descriptions of this test's jobs (its job group) in start
    // order; a marker job ends the record
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == "export-names")
          .foreach(p => jobs.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("export-names", "names marker")
    try {
      Seq(
        (Map("r" -> df), "../x", "../x"),
        (Map("r" -> df), "TestFac/H1_Tir_2016", "TestFac/H1_Tir_2016"),
        (Map("../x" -> df), "t", "../x"),
        (Map("ok" -> df, "a\\b" -> df), "t", "a\\b")).foreach { case (queries, tag, bad) =>
          val e = intercept[IllegalArgumentException](ExportJob.run(spark, queries, Nil, out, tag))
          assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
        }
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(30.seconds))(assert(jobs.contains("names marker")))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.asScala.toSeq == Seq("names marker"), s"a job ran for a refused name: $jobs")
    val left = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(left.isEmpty, s"left in outDir: ${left.mkString(", ")}")
  }

  test("a window month or year that is not a JSON integer is refused, naming the field") {
    Seq("eth_year" -> "null", "eth_year" -> "\"2O16\"", "eth_year" -> "2016.5",
        "eth_year" -> "[]", "eth_month" -> "null", "eth_month" -> "5.0").foreach { case (field, v) =>
      val other = if (field == "eth_year") "\"eth_month\":5" else "\"eth_year\":2016"
      val json = s"""{"queries":{"A":"q_line_list"},"window":{$other,"$field":$v}}"""
      val e = intercept[IllegalArgumentException](graft.sources.ExportConfig.parse(json))
      assert(e.getMessage.contains(field), s"$json: ${e.getMessage}")
    }
    val ok = graft.sources.ExportConfig.parse(
      """{"queries":{"A":"q_line_list"},"window":{"eth_month":5,"eth_year":2016}}""")
    assert((ok.ethMonth, ok.ethYear) == (Some(5), Some(2016)))
  }

  test("a month sweep: each configured report follows the month or is declared window-free") {
    // the configured reports that read the whole history, and why
    val windowFree = Map(
      "q_ll_course" -> "deliberate: a course pairs a client's first start with the last completion ever seen",
      "q_pivot_agg" -> "registered and oracle-checked as per-client flags over all events",
      "q_range_join" -> "the generic interval join, not a dated report")
    val cfgPath = java.nio.file.Paths.get("config/export_config.json")
    val cfg = graft.sources.ExportConfig.load(cfgPath)
    val base = new String(Files.readAllBytes(cfgPath), "UTF-8")
    // each report's CSV bytes, by tag, for one Ethiopian month of 2016
    def export(month: Int): Map[String, Seq[Byte]] = {
      val monthCfg = Files.createTempFile("graft_month", ".json")
      Files.writeString(monthCfg,
        base.replaceAll("(\"eth_month\"\\s*:\\s*)\\d+", "$1" + month))
      val res = graft.sources.ExportMain.run(spark, Array(sf,
        Files.createTempDirectory("graft_month").toString, monthCfg.toString))
      val zf = new ZipFile(res.packagePath.toFile)
      val tmpInner = Files.createTempFile("inner", ".zip")
      Files.copy(zf.getInputStream(zf.getEntry(res.innerZip)), tmpInner,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val inner = new ZipFile(tmpInner.toFile)
      val suffix = s"_${res.innerZip.stripSuffix(".zip")}.csv"
      try inner.entries().asScala.map(e => e.getName.stripSuffix(suffix) ->
        inner.getInputStream(e).readAllBytes().toSeq).toMap
      finally { inner.close(); zf.close() }
    }
    // Tahisas 2016 ends 2023-12-30, before the first event; Tir 2016
    // ends 2024-01-29, inside the data
    val (tahisas, tir) = (export(4), export(5))
    assert(tir.keySet == cfg.queries.map(_._1).toSet && tahisas.keySet == tir.keySet)
    cfg.queries.foreach { case (tag, q) =>
      val same = tahisas(tag) == tir(tag)
      if (windowFree.contains(q))
        assert(same, s"$tag ($q) changed, though declared window-free: ${windowFree(q)}")
      else {
        assert(graft.operators.LineLists.asOf.contains(q), s"$tag ($q) has no as-of twin")
        assert(!same, s"$tag ($q) is the same in both months")
      }
    }
  }

  test("export config parses tags, constants and window (export_config.json semantics)") {
    val c = graft.sources.ExportConfig.load(
      java.nio.file.Paths.get("config/export_config.json"))
    assert(c.queries.toMap.get("Tx_Curr_LineList").contains("q_line_list"))
    assert(c.queries.size == 12) // every reference report has a tag
    assert(c.constants.toMap.get("HMISCode").contains("H12323"))
    assert(c.ethMonth.contains(5) && c.ethYear.contains(2016))
    // every configured query name resolves in the registry
    c.queries.foreach { case (tag, q) =>
      assert(SparkEntry.queries.contains(q), s"$tag -> $q not registered") }
    // window absent => as-of-now (CURDATE) semantics
    val noWin = graft.sources.ExportConfig.parse("""{"queries":{"a":"q_line_list"}}""")
    assert(noWin.ethMonth.isEmpty && noWin.constants.isEmpty)
  }

  test("full-config export run produces the reference package layout end-to-end") {
    val out = Files.createTempDirectory("graft_full_export")
    val res = graft.sources.ExportMain.run(spark,
      Array(sf, out.toString, "config/export_config.json"))
    val tag = "TestFacilityH12323_Tir_2016" // sanitized Facility + HMIS + window
    val zf = new ZipFile(res.packagePath.toFile)
    assert(zf.entries().asScala.map(_.getName).toSet ==
      Set(s"$tag.zip", s"${tag}_checksum.txt"))
    val recorded = Source.fromInputStream(
      zf.getInputStream(zf.getEntry(s"${tag}_checksum.txt"))).mkString.trim
    assert(recorded == res.checksum)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry(s"$tag.zip")), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val csvNames = inner.entries().asScala.map(_.getName).toSet
    val cfg = graft.sources.ExportConfig.load(
      java.nio.file.Paths.get("config/export_config.json"))
    assert(csvNames == cfg.queries.map { case (t, _) => s"${t}_$tag.csv" }.toSet)
    assert(csvNames.size == 12)
    // every report carries the constant columns, values on every row
    csvNames.foreach { n =>
      val lines = Source.fromInputStream(inner.getInputStream(inner.getEntry(n)))
        .getLines().toSeq
      assert(lines.head.split(",").takeRight(4).toSeq ==
        Seq("Region", "Woreda", "Facility", "HMISCode"), n)
      assert(lines.tail.nonEmpty, s"$n is empty")
      assert(lines.tail.forall(_.endsWith("Test Region,Test_W01,Test Facility,H12323")), n)
    }
    inner.close(); zf.close()
  }

  test("export pins one source's events through the ledger; A→B→A reproduces the package") {
    val sfB = sf.replace("sf0.001", "sf0.01")
    def export(src: String): ExportJob.Result =
      graft.sources.ExportMain.run(spark, Array(src,
        Files.createTempDirectory("graft_export_events").toString,
        "config/export_config.json"))
    // the checksummed inner zip's CSVs, by name
    def csvs(res: ExportJob.Result): Map[String, String] = {
      val zf = new ZipFile(res.packagePath.toFile)
      val tmpInner = Files.createTempFile("inner", ".zip")
      Files.copy(zf.getInputStream(zf.getEntry(res.innerZip)), tmpInner,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(sha256(tmpInner) == res.checksum)
      val inner = new ZipFile(tmpInner.toFile)
      try inner.entries().asScala.map(e => e.getName ->
        Source.fromInputStream(inner.getInputStream(e)).mkString).toMap
      finally { inner.close(); zf.close() }
    }
    SessionCaches.reset("export-events")
    val a1 = export(sf)
    // the live entry's frame (a ledger hit: nothing is rebuilt)
    val pinA = graft.sources.ExportMain.pinnedEvents(spark, sf)
    assert(pinA.storageLevel != StorageLevel.NONE)
    val b = export(sfB)
    assert(SessionCaches.liveCount("export-events") == 1)
    assert(pinA.storageLevel == StorageLevel.NONE,
      "the previous source's events are released")
    assert(graft.sources.ExportMain.pinnedEvents(spark, sfB).storageLevel != StorageLevel.NONE)
    val a2 = export(sf)
    assert(SessionCaches.liveCount("export-events") == 1)
    assert(pinA.storageLevel != StorageLevel.NONE, "A is pinned again")
    assert(csvs(a1).size == 12 && csvs(a1) == csvs(a2))
    assert(csvs(b).size == 12 && csvs(b) != csvs(a1))
    SessionCaches.reset("export-events")
  }

  test("the package pin changes plans, not bytes: pinned and unpinned reports write identical CSVs") {
    val cfgPath = java.nio.file.Paths.get("config/export_config.json")
    val cfg = graft.sources.ExportConfig.load(cfgPath)
    // the inner zip's CSVs as raw bytes, by name (the zip itself is
    // not compared: its entry times differ from run to run)
    def csvBytes(res: ExportJob.Result): Map[String, Seq[Byte]] = {
      val zf = new ZipFile(res.packagePath.toFile)
      val tmpInner = Files.createTempFile("inner", ".zip")
      Files.copy(zf.getInputStream(zf.getEntry(res.innerZip)), tmpInner,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val inner = new ZipFile(tmpInner.toFile)
      try inner.entries().asScala.map(e =>
        e.getName -> inner.getInputStream(e).readAllBytes().toSeq).toMap
      finally { inner.close(); zf.close() }
    }
    val pinned = graft.sources.ExportMain.run(spark,
      Array(sf, Files.createTempDirectory("graft_pinned").toString, cfgPath.toString))
    // the same 12 report frames, built outside Tables.withEvents, so
    // every one plans over the parquet scan with its own exchanges
    val (_, end) = graft.functions.EthiopianCalendar.reportWindow(
      cfg.ethMonth.get, cfg.ethYear.get)
    val unpinned = cfg.queries.map { case (tag, q) =>
      tag -> graft.operators.LineLists.asOf.get(q)
        .map(_(spark, sf, end)).getOrElse(SparkEntry.queries(q)(spark, sf))
    }.toMap
    val plain = ExportJob.run(spark, unpinned, cfg.constants,
      Files.createTempDirectory("graft_unpinned"), pinned.innerZip.stripSuffix(".zip"))
    val (a, b) = (csvBytes(pinned), csvBytes(plain))
    assert(a.size == 12 && a.keySet == b.keySet)
    a.foreach { case (name, bytes) =>
      assert(bytes == b(name), s"$name differs between the pinned and unpinned plans")
    }
  }

  test("half-specified config window fails loudly, not with a bare NoSuchElement") {
    val cfgPath = Files.createTempFile("halfwin", ".json")
    Files.writeString(cfgPath,
      """{"queries":{"A":"q_line_list"},"window":{"eth_month":5}}""")
    val out = Files.createTempDirectory("graft_halfwin")
    val e = intercept[IllegalArgumentException] {
      graft.sources.ExportMain.run(spark,
        Array(sf, out.toString, cfgPath.toString))
    }
    assert(e.getMessage.contains("eth_year"), e.getMessage)
  }

  test("as-of window: lineListAsOf at the oracle end equals registered q_line_list") {
    val fixed = SparkEntry.queries("q_line_list")(spark, sf)
      .collect().map(_.toString).sorted
    val asOf = graft.operators.Relational.lineListAsOf(spark, sf,
        java.time.LocalDate.parse("2024-01-21"))
      .collect().map(_.toString).sorted
    assert(asOf.sameElements(fixed))
    // an earlier end can only shrink or equal the cohort, never error
    val earlier = graft.operators.Relational.lineListAsOf(spark, sf,
        java.time.LocalDate.parse("2024-01-10")).count()
    assert(earlier > 0 && earlier <= fixed.length)
  }

  test("as-of window: every LineLists.asOf builder at the oracle end equals its registered query") {
    val oracleEnd = java.time.LocalDate.parse("2024-01-21")
    graft.operators.LineLists.asOf.foreach { case (name, build) =>
      val fixed = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted
      val asOf = build(spark, sf, oracleEnd).collect().map(_.toString).sorted
      assert(asOf.sameElements(fixed), s"$name as-of mismatch at oracle end")
      // a different end changes the plan without erroring
      assert(build(spark, sf, java.time.LocalDate.parse("2024-01-10")).count() >= 0)
    }
  }

  test("a windowless config exports as of now: the tag names today's Ethiopian month") {
    val cfgPath = Files.createTempFile("asofnow", ".json")
    Files.writeString(cfgPath, """{"queries":{"A":"q_line_list"}}""")
    val (y, m, _) = graft.functions.EthiopianCalendar.toEthiopian(java.time.LocalDate.now())
    val res = graft.sources.ExportMain.run(spark,
      Array(sf, Files.createTempDirectory("graft_asofnow").toString, cfgPath.toString))
    val month = graft.sources.ExportMain.Months(m - 1)
    // no constants configured: they come from the first nation by key
    // and its region, and the tag from Facility and HMISCode
    assert(res.packagePath.getFileName.toString == s"NATION0H023_${month}_${y}_packaged.zip",
      res.packagePath)
    assert(res.csvFiles == Seq(s"A_${res.innerZip.stripSuffix(".zip")}.csv"))
    val zf = new ZipFile(res.packagePath.toFile)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry(res.innerZip)), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val lines = try Source.fromInputStream(inner.getInputStream(inner.getEntry(res.csvFiles.head)))
      .getLines().toSeq
      finally { inner.close(); zf.close() }
    assert(lines.head.split(",").takeRight(4).toSeq ==
      Seq("Region", "Woreda", "Facility", "HMISCode"))
    assert(lines.tail.nonEmpty && lines.tail.forall(_.endsWith("AFRICA,AFRICA_W0,NATION_0,H023")))
  }

  test("ExportMain refuses anything but <dataDir> <outDir> <config.json> with its usage line") {
    val out = Files.createTempDirectory("graft_usage").toString
    Seq(Array(sf, out, "5", "2016"), Array(sf, out), Array(sf, out, "c.json", "5"))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](graft.sources.ExportMain.run(spark, args))
        assert(e.getMessage.contains(graft.sources.ExportMain.Usage), e.getMessage)
      }
    assert(Files.list(java.nio.file.Paths.get(out)).count() == 0)
  }

  test("jdbc-sourced export round-trips a report through embedded Derby") {
    // seed an in-memory Derby database from the parquet tables — the
    // reference's analytics_db stand-in (no wire protocol, same
    // spark.read.jdbc path a MySQL url would take)
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val t = graft.Tables(spark, sf)
    val props = new java.util.Properties()
    Seq("customer", "nation", "region").foreach { n =>
      t.table(n).write.mode("overwrite").jdbc(url, n, props)
    }
    t.events.write.mode("overwrite").jdbc(url, "events", props)

    // the registered flagship, parameterized only by the source dir:
    // a jdbc: dir must produce the SAME report as the parquet dir
    val end = java.time.LocalDate.parse("2024-01-21")
    val viaJdbc = graft.operators.Relational.lineListAsOf(spark, url, end)
    val viaParquet = graft.operators.Relational.lineListAsOf(spark, sf, end)
    val a = viaJdbc.collect().map(_.toString).sorted
    val b = viaParquet.collect().map(_.toString).sorted
    assert(a.length == b.length && a.sameElements(b),
      s"jdbc rows ${a.length} vs parquet rows ${b.length}")

    // and the packaged export flows through the jdbc source end-to-end
    val out = Files.createTempDirectory("graft_jdbc_export")
    val res = ExportJob.run(spark,
      Map("Tx_Curr_LineList" -> viaJdbc),
      Seq("Region" -> "R1"), out, "jdbcround")
    assert(Files.exists(res.packagePath))
    assert(res.csvFiles == Seq("Tx_Curr_LineList_jdbcround.csv"))

    // config plumbing: DB_URL selects the jdbc source, credentials are
    // parsed
    val cfg = graft.sources.ExportConfig.parse(
      s"""{"queries":{"A":"q_line_list"},
          "db_properties":{"DB_URL":"$url","DB_USER":"app","DB_PASS":"x"}}""")
    assert(cfg.dbUrl.contains(url))
    assert(cfg.db("DB_USER") == "app")

    // and the WHOLE ExportMain config flow against the database: a
    // config whose db_properties carries the url must produce the
    // same report rows as the parquet run (the parquet dir argument
    // is ignored when DB_URL is set). User APP: Derby resolves
    // unqualified table names in the schema named after the user.
    val cfgPath = Files.createTempFile("jdbccfg", ".json")
    Files.writeString(cfgPath,
      s"""{"queries":{"Tx_Curr_LineList":"q_line_list"},
          "constants":{"Region":"R1","Woreda":"W1","Facility":"F1","HMISCode":"H1"},
          "window":{"eth_month":5,"eth_year":2016},
          "db_properties":{"DB_URL":"$url","DB_USER":"APP","DB_PASS":"x"}}""")
    val outJ = Files.createTempDirectory("graft_jdbc_main")
    val resJ = graft.sources.ExportMain.run(spark,
      Array(sf, outJ.toString, cfgPath.toString))
    assert(Files.exists(resJ.packagePath))
    // the credentials held for that run only
    Seq("graft.jdbc.user", "graft.jdbc.password").foreach { k =>
      assert(!spark.conf.getAll.contains(k), s"$k left in the session conf")
    }
    val outP = Files.createTempDirectory("graft_parq_main")
    Files.writeString(cfgPath,
      s"""{"queries":{"Tx_Curr_LineList":"q_line_list"},
          "constants":{"Region":"R1","Woreda":"W1","Facility":"F1","HMISCode":"H1"},
          "window":{"eth_month":5,"eth_year":2016}}""")
    val resP = graft.sources.ExportMain.run(spark,
      Array(sf, outP.toString, cfgPath.toString))
    // the packaged zips differ in entry timestamps; the report
    // CONTENT must be identical — compare the inner CSV bytes
    def innerCsv(pkg: java.nio.file.Path): Seq[String] = {
      val zf = new ZipFile(pkg.toFile)
      val zipEntry = zf.entries().asScala.find(_.getName.endsWith(".zip")).get
      val tmp = Files.createTempFile("inner", ".zip")
      Files.copy(zf.getInputStream(zipEntry), tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val in = new ZipFile(tmp.toFile)
      val lines = in.entries().asScala.toSeq.sortBy(_.getName).flatMap(e =>
        Source.fromInputStream(in.getInputStream(e)).getLines().toSeq)
      in.close(); zf.close()
      lines
    }
    assert(innerCsv(resJ.packagePath) == innerCsv(resP.packagePath),
      "jdbc-sourced export must equal the parquet-sourced export")
  }

  test("jdbc partitioned read honors the graft.jdbc.* knobs and stays row-identical") {
    // the single-partition default is the classic JDBC-at-scale trap
    // (one executor streams the whole table); Tables wires the
    // partitioned-read knobs through session conf — this pins that
    // they actually reach the scan (VERDICT r10 #5)
    val url = "jdbc:derby:memory:graftjdbcpart;create=true"
    val t = graft.Tables(spark, sf)
    t.table("customer").write.mode("overwrite")
      .jdbc(url, "customer", new java.util.Properties())

    // default path first: no knobs -> Spark's one-partition JDBC scan
    val single = graft.Tables(spark, url).table("customer")
    assert(single.rdd.getNumPartitions == 1,
      "without the knobs the JDBC scan is the documented single-partition read")

    val knobs = Seq(
      "partitionColumn" -> "c_custkey", "numPartitions" -> "4",
      // bounds are stride hints, not filters: Spark's edge partitions
      // absorb out-of-range keys, so deliberately loose bounds must
      // still be row-complete
      "lowerBound" -> "0", "upperBound" -> "1000000")
    knobs.foreach { case (k, v) => spark.conf.set(s"graft.jdbc.$k", v) }
    try {
      val parted = graft.Tables(spark, url).table("customer")
      assert(parted.rdd.getNumPartitions == 4,
        s"expected 4 JDBC range partitions, got ${parted.rdd.getNumPartitions}")
      val a = parted.collect().map(_.toString).sorted
      val b = t.table("customer").collect().map(_.toString).sorted
      assert(a.length == b.length && a.sameElements(b),
        s"partitioned jdbc rows ${a.length} vs parquet rows ${b.length}")
    } finally knobs.foreach { case (k, _) =>
      spark.conf.unset(s"graft.jdbc.$k") }
  }
}
