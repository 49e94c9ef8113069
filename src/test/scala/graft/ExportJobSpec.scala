package graft

import java.nio.file.Files
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.io.Source

import org.apache.spark.storage.StorageLevel

import graft.sources.ExportJob

class ExportJobSpec extends SparkSpec {

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
  }

  test("manifest-at-scale path: part files + manifest replace the driver merge past the byte gate") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_export_manifest")
    val df = (1 to 500).map(i => (i.toLong, s"name$i")).toDF("id", "name")
      .repartition(4)
    val res = ExportJob.run(spark, Map("big" -> df),
      constants = Seq("Facility" -> "F1"), outDir = out, tag = "t1",
      mergeBudgetBytes = 1L)
    assert(res.dataDirs == Seq("big_t1"))
    assert(res.csvFiles == Seq("big_t1_manifest.csv"))
    // the data dir stays beside the package and reads back as one
    // table (every part carries its own header)
    val dataDir = out.resolve("big_t1")
    val back = spark.read.option("header", "true").csv(dataDir.toString)
    assert(back.count() == 500)
    assert(back.columns.toSeq == Seq("id", "name", "Facility"))
    // the packaged manifest lists exactly the on-disk parts with sizes
    val zf = new ZipFile(res.packagePath.toFile)
    val tmpInner = Files.createTempFile("inner", ".zip")
    Files.copy(zf.getInputStream(zf.getEntry("t1.zip")), tmpInner,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val inner = new ZipFile(tmpInner.toFile)
    val lines = Source.fromInputStream(
        inner.getInputStream(inner.getEntry("big_t1_manifest.csv")))
      .getLines().toSeq
    assert(lines.head == "file,bytes,sha256")
    val listed = lines.tail.map { l =>
      val Array(f, b, h) = l.split(","); f -> ((b.toLong, h))
    }.toMap
    // name, size AND content digest of every on-disk part — the
    // package checksum now transitively attests part content
    val onDisk = Files.list(dataDir).iterator().asScala
      .map(p => s"big_t1/${p.getFileName}" ->
        ((Files.size(p), ExportJob.sha256(p)))).toMap
    assert(listed == onDisk && listed.nonEmpty)
    assert(listed.values.map(_._2).toSeq.distinct.length == listed.size,
      "distinct parts must carry distinct digests")
    inner.close(); zf.close()
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
      assert(ExportJob.sha256(tmpInner) == res.checksum)
      val inner = new ZipFile(tmpInner.toFile)
      try inner.entries().asScala.map(e => e.getName ->
        Source.fromInputStream(inner.getInputStream(e)).mkString).toMap
      finally { inner.close(); zf.close() }
    }
    SessionCaches.reset("export-events")
    val a1 = export(sf)
    assert(Tables(spark, sf).events.storageLevel != StorageLevel.NONE)
    val b = export(sfB)
    assert(SessionCaches.liveCount("export-events") == 1)
    assert(Tables(spark, sf).events.storageLevel == StorageLevel.NONE,
      "the previous source's events are released")
    assert(Tables(spark, sfB).events.storageLevel != StorageLevel.NONE)
    val a2 = export(sf)
    assert(SessionCaches.liveCount("export-events") == 1)
    assert(csvs(a1).size == 12 && csvs(a1) == csvs(a2))
    assert(csvs(b).size == 12 && csvs(b) != csvs(a1))
    SessionCaches.reset("export-events")
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

  test("reportWindowAsOf picks the Ethiopian month containing today") {
    import graft.functions.EthiopianCalendar._
    val today = java.time.LocalDate.parse("2024-01-15")
    val (start, end) = reportWindowAsOf(today)
    val (y, m, _) = toEthiopian(today)
    assert((start, end) == reportWindow(m, y))
    assert(!start.isAfter(end))
    // the window always spans 30 days (21st -> 20th of consecutive months)
    assert(java.time.temporal.ChronoUnit.DAYS.between(start, end) == 29)
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

    // config plumbing: DB_URL selects the jdbc source, credentials land
    // in the session conf
    val cfg = graft.sources.ExportConfig.parse(
      s"""{"queries":{"A":"q_line_list"},
          "db_properties":{"DB_URL":"$url","DB_USER":"app","DB_PASS":"x"}}""")
    assert(cfg.dbUrl.contains(url))
    assert(cfg.db("DB_USER") == "app")

    // and the WHOLE ExportMain config flow against the database: a
    // config whose db_properties carries the url must produce the
    // same report rows as the parquet run (the parquet dir argument
    // is ignored when DB_URL is set)
    val cfgPath = Files.createTempFile("jdbccfg", ".json")
    Files.writeString(cfgPath,
      s"""{"queries":{"Tx_Curr_LineList":"q_line_list"},
          "constants":{"Region":"R1","Woreda":"W1","Facility":"F1","HMISCode":"H1"},
          "window":{"eth_month":5,"eth_year":2016},
          "db_properties":{"DB_URL":"$url"}}""")
    val outJ = Files.createTempDirectory("graft_jdbc_main")
    val resJ = graft.sources.ExportMain.run(spark,
      Array(sf, outJ.toString, cfgPath.toString))
    assert(Files.exists(resJ.packagePath))
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
