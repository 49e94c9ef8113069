package graft.sources

import java.nio.file.Paths
import java.time.LocalDate

import org.apache.spark.sql.functions.col
import graft.{GraftSession, SessionCaches, SparkEntry, Tables}
import graft.functions.EthiopianCalendar

/** CLI twin of the reference tool's run flow (export.py:352-387):
  * derive the Gregorian report window from an Ethiopian month + year,
  * run every configured query, package the CSVs (zip + SHA-256).
  *
  *   runMain graft.sources.ExportMain <dataDir> <outDir> <config.json>
  *
  * The JSON mirrors export_config.json: it names the queries (tag →
  * SparkEntry.queries key), the constant columns (derived from the dim
  * tables when absent), optionally the window and the JDBC source.
  * With no window configured the run is "as of now" — the Ethiopian
  * month containing today, the COALESCE(REPORT_END_DATE, CURDATE())
  * behavior of the reference.
  */
object ExportMain {

  /** Ethiopian month names as in export.py:102-103. */
  val Months = Seq("Meskerem", "Tikimit", "Hidar", "Tahisas", "Tir", "Yekatit",
    "Megabit", "Miazia", "Ginbot", "Sene", "Hamle", "Nehassie", "Pagume")

  val Usage = "usage: ExportMain <dataDir> <outDir> <config.json>"

  /** Runs one package in a new session and ends with one summary line:
    * `[export] package=… sha256=… files=… codegen_compiles=<n>
    * codegen_ms=<t> wall_ms=<w>`. `codegen_compiles` and `codegen_ms`
    * are the Spark classes compiled during the run and their compile
    * time: ~160 for a one-shot run, 0 for a warm package in a
    * long-lived JVM. The reports are planned on several threads, so
    * compiles overlap and `codegen_ms` is a sum across threads, not a
    * share of the wall. `wall_ms` is the whole run, session start
    * included: what a user of the one-shot tool waits.
    */
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-export")
    val (compiles0, compileNs0) = codegenTotals
    val res = run(spark, args)
    val (compiles, compileNs) = codegenTotals
    println(s"[export] package=${res.packagePath} sha256=${res.checksum} " +
      s"files=${res.csvFiles.mkString(",")} codegen_compiles=${compiles - compiles0} " +
      s"codegen_ms=${(compileNs - compileNs0) / 1000000} " +
      s"wall_ms=${(System.nanoTime() - t0) / 1000000}")
    spark.stop()
  }

  /** JVM-wide totals of Spark's generated-class compiles: (count, ns). */
  private def codegenTotals: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** The whole export flow minus session lifecycle — testable
    * end-to-end (main owns create/stop; specs pass the shared
    * session).
    */
  def run(spark: org.apache.spark.sql.SparkSession,
      args: Array[String]): ExportJob.Result = {
    if (args.length != 3 || !args(2).endsWith(".json"))
      throw new IllegalArgumentException(s"$Usage (got ${args.mkString(" ")})")
    val Array(argDir, outDir, configPath) = args
    val config = ExportConfig.load(Paths.get(configPath))

    // configured DB_URL switches the source to JDBC (the reference's
    // analytics_db); otherwise the parquet directory argument stands
    val sfDir = config.dbUrl.getOrElse(argDir)
    // the config's credentials hold for this run only: the prior
    // values come back afterwards, so the password does not stay
    // readable in the session conf and a later export without
    // credentials does not silently reuse them
    val creds = Seq("DB_USER" -> "graft.jdbc.user", "DB_PASS" -> "graft.jdbc.password")
      .flatMap { case (k, key) => config.db.get(k).map(key -> _) }
    val prior = creds.map { case (key, _) => key -> spark.conf.getOption(key) }
    creds.foreach { case (key, v) => spark.conf.set(key, v) }
    try runWith(spark, config, sfDir, outDir)
    finally prior.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** The package's one `events` copy, range-partitioned on user_id
    * into the session's `spark.sql.shuffle.partitions` and pinned. The
    * 12 report queries all read events per client and end in ORDER BY
    * client (export.py runs its 12 queries against the same warm
    * MySQL — this is the Spark analog). RangePartitioning(user_id)
    * covers both the clustering every per-client window and
    * aggregation needs and the final sort's ordering, so reports built
    * over it (inside [[Tables.withEvents]]) plan with no exchange on
    * events, and every stage runs one task per partition. Pinned
    * through the ledger one source at a time, keyed on the partition
    * count too: a long-lived driver exporting from many sources holds
    * only the latest, and a repeat export of the same source in the
    * same session config skips the materializing count.
    */
  private[graft] def pinnedEvents(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    SessionCaches.cached("export-events", s"$sfDir#$n", maxLive = 1) {
      val byUser = Tables(spark, sfDir).events
        .repartitionByRange(n, col("user_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      byUser.count()
      Seq(byUser)
    }.head
  }

  private def runWith(spark: org.apache.spark.sql.SparkSession,
      config: ExportConfig, sfDir: String, outDir: String): ExportJob.Result = {

    // window: config, else "as of now" (CURDATE semantics)
    val (m, y) =
      if (config.ethMonth.isDefined || config.ethYear.isDefined) {
        // a half-specified window is a config mistake, not "as of now"
        if (config.ethMonth.isEmpty || config.ethYear.isEmpty)
          throw new IllegalArgumentException("config window needs BOTH " +
            s"eth_month and eth_year (got month=${config.ethMonth}, year=${config.ethYear})")
        (config.ethMonth.get, config.ethYear.get)
      } else {
        val (ey, em, _) = EthiopianCalendar.toEthiopian(LocalDate.now())
        (em, ey)
      }
    // validate BEFORE the window math: an out-of-range month would
    // otherwise compute a silently-wrong window and only crash later
    // at the month-name lookup with a bare IndexOutOfBounds
    require(m >= 1 && m <= 13,
      s"Ethiopian month $m out of range 1..13 (13 = Pagume)")
    val (start, end) = EthiopianCalendar.reportWindow(m, y)
    println(s"[export] window ${Months(m - 1)} $y -> [$start, $end]")

    val t = Tables(spark, sfDir)
    val events = pinnedEvents(spark, sfDir)
    // plans capture the pinned frame when they are built, so only the
    // construction runs in the scope; ExportJob writes them in order
    def pinned[T](build: => T): T = Tables.withEvents(spark, sfDir, events)(build)
    val queries = config.queries.map { case (tag, qname) =>
      // window-dependent reports run at the runtime window; the rest
      // are the registered (fixed-window, oracle-matched) queries
      // unchanged
      tag -> pinned(graft.operators.LineLists.asOf.get(qname) match {
        case Some(build) => build(spark, sfDir, end)
        case None => SparkEntry.queries.getOrElse(qname,
          throw new IllegalArgumentException(
            s"config names unknown query '$qname' for tag '$tag'"))(spark, sfDir)
      })
    }.toMap

    // constants from config, else from the dim tables, first row —
    // mirroring the facility_details/hmiscode lookups (export.py:257-279)
    val constants: Seq[(String, String)] =
      if (config.constants.nonEmpty) config.constants
      else {
        val firstNation = t.nation.orderBy("n_nationkey").limit(1)
          .join(t.region, col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "r_name", "n_name").head()
        val (regionName, facilityName) = (firstNation.getString(1), firstNation.getString(2))
        val hmis = s"H${firstNation.getInt(0)}23"
        Seq("Region" -> regionName, "Woreda" -> s"${regionName}_W0",
          "Facility" -> facilityName, "HMISCode" -> hmis)
      }
    val facility = constants.toMap.getOrElse("Facility", "Facility")
    val hmisCode = constants.toMap.getOrElse("HMISCode", "H000")
    val facilitySan = facility.replace(" ", "").replace("_", "")

    val tag = s"$facilitySan${hmisCode}_${Months(m - 1)}_$y"
    ExportJob.run(spark, queries, constants,
      outDir = Paths.get(outDir), tag = tag)
  }
}
