package graft.sources

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.functions.col
import graft.{GraftSession, SessionCaches, SparkEntry, Tables}
import graft.functions.EthiopianCalendar

/** CLI twin of the reference tool's run flow (export.py:352-387):
  * derive the Gregorian report window from an Ethiopian month + year,
  * run every configured query, package the CSVs (zip + SHA-256).
  *
  * Two invocation modes:
  *
  *   runMain graft.sources.ExportMain <sfDir> <outDir> <ethMonth 1-13> <ethYear>
  *   runMain graft.sources.ExportMain <sfDir> <outDir> <config.json>
  *
  * Config mode mirrors export_config.json: the JSON names the
  * queries (tag → SparkEntry.queries key), the constant columns, and
  * optionally the window. With no window configured the run is
  * "as of now" — the Ethiopian month containing today, the
  * COALESCE(REPORT_END_DATE, CURDATE()) behavior of the reference.
  */
object ExportMain {

  /** Ethiopian month names as in export.py:102-103. */
  val Months = Seq("Meskerem", "Tikimit", "Hidar", "Tahisas", "Tir", "Yekatit",
    "Megabit", "Miazia", "Ginbot", "Sene", "Hamle", "Nehassie", "Pagume")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-export")
    val res = run(spark, args)
    println(s"[export] package=${res.packagePath} sha256=${res.checksum} files=${res.csvFiles.mkString(",")}")
    spark.stop()
  }

  /** The whole export flow minus session lifecycle — testable
    * end-to-end (main owns create/stop; specs pass the shared
    * session).
    */
  def run(spark: org.apache.spark.sql.SparkSession,
      args: Array[String]): ExportJob.Result = {
    val (argDir, outDir) = (args(0), args(1))
    val config: Option[ExportConfig] =
      if (args.length >= 3 && args(2).endsWith(".json"))
        Some(ExportConfig.load(Paths.get(args(2))))
      else None

    // configured DB_URL switches the source to JDBC (the reference's
    // analytics_db); otherwise the parquet directory argument stands
    val sfDir = config.flatMap(_.dbUrl).getOrElse(argDir)
    // the config's credentials hold for this run only: the prior
    // values come back afterwards, so the password does not stay
    // readable in the session conf and a later export without
    // credentials does not silently reuse them
    val creds = config.toSeq.flatMap(c => Seq(
      "DB_USER" -> "graft.jdbc.user", "DB_PASS" -> "graft.jdbc.password")
      .flatMap { case (k, key) => c.db.get(k).map(key -> _) })
    val prior = creds.map { case (key, _) => key -> spark.conf.getOption(key) }
    creds.foreach { case (key, v) => spark.conf.set(key, v) }
    try runWith(spark, args, config, sfDir, outDir)
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
      args: Array[String], config: Option[ExportConfig], sfDir: String,
      outDir: String): ExportJob.Result = {

    // window: CLI args > config > "as of now" (CURDATE semantics)
    def numeric(s: String) = s.nonEmpty && s.forall(_.isDigit)
    val (m, y) = (config, args.drop(2)) match {
      case (_, Array(mS, yS, _*)) if numeric(mS) && numeric(yS) =>
        (mS.toInt, yS.toInt)
      case (_, Array(mS, yS, _*)) =>
        throw new IllegalArgumentException(
          s"window args must be numeric: month=$mS year=$yS")
      case (Some(c), _) if c.ethMonth.isDefined || c.ethYear.isDefined =>
        // a half-specified window is a config mistake, not "as of now"
        if (c.ethMonth.isEmpty || c.ethYear.isEmpty)
          throw new IllegalArgumentException("config window needs BOTH " +
            s"eth_month and eth_year (got month=${c.ethMonth}, year=${c.ethYear})")
        (c.ethMonth.get, c.ethYear.get)
      case _ =>
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
    val queries: Map[String, org.apache.spark.sql.DataFrame] = config match {
      case Some(c) =>
        c.queries.map { case (tag, qname) =>
          // window-dependent reports run at the runtime window; the
          // rest are the registered (fixed-window, oracle-matched)
          // queries unchanged
          val df = pinned(graft.operators.LineLists.asOf.get(qname) match {
            case Some(build) => build(spark, sfDir, end)
            case None => SparkEntry.queries.getOrElse(qname,
              throw new IllegalArgumentException(
                s"config names unknown query '$qname' for tag '$tag'"))(spark, sfDir)
          })
          tag -> df
        }.toMap
      case None =>
        // the window keeps the scan's file order, as before the pin
        val windowed = t.events.filter(
          col("ts") >= start.toString && col("ts") < end.plusDays(1).toString)
        Map(
          "Event_LineList" -> pinned(
            graft.operators.Relational.lineListAsOf(spark, sfDir, end)),
          "Event_Window" -> windowed)
    }

    // constants from config, else from the dim tables, first row —
    // mirroring the facility_details/hmiscode lookups (export.py:257-279)
    val constants: Seq[(String, String)] = config.map(_.constants).filter(_.nonEmpty)
      .getOrElse {
        val firstNation = t.nation.orderBy("n_nationkey").limit(1)
          .join(t.region, col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name").head()
        val (regionName, facilityName) = (firstNation.getString(0), firstNation.getString(1))
        val hmis = s"H${t.nation.orderBy("n_nationkey").limit(1).head().getInt(0)}23"
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
