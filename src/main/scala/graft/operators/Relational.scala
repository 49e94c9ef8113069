package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.{DateFns, EthiopianCalendar => EC}

/** The reference's relational surface (SURVEY.md §2.1) re-expressed on
  * the test schema. Every query is a declarative DataFrame plan —
  * filters/projections reach the parquet scan, dimension joins are
  * broadcast, fact aggregations are partial-aggregated map-side by
  * Catalyst. Construct evidence cited per query from
  * /root/reference/sql_queries.
  */
object Relational {

  /** Exact-sum helper: doubles are cast to fixed-scale decimals before
    * SUM so the result is order-independent (double summation is not
    * associative; decimal is). Mirrored verbatim in oracle SQL.
    */
  private def dec(c: Column, p: Int = 12, s: Int = 4): Column =
    c.cast(s"decimal($p,$s)")

  private val ReportEnd = "2000-01-01"      // REPORT_END_DATE analog for order-date queries
  private val EventsEnd = "2024-01-21"      // REPORT_END_DATE analog for the events table

  // ------------------------------------------------------------------
  // 1. q_agg_pricing — GROUP BY + SUM/COUNT (TPC-H Q1 shape; reference
  //    aggregates e.g. Tx_Curr_HVL_LineList.sql SUM/MAX blocks).
  // ------------------------------------------------------------------
  private val aggPricing = GraftQuery(
    "q_agg_pricing",
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4)) * CAST(1 + CAST(l_tax AS DECIMAL(8,4)) AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val discount = (lit(1) - dec(col("l_discount"), 8)).cast("decimal(8,4)")
      val tax = (lit(1) + dec(col("l_tax"), 8)).cast("decimal(8,4)")
      t.lineitem
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * discount).cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice")) * discount * tax).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    })

  // ------------------------------------------------------------------
  // 2. q_filter_project — WHERE date range + narrow projection
  //    (report-window filter, e.g. Tx_Curr_LineList.sql:68).
  //    Pushdown: both predicates and the 5-column ReadSchema reach the
  //    parquet scan.
  // ------------------------------------------------------------------
  private val filterProject = GraftQuery(
    "q_filter_project",
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => Tables(s, dir).lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-04-01"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber"))

  // ------------------------------------------------------------------
  // 3. q_join_multi — chained LEFT JOIN star (the reference's dominant
  //    shape: 184 left joins, e.g. Tx_Curr_LineList.sql:30-47).
  //    Scale: nation/region broadcast; orders⟕customer shuffles on the
  //    key once (both sides scale with SF).
  // ------------------------------------------------------------------
  private val joinMulti = GraftQuery(
    "q_join_multi",
    Some("""SELECT o_orderkey, o_totalprice, c_name, n_name, r_name
      FROM orders
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left")
        .select("o_orderkey", "o_totalprice", "c_name", "n_name", "r_name")
        .orderBy("o_orderkey")
    })

  // ------------------------------------------------------------------
  // 4. q_latest_per_key — ROW_NUMBER()=1 latest record per key
  //    (68 occurrences; Tx_Curr_LineList.sql:64).
  // ------------------------------------------------------------------
  private val latestPerKey = GraftQuery(
    "q_latest_per_key",
    Some("""SELECT user_id, event_id, event_type, value,
      strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id"""),
    (s, dir) => LatestPerKey(Tables(s, dir).events,
        Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("user_id"))

  // ------------------------------------------------------------------
  // 5. q_case_map — CASE WHEN value mapping (Sex→'F'/'M' etc.,
  //    Tx_Curr_LineList.sql:88-91,111-123).
  // ------------------------------------------------------------------
  private val caseMap = GraftQuery(
    "q_case_map",
    Some("""SELECT c_custkey,
      CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'AUTO' WHEN 'BUILDING' THEN 'BLD'
        WHEN 'FURNITURE' THEN 'FURN' WHEN 'HOUSEHOLD' THEN 'HH'
        WHEN 'MACHINERY' THEN 'MACH' ELSE 'OTHER' END AS seg_code,
      CASE WHEN c_acctbal >= 5000 THEN 'HIGH' WHEN c_acctbal >= 0 THEN 'MID'
        ELSE 'NEG' END AS bal_band
      FROM customer ORDER BY c_custkey"""),
    (s, dir) => Tables(s, dir).customer
      .select(col("c_custkey"),
        when(col("c_mktsegment") === "AUTOMOBILE", "AUTO")
          .when(col("c_mktsegment") === "BUILDING", "BLD")
          .when(col("c_mktsegment") === "FURNITURE", "FURN")
          .when(col("c_mktsegment") === "HOUSEHOLD", "HH")
          .when(col("c_mktsegment") === "MACHINERY", "MACH")
          .otherwise("OTHER").as("seg_code"),
        when(col("c_acctbal") >= 5000, "HIGH")
          .when(col("c_acctbal") >= 0, "MID")
          .otherwise("NEG").as("bal_band"))
      .orderBy("c_custkey"))

  // ------------------------------------------------------------------
  // 6. q_date_arith — TIMESTAMPDIFF(DAY/YEAR) + DATE_ADD
  //    (83 + 48 occurrences; Tx_Curr_LineList.sql:85,93).
  // ------------------------------------------------------------------
  private val dateArith = GraftQuery(
    "q_date_arith",
    Some(s"""SELECT o_orderkey,
      date_diff('day', CAST(o_orderdate AS DATE), DATE '$ReportEnd') AS days_to_end,
      year(DATE '$ReportEnd') - year(CAST(o_orderdate AS DATE))
        - CASE WHEN month(DATE '$ReportEnd') < month(CAST(o_orderdate AS DATE))
                 OR (month(DATE '$ReportEnd') = month(CAST(o_orderdate AS DATE))
                     AND day(DATE '$ReportEnd') < day(CAST(o_orderdate AS DATE)))
               THEN 1 ELSE 0 END AS years_to_end,
      strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date
      FROM orders ORDER BY o_orderkey"""),
    (s, dir) => Tables(s, dir).orders
      .select(col("o_orderkey"),
        DateFns.daysBetween(col("o_orderdate"), lit(ReportEnd)).as("days_to_end"),
        DateFns.yearsBetween(col("o_orderdate"), lit(ReportEnd)).as("years_to_end"),
        date_format(DateFns.addDays(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_date"))
      .orderBy("o_orderkey"))

  // ------------------------------------------------------------------
  // 7. q_period_diff — PERIOD_DIFF months-on-ART shape
  //    (Tx_Curr_LineList.sql:150).
  // ------------------------------------------------------------------
  private val periodDiff = GraftQuery(
    "q_period_diff",
    Some(s"""SELECT o_orderkey,
      (year(DATE '$ReportEnd') * 12 + month(DATE '$ReportEnd'))
        - (year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE))) AS months_to_end
      FROM orders ORDER BY o_orderkey"""),
    (s, dir) => Tables(s, dir).orders
      .select(col("o_orderkey"),
        DateFns.periodDiff(lit(ReportEnd), col("o_orderdate")).as("months_to_end"))
      .orderBy("o_orderkey"))

  // ------------------------------------------------------------------
  // 7b. q_month_diff — MySQL TIMESTAMPDIFF(MONTH/WEEK) COMPLETE-period
  //     semantics (33 MONTH + 5 WEEK uses; Tx_Curr_HVL_LineList.sql,
  //     Tx_Curr_AHD_LineList.sql). Distinct from q_period_diff:
  //     day-of-month aware, truncates toward zero. Both directions are
  //     computed so the sign-adjustment branches are exercised.
  // ------------------------------------------------------------------
  private val monthDiff = GraftQuery(
    "q_month_diff",
    Some(s"""WITH m AS (SELECT o_orderkey,
        (year(DATE '$ReportEnd') * 12 + month(DATE '$ReportEnd'))
          - (year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE))) AS mi,
        day(DATE '$ReportEnd') AS db,
        day(CAST(o_orderdate AS DATE)) AS da,
        date_diff('day', CAST(o_orderdate AS DATE), DATE '$ReportEnd') AS dd
      FROM orders)
      SELECT o_orderkey,
        CASE WHEN mi > 0 AND db < da THEN mi - 1
             WHEN mi < 0 AND db > da THEN mi + 1
             ELSE mi END AS months_to_end,
        CASE WHEN -mi > 0 AND da < db THEN -mi - 1
             WHEN -mi < 0 AND da > db THEN -mi + 1
             ELSE -mi END AS months_back,
        CAST(trunc(dd / 7.0) AS INTEGER) AS weeks_to_end
      FROM m ORDER BY o_orderkey"""),
    (s, dir) => Tables(s, dir).orders
      .select(col("o_orderkey"),
        DateFns.monthsBetween(col("o_orderdate"), lit(ReportEnd)).as("months_to_end"),
        DateFns.monthsBetween(lit(ReportEnd), col("o_orderdate")).as("months_back"),
        DateFns.weeksBetween(col("o_orderdate"), lit(ReportEnd)).as("weeks_to_end"))
      .orderBy("o_orderkey"))

  // ------------------------------------------------------------------
  // 8. q_ethiopian_cal — fn_gregorian_to_ethiopian_calendar (19×;
  //    Tx_Curr_LineList.sql:94). Pure JDN arithmetic, codegen'd.
  // ------------------------------------------------------------------
  private val ethiopianCal = GraftQuery(
    "q_ethiopian_cal",
    Some(s"""SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      ${EC.duckdbDMY("o_orderdate")} AS order_date_ec
      FROM orders ORDER BY o_orderkey"""),
    (s, dir) => Tables(s, dir).orders
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        EC.ethiopianDMY(col("o_orderdate")).as("order_date_ec"))
      .orderBy("o_orderkey"))

  // ------------------------------------------------------------------
  // 9. q_lag_window — LAG over per-entity history (3×, e.g.
  //    Tx_Curr_VLEligibleNew_LineList.sql LAG usage).
  // ------------------------------------------------------------------
  private val lagWindow = GraftQuery(
    "q_lag_window",
    Some("""SELECT user_id, event_id, value,
      value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events ORDER BY user_id, event_id"""),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .select(col("user_id"), col("event_id"), col("value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy("user_id", "event_id")
    })

  // ------------------------------------------------------------------
  // 10. q_agg_top — GROUP BY + ORDER BY revenue + LIMIT.
  // ------------------------------------------------------------------
  private val aggTop = GraftQuery(
    "q_agg_top",
    Some("""SELECT c_custkey, c_name,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS VARCHAR) AS DOUBLE) AS revenue,
      COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY revenue DESC, c_custkey LIMIT 10"""),
    (s, dir) => {
      val t = Tables(s, dir)
      // pre-aggregate the fact side BEFORE the join: the join then
      // moves |customers| rows instead of |orders| (at 100 TB the
      // difference between shuffling the fact table and a dim-sized
      // aggregate). Catalyst doesn't push aggregates through joins.
      val perCust = t.orders.groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"), 14)).as("rev_dec"),
          count(lit(1)).as("n_orders"))
      perCust.join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("rev_dec").cast("double").as("revenue"), col("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    })

  // ------------------------------------------------------------------
  // 11. q_string_funs — LEFT/TRIM/CONCAT/UPPER/LIKE
  //     (Tx_Curr_LineList.sql:98-99 LEFT(regimen,…); TRIM ×16).
  // ------------------------------------------------------------------
  private val stringFuns = GraftQuery(
    "q_string_funs",
    Some("""SELECT p_partkey,
      UPPER(LEFT(p_name, 8)) AS name_prefix,
      TRIM(p_brand) AS brand,
      p_brand || ':' || p_type AS brand_type,
      LENGTH(p_name) AS name_len
      FROM part WHERE p_type LIKE '%M%' ORDER BY p_partkey"""),
    (s, dir) => Tables(s, dir).part
      .filter(col("p_type").like("%M%"))
      .select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
        trim(col("p_brand")).as("brand"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))
      .orderBy("p_partkey"))

  // ------------------------------------------------------------------
  // 12. q_null_funs — COALESCE/IFNULL/NULLIF/IF (25 + 20 occurrences).
  // ------------------------------------------------------------------
  private val nullFuns = GraftQuery(
    "q_null_funs",
    Some("""SELECT c_custkey,
      COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), '(none)') AS seg_or_none,
      CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal,
      COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_or_zero,
      CASE WHEN c_acctbal >= 0 THEN 'POS' ELSE 'NEG' END AS bal_sign
      FROM customer ORDER BY c_custkey"""),
    (s, dir) => {
      val posBal = when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))
      Tables(s, dir).customer
        .select(col("c_custkey"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("(none)")).as("seg_or_none"),
          posBal.as("pos_bal"),
          coalesce(posBal, lit(0.0)).as("bal_or_zero"),
          when(col("c_acctbal") >= 0, "POS").otherwise("NEG").as("bal_sign"))
        .orderBy("c_custkey")
    })

  // ------------------------------------------------------------------
  // 13. q_distinct — COUNT(DISTINCT) per group.
  // ------------------------------------------------------------------
  private val distinctQ = GraftQuery(
    "q_distinct",
    Some("""SELECT l_returnflag,
      COUNT(DISTINCT l_partkey) AS distinct_parts,
      COUNT(DISTINCT l_suppkey) AS distinct_supps
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, dir) => Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"))
      .orderBy("l_returnflag"))

  // ------------------------------------------------------------------
  // 14. q_semi_join — IN (subquery) as left-semi (no payload from the
  //     inner side ⇒ semi beats inner+distinct at scale).
  // ------------------------------------------------------------------
  private val semiJoin = GraftQuery(
    "q_semi_join",
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.orders.join(t.customer.filter(col("c_acctbal") > 5000),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    })

  // ------------------------------------------------------------------
  // 15. q_anti_join — NOT IN shape as left-anti.
  // ------------------------------------------------------------------
  private val antiJoin = GraftQuery(
    "q_anti_join",
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      ORDER BY c_custkey"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer.join(t.orders.filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    })

  // ------------------------------------------------------------------
  // 17. q_window_time — report-period time bucketing (tumbling day).
  // ------------------------------------------------------------------
  private val windowTime = GraftQuery(
    "q_window_time",
    Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY day, event_type"""),
    (s, dir) => Tables(s, dir).events
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"), 18, 6)).cast("double").as("sum_value"))
      .orderBy("day", "event_type"))

  // ------------------------------------------------------------------
  // 18. q_union_all — multi-branch concat (tool runs 12 reports;
  //     unionByName is the set-combine primitive).
  // ------------------------------------------------------------------
  private val unionAll = GraftQuery(
    "q_union_all",
    Some("""SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
      UNION ALL
      SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
      ORDER BY src, id"""),
    (s, dir) => {
      val t = Tables(s, dir)
      t.customer.select(col("c_custkey").as("id"), col("c_name").as("name"),
          lit("customer").as("src"))
        .unionByName(t.supplier.select(col("s_suppkey").as("id"),
          col("s_name").as("name"), lit("supplier").as("src")))
        .orderBy("src", "id")
    })

  // ------------------------------------------------------------------
  // 19. q_json_extract — JSON props extraction (events.props).
  // ------------------------------------------------------------------
  private val jsonExtract = GraftQuery(
    "q_json_extract",
    Some("""SELECT event_id, json_extract_string(props, '$.k') AS k
      FROM events ORDER BY event_id"""),
    (s, dir) => Tables(s, dir).events
      .select(col("event_id"), get_json_object(col("props"), "$.k").as("k"))
      .orderBy("event_id"))

  // ------------------------------------------------------------------
  // 16. q_line_list — flagship Tx_Curr line-list shape
  //     (Tx_Curr_LineList.sql:1-157): filter to report window → latest
  //     follow-up per client → status filter → dim joins → projection
  //     with CASE mapping, date math, Ethiopian rendering.
  // ------------------------------------------------------------------
  private val lineList = GraftQuery(
    "q_line_list",
    Some(s"""WITH fu AS (SELECT * FROM events WHERE ts <= TIMESTAMP '$EventsEnd'),
      latest AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM fu) t WHERE rn = 1),
      tx AS (SELECT * FROM latest WHERE event_type IN ('view', 'click', 'purchase', 'signup'))
      SELECT tx.user_id AS patient_id,
        CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'AUTO' WHEN 'BUILDING' THEN 'BLD'
          WHEN 'FURNITURE' THEN 'FURN' WHEN 'HOUSEHOLD' THEN 'HH'
          WHEN 'MACHINERY' THEN 'MACH' ELSE 'OTHER' END AS seg_code,
        strftime(tx.ts, '%Y-%m-%d') AS followup_date_gc,
        ${EC.duckdbDMY("tx.ts")} AS followup_date_ec,
        date_diff('day', CAST(tx.ts AS DATE), DATE '$EventsEnd') AS days_since_followup,
        (year(DATE '$EventsEnd') * 12 + month(DATE '$EventsEnd'))
          - (year(CAST(tx.ts AS DATE)) * 12 + month(CAST(tx.ts AS DATE))) AS months_since_followup,
        tx.event_type AS followup_status,
        tx.value AS measure,
        strftime(CAST(tx.ts AS DATE) + 30, '%Y-%m-%d') AS next_visit_date,
        c_name, n_name, r_name
      FROM tx
      LEFT JOIN customer ON tx.user_id = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      ORDER BY patient_id"""),
    (s, dir) => lineListBuild(s, dir))

  private def lineListBuild(s: SparkSession, dir: String,
      reportEnd: String = EventsEnd): DataFrame = {
    val t = Tables(s, dir)
    val fu = t.events.filter(col("ts") <= lit(reportEnd))
    val latest = LatestPerKey(fu, Seq(col("user_id")),
      Seq(col("ts").desc, col("event_id").desc))
    val tx = latest.filter(col("event_type").isin("view", "click", "purchase", "signup"))
    tx.join(t.customer, col("user_id") === col("c_custkey"), "left")
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("user_id").as("patient_id"),
        when(col("c_mktsegment") === "AUTOMOBILE", "AUTO")
          .when(col("c_mktsegment") === "BUILDING", "BLD")
          .when(col("c_mktsegment") === "FURNITURE", "FURN")
          .when(col("c_mktsegment") === "HOUSEHOLD", "HH")
          .when(col("c_mktsegment") === "MACHINERY", "MACH")
          .otherwise("OTHER").as("seg_code"),
        date_format(col("ts"), "yyyy-MM-dd").as("followup_date_gc"),
        EC.ethiopianDMY(col("ts")).as("followup_date_ec"),
        DateFns.daysBetween(col("ts"), lit(reportEnd)).as("days_since_followup"),
        DateFns.periodDiff(lit(reportEnd), col("ts")).as("months_since_followup"),
        col("event_type").as("followup_status"),
        col("value").as("measure"),
        date_format(DateFns.addDays(col("ts"), 30), "yyyy-MM-dd").as("next_visit_date"),
        col("c_name"), col("n_name"), col("r_name"))
      .orderBy("patient_id")
  }

  /** Flagship for SparkEntry.entry. */
  def lineListEntry(s: SparkSession, dir: String): DataFrame = lineListBuild(s, dir)

  /** The flagship parameterized by report end — the reference's
    * COALESCE(REPORT_END_DATE, CURDATE()) surface (CURDATE ×6, e.g.
    * Tx_Curr_AHD_LineList.sql:115): callers pass a runtime-chosen
    * window end (ExportMain derives it from the Ethiopian month, or
    * from today when none is given). The registered q_line_list is
    * this query at the fixed oracle window.
    */
  def lineListAsOf(s: SparkSession, dir: String,
      reportEnd: java.time.LocalDate): DataFrame =
    lineListBuild(s, dir, reportEnd.toString)

  // ------------------------------------------------------------------
  // 20. q_pivot_agg — conditional-aggregate rollup + CONCAT_WS of the
  //     flags (PMTCT_HEI_LineList.sql "CASE WHEN MAX(bcg_taken)='Yes'
  //     THEN 'BCG' END" vaccine block under CONCAT_WS).
  // ------------------------------------------------------------------
  private val pivotAgg = GraftQuery(
    "q_pivot_agg",
    Some("""WITH f AS (SELECT user_id,
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
        MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
        MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
        MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error
        FROM events GROUP BY user_id)
      SELECT user_id, has_view, has_click, has_purchase, has_signup, has_error,
        concat_ws(',',
          CASE WHEN has_view = 1 THEN 'VIEW' END,
          CASE WHEN has_click = 1 THEN 'CLICK' END,
          CASE WHEN has_purchase = 1 THEN 'PURCHASE' END,
          CASE WHEN has_signup = 1 THEN 'SIGNUP' END,
          CASE WHEN has_error = 1 THEN 'ERROR' END) AS flags
      FROM f ORDER BY user_id"""),
    (s, dir) => {
      def flag(t: String) =
        max(when(col("event_type") === t, 1).otherwise(0)).as(s"has_$t")
      Tables(s, dir).events
        .groupBy("user_id")
        .agg(flag("view"), flag("click"), flag("purchase"), flag("signup"), flag("error"))
        .select(col("user_id"), col("has_view"), col("has_click"),
          col("has_purchase"), col("has_signup"), col("has_error"),
          concat_ws(",",
            when(col("has_view") === 1, "VIEW"),
            when(col("has_click") === 1, "CLICK"),
            when(col("has_purchase") === 1, "PURCHASE"),
            when(col("has_signup") === 1, "SIGNUP"),
            when(col("has_error") === 1, "ERROR")).as("flags"))
        .orderBy("user_id")
    })

  // ------------------------------------------------------------------
  // 21. q_outcome_summary — cohort outcome classification + counts
  //     (Tx_Curr_OutComeList.sql: latest follow-up per client bucketed
  //     into outcome categories).
  // ------------------------------------------------------------------
  private val outcomeSummary = GraftQuery(
    "q_outcome_summary",
    Some(s"""WITH latest AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '$EventsEnd') t WHERE rn = 1)
      SELECT CASE event_type
          WHEN 'error' THEN 'LOST'
          WHEN 'purchase' THEN 'ACTIVE_BUYER'
          WHEN 'signup' THEN 'NEW'
          ELSE 'ACTIVE' END AS outcome,
        COUNT(*) AS n
      FROM latest GROUP BY 1 ORDER BY outcome"""),
    (s, dir) => outcomeSummaryBuild(s, dir, EventsEnd))

  /** q_outcome_summary at any report end (its `LineLists.asOf` twin). */
  private[operators] def outcomeSummaryBuild(s: SparkSession, dir: String,
      reportEnd: String): DataFrame =
    LatestPerKey(
        Tables(s, dir).events.filter(col("ts") <= lit(reportEnd)),
        Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc))
      .groupBy(when(col("event_type") === "error", "LOST")
        .when(col("event_type") === "purchase", "ACTIVE_BUYER")
        .when(col("event_type") === "signup", "NEW")
        .otherwise("ACTIVE").as("outcome"))
      .agg(count(lit(1)).as("n"))
      .orderBy("outcome")

  // ------------------------------------------------------------------
  // 21b. q_outcome_matrix — the TI × New × status conditional-sum
  //      matrix (Tx_Curr_OutComeList.sql:100-146): clients newly
  //      appearing in the active cohort this window (latest follow-up
  //      active at window end, NOT active at window start − 1),
  //      bucketed by transfer-in status × new-start status × latest
  //      status code, summed with SUM(IF(...)) into the four report
  //      cells (Traced_Back / Restarts / TI / New).
  //
  //      fn_get_ti_status(client, start−1, end) — the reference's
  //      stored function (Tx_Curr_OutComeList.sql:132,175) whose body
  //      is not in the repo — is modeled from its signature as a
  //      windowed scan of (start−1, end]: a client is 'TI' when their
  //      FIRST follow-up inside the window is a registration event
  //      (they enter this facility's window already enrolled —
  //      transferred in), else 'NTI'. The new-start analog mirrors the
  //      art_start_date rule verbatim: first-ever event > start−1 and
  //      ≤ end → 'N', else 'E'.
  //
  //      Scale shape: the reference runs THREE ROW_NUMBER window
  //      scans + two self-joins; here all per-client facts (latest
  //      row, pre-window latest row, first-ever ts, first in-window
  //      row) fuse into ONE hash aggregation via max/min over structs
  //      — a single shuffle of the events table (the q_ll_ahd
  //      pattern), while the oracle keeps the reference's window form.
  // ------------------------------------------------------------------
  private val OutcomeStart = "2024-01-08" // REPORT_START_DATE analog
  private val outcomeMatrix = GraftQuery(
    "q_outcome_matrix",
    Some(s"""WITH fu AS (SELECT *,
        CASE event_type WHEN 'error' THEN 4 WHEN 'signup' THEN 6 ELSE 5 END AS status_code
        FROM events WHERE ts <= TIMESTAMP '$EventsEnd'),
      latest AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM fu) t WHERE rn = 1 AND status_code IN (5, 6)),
      previous AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM fu WHERE ts < TIMESTAMP '$OutcomeStart') t WHERE rn = 1 AND status_code IN (5, 6)),
      entry AS (SELECT user_id, MIN(ts) AS first_ts FROM fu GROUP BY user_id),
      ti AS (SELECT user_id,
          CASE WHEN event_type = 'signup' THEN 'TI' ELSE 'NTI' END AS ti
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
          FROM fu WHERE ts >= TIMESTAMP '$OutcomeStart') t WHERE rn = 1),
      added AS (SELECT l.user_id, l.status_code,
          CASE WHEN e.first_ts >= TIMESTAMP '$OutcomeStart' THEN 'N' ELSE 'E' END AS new,
          COALESCE(t.ti, 'NTI') AS ti
        FROM latest l
        LEFT JOIN previous p ON l.user_id = p.user_id
        LEFT JOIN entry e ON l.user_id = e.user_id
        LEFT JOIN ti t ON l.user_id = t.user_id
        WHERE p.user_id IS NULL)
      SELECT
        CAST(SUM(CASE WHEN ti = 'NTI' AND new = 'E' AND status_code = 5 THEN 1 ELSE 0 END) AS BIGINT) AS traced_back,
        CAST(SUM(CASE WHEN ti = 'NTI' AND new = 'E' AND status_code = 6 THEN 1 ELSE 0 END) AS BIGINT) AS restarts,
        CAST(SUM(CASE WHEN ti = 'TI' AND new = 'E' AND status_code = 5 THEN 1 ELSE 0 END) AS BIGINT) AS transfer_ins,
        CAST(SUM(CASE WHEN ti = 'NTI' AND new = 'N' AND status_code = 5 THEN 1 ELSE 0 END) AS BIGINT) AS new_clients
      FROM added"""),
    (s, dir) => outcomeMatrixOf(Tables(s, dir).events, OutcomeStart, EventsEnd))

  /** The TI × New × status matrix over an arbitrary events frame —
    * see q_outcome_matrix above for the semantics and reference map.
    */
  def outcomeMatrixOf(events: DataFrame, start: String,
      end: String): DataFrame = {
      val fu = events
        .filter(col("ts") <= lit(end))
        .withColumn("status_code",
          when(col("event_type") === "error", 4)
            .when(col("event_type") === "signup", 6)
            .otherwise(5))
      val startTs = lit(start).cast("timestamp")
      // one shuffle: every per-client windowed fact as a struct max/min
      val perUser = fu.groupBy("user_id").agg(
        max(struct(col("ts"), col("event_id"), col("status_code"))).as("latest"),
        max(when(col("ts") < startTs,
          struct(col("ts"), col("event_id"), col("status_code")))).as("prev"),
        min(col("ts")).as("first_ts"),
        min(when(col("ts") >= startTs,
          struct(col("ts"), col("event_id"), col("event_type")))).as("winfirst"))
      val added = perUser
        .filter(col("latest.status_code").isin(5, 6))
        .filter(col("prev").isNull || !col("prev.status_code").isin(5, 6))
        .select(
          col("latest.status_code").as("status_code"),
          when(col("first_ts") >= startTs, "N").otherwise("E").as("new"),
          when(col("winfirst.event_type") === "signup", "TI")
            .otherwise("NTI").as("ti"))
      def cell(ti: String, nw: String, st: Int, name: String) =
        sum(when(col("ti") === ti && col("new") === nw
          && col("status_code") === st, 1).otherwise(0)).as(name)
      added.agg(
        cell("NTI", "E", 5, "traced_back"),
        cell("NTI", "E", 6, "restarts"),
        cell("TI", "E", 5, "transfer_ins"),
        cell("NTI", "N", 5, "new_clients"))
  }

  // ------------------------------------------------------------------
  // 21c. q_outcome_deduct — the to_be_deducted status row
  //      (Tx_Curr_OutComeList.sql:188-218): clients ACTIVE at window
  //      start − 1 but NOT active at window end, bucketed by their
  //      latest status code (latest_follow_up_2 — the unfiltered
  //      latest row) and summed into the six deduction cells
  //      (TOs/Stops/Losts/Drops/Deads/Not_Updated).
  //
  //      "Active" mirrors the reference's compound rule: status in
  //      the alive set AND art_dose_end covers the reference date.
  //      The dose-coverage analog here is a 7-day activity horizon
  //      (ts + 7 days ≥ the boundary) — scaled to the 30-day test
  //      window as next_visit_date = ts + 30 is to the reference's
  //      monthly cadence. Not_Updated (status 5 among deducted) is
  //      exactly the reference's case: still Alive by status but
  //      coverage lapsed. This query's status map spreads the five
  //      event types across the reference's code space (view→5 Alive,
  //      signup→6 Restart, purchase→0 TO, click→2 LTFU, error→4
  //      Dead); codes 1/3 (Stop all / Ran away) have no event-type
  //      analog on the 5-type schema — the cells exist and sum to 0,
  //      as the reference's do when no client holds that status.
  //
  //      Same fused single-shuffle shape as q_outcome_matrix; the
  //      oracle keeps the reference's ROW_NUMBER form.
  // ------------------------------------------------------------------
  private val outcomeDeduct = GraftQuery(
    "q_outcome_deduct",
    Some(s"""WITH fu AS (SELECT *,
        CASE event_type WHEN 'view' THEN 5 WHEN 'signup' THEN 6
          WHEN 'purchase' THEN 0 WHEN 'click' THEN 2 ELSE 4 END AS status_code
        FROM events WHERE ts <= TIMESTAMP '$EventsEnd'),
      latest AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM fu) t WHERE rn = 1),
      previous AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM fu WHERE ts < TIMESTAMP '$OutcomeStart') t WHERE rn = 1),
      deducted AS (SELECT l.status_code
        FROM previous p JOIN latest l ON p.user_id = l.user_id
        WHERE p.status_code IN (5, 6)
          AND p.ts + INTERVAL 7 DAY >= TIMESTAMP '$OutcomeStart' - INTERVAL 1 DAY
          AND NOT (l.status_code IN (5, 6)
            AND l.ts + INTERVAL 7 DAY >= TIMESTAMP '$EventsEnd'))
      SELECT
        CAST(SUM(CASE WHEN status_code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tos,
        CAST(SUM(CASE WHEN status_code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS stops,
        CAST(SUM(CASE WHEN status_code = 2 THEN 1 ELSE 0 END) AS BIGINT) AS losts,
        CAST(SUM(CASE WHEN status_code = 3 THEN 1 ELSE 0 END) AS BIGINT) AS drops,
        CAST(SUM(CASE WHEN status_code = 4 THEN 1 ELSE 0 END) AS BIGINT) AS deads,
        CAST(SUM(CASE WHEN status_code = 5 THEN 1 ELSE 0 END) AS BIGINT) AS not_updated
      FROM deducted"""),
    (s, dir) => outcomeDeductOf(Tables(s, dir).events, OutcomeStart, EventsEnd))

  /** The deduction status row over an arbitrary events frame — see
    * q_outcome_deduct above for semantics and the reference map.
    */
  def outcomeDeductOf(events: DataFrame, start: String,
      end: String): DataFrame = {
    val fu = events
      .filter(col("ts") <= lit(end))
      .withColumn("status_code",
        when(col("event_type") === "view", 5)
          .when(col("event_type") === "signup", 6)
          .when(col("event_type") === "purchase", 0)
          .when(col("event_type") === "click", 2)
          .otherwise(4))
    val startTs = lit(start).cast("timestamp")
    val endTs = lit(end).cast("timestamp")
    val horizon = expr("INTERVAL 7 DAYS")
    val perUser = fu.groupBy("user_id").agg(
      max(struct(col("ts"), col("event_id"), col("status_code"))).as("latest"),
      max(when(col("ts") < startTs,
        struct(col("ts"), col("event_id"), col("status_code")))).as("prev"))
    val deducted = perUser
      .filter(col("prev").isNotNull
        && col("prev.status_code").isin(5, 6)
        && col("prev.ts") + horizon >= startTs - expr("INTERVAL 1 DAYS"))
      .filter(!(col("latest.status_code").isin(5, 6)
        && col("latest.ts") + horizon >= endTs))
      .select(col("latest.status_code").as("status_code"))
    def cell(st: Int, name: String) =
      sum(when(col("status_code") === st, 1).otherwise(0)).as(name)
    deducted.agg(cell(0, "tos"), cell(1, "stops"), cell(2, "losts"),
      cell(3, "drops"), cell(4, "deads"), cell(5, "not_updated"))
  }

  // ------------------------------------------------------------------
  // 22. q_approx_stats — sketch aggregates (HLL distinct, t-digest-ish
  //     quantiles): the constant-memory alternatives to q_distinct /
  //     exact percentiles at 100 TB. Rows-only (sketch internals are
  //     engine-specific; exactness is covered by q_distinct).
  // ------------------------------------------------------------------
  private val approxStats = GraftQuery(
    "q_approx_stats",
    None,
    (s, dir) => Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50_price"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("p99_price"))
      .orderBy("l_returnflag"))

  // ------------------------------------------------------------------
  // 23. q_window_suite — the rest of the window-function family
  //     (reference uses ROW_NUMBER/LAG; rank/dense_rank/ntile/
  //     running aggregates complete the surface).
  // ------------------------------------------------------------------
  private val windowSuite = GraftQuery(
    "q_window_suite",
    Some("""SELECT user_id, event_id,
      RANK() OVER w AS rnk,
      DENSE_RANK() OVER w AS drnk,
      NTILE(4) OVER w AS quartile,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_value,
      LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id,
      FIRST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
      ORDER BY user_id, event_id"""),
    (s, dir) => {
      val byValue = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events.select(
          col("user_id"), col("event_id"),
          rank().over(byValue).as("rnk"),
          dense_rank().over(byValue).as("drnk"),
          ntile(4).over(byValue).as("quartile"),
          sum(dec(col("value"), 18, 6))
            .over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_value"),
          lead(col("event_id"), 1).over(byTime).as("next_event_id"),
          first(col("event_id")).over(byTime).as("first_event_id"))
        .orderBy("user_id", "event_id")
    })

  // ------------------------------------------------------------------
  // 24. q_rollup — hierarchical subtotals (ROLLUP), the OLAP-report
  //     generalization of the tool's per-facility/overall summaries.
  // ------------------------------------------------------------------
  private val rollupQ = GraftQuery(
    "q_rollup",
    Some("""SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
      COALESCE(l_linestatus, '(all)') AS linestatus,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""),
    (s, dir) => Tables(s, dir).lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus"))

  // ------------------------------------------------------------------
  // 25. q_string_funs2 — wider string surface (split_part/pad/reverse/
  //     repeat/translate/regexp_extract).
  // ------------------------------------------------------------------
  private val stringFuns2 = GraftQuery(
    "q_string_funs2",
    Some("""SELECT p_partkey,
      split_part(p_type, ' ', 1) AS type_head,
      lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
      rpad(p_brand, 12, '.') AS brand_pad,
      reverse(p_brand) AS brand_rev,
      repeat(left(p_name, 2), 2) AS name2x,
      translate(p_brand, '#', '-') AS brand_dash,
      regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
      FROM part ORDER BY p_partkey"""),
    (s, dir) => Tables(s, dir).part
      .select(col("p_partkey"),
        split(col("p_type"), " ").getItem(0).as("type_head"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        rpad(col("p_brand"), 12, ".").as("brand_pad"),
        reverse(col("p_brand")).as("brand_rev"),
        repeat(substring(col("p_name"), 1, 2), 2).as("name2x"),
        translate(col("p_brand"), "#", "-").as("brand_dash"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"))
      .orderBy("p_partkey"))

  // ------------------------------------------------------------------
  // 26. q_math_funs — exact-arithmetic math surface (abs/sign/floor/
  //     ceil/round/sqrt/mod are IEEE-exact; libm-dependent fns like
  //     exp/ln are deliberately excluded from the oracle set).
  // ------------------------------------------------------------------
  private val mathFuns = GraftQuery(
    "q_math_funs",
    Some("""SELECT c_custkey,
      abs(c_acctbal) AS abs_bal,
      CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal,
      CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
      CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
      round(c_acctbal, 1) AS round_bal,
      sqrt(abs(c_acctbal)) AS sqrt_bal,
      CAST(c_custkey % 7 AS BIGINT) AS mod7
      FROM customer ORDER BY c_custkey"""),
    (s, dir) => Tables(s, dir).customer
      .select(col("c_custkey"),
        abs(col("c_acctbal")).as("abs_bal"),
        signum(col("c_acctbal")).as("sign_bal"),
        floor(col("c_acctbal")).as("floor_bal"),
        ceil(col("c_acctbal")).as("ceil_bal"),
        round(col("c_acctbal"), 1).as("round_bal"),
        sqrt(abs(col("c_acctbal"))).as("sqrt_bal"),
        (col("c_custkey") % 7).as("mod7"))
      .orderBy("c_custkey"))

  // ------------------------------------------------------------------
  // 27. q_percentile — exact linear-interpolation quantiles (Spark
  //     percentile ≡ DuckDB quantile_cont, both h=(n-1)p).
  // ------------------------------------------------------------------
  private val percentileQ = GraftQuery(
    "q_percentile",
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, dir) => Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      // ONE percentile aggregate with an array of percentages: each
      // scalar percentile() call buffers every group value
      // independently (3× the memory and sort work for 3 quantiles —
      // measured 3.3s → 1.2s at sf0.1 under a materializing sink)
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("l_returnflag"),
        round(col("ps").getItem(0), 4).as("p50"),
        round(col("ps").getItem(1), 4).as("p90"),
        round(col("ps").getItem(2), 4).as("p99"))
      .orderBy("l_returnflag"))

  // ------------------------------------------------------------------
  // 28. q_cube — full cross-dimension subtotals (CUBE).
  // ------------------------------------------------------------------
  private val cubeQ = GraftQuery(
    "q_cube",
    Some("""SELECT COALESCE(o_orderstatus, '(all)') AS status,
      COALESCE(o_orderpriority, '(all)') AS priority,
      COUNT(*) AS n
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),
    (s, dir) => Tables(s, dir).orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"))
      .orderBy("status", "priority"))

  // ------------------------------------------------------------------
  // 29. q_having — post-aggregation filter.
  // ------------------------------------------------------------------
  private val havingQ = GraftQuery(
    "q_having",
    Some("""SELECT o_custkey, COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
      ORDER BY o_custkey"""),
    (s, dir) => Tables(s, dir).orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 12)
      .orderBy("o_custkey"))

  // ------------------------------------------------------------------
  // 30. q_scalar_subquery — orders above the global mean price.
  //     Cross-engine-exact: compare price·count > totalsum (all exact
  //     decimal math) instead of dividing (decimal division scale
  //     rules differ between engines).
  // ------------------------------------------------------------------
  private val scalarSubquery = GraftQuery(
    "q_scalar_subquery",
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      WHERE CAST(o_totalprice AS DECIMAL(14,4)) * (SELECT COUNT(*) FROM orders)
            > (SELECT SUM(CAST(o_totalprice AS DECIMAL(14,4))) FROM orders)
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val orders = Tables(s, dir).orders
      val totals = orders.agg(count(lit(1)).as("__n"),
        sum(dec(col("o_totalprice"), 14)).as("__sum"))
      orders.crossJoin(broadcast(totals))
        .filter(dec(col("o_totalprice"), 14) * col("__n") > col("__sum"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    })

  // ------------------------------------------------------------------
  // 31. q_array_funs — array surface over tokenized text (size/
  //     contains/sorted-join/element access; DuckDB list twins).
  // ------------------------------------------------------------------
  private val arrayFuns = GraftQuery(
    "q_array_funs",
    Some("""SELECT p_partkey,
      len(string_split(p_type, ' ')) AS n_words,
      list_contains(string_split(p_type, ' '), 'STANDARD') AS has_standard,
      array_to_string(list_sort(string_split(p_type, ' ')), ',') AS sorted_words,
      string_split(p_type, ' ')[1] AS first_word
      FROM part ORDER BY p_partkey"""),
    (s, dir) => {
      val words = split(col("p_type"), " ")
      Tables(s, dir).part
        .select(col("p_partkey"),
          size(words).as("n_words"),
          array_contains(words, "STANDARD").as("has_standard"),
          array_join(sort_array(words), ",").as("sorted_words"),
          element_at(words, 1).as("first_word"))
        .orderBy("p_partkey")
    })

  // ------------------------------------------------------------------
  // 32. q_regex_funs — regex replace with capture-group backrefs
  //     (Java $1 vs DuckDB \1 spellings, same semantics).
  // ------------------------------------------------------------------
  private val regexFuns = GraftQuery(
    "q_regex_funs",
    Some("""SELECT p_partkey,
      regexp_replace(p_brand, '#([0-9]+)', '-\1') AS brand_dashed,
      regexp_matches(p_name, '^[a-z]+ ') AS starts_word
      FROM part ORDER BY p_partkey"""),
    (s, dir) => Tables(s, dir).part
      .select(col("p_partkey"),
        regexp_replace(col("p_brand"), "#([0-9]+)", "-$1").as("brand_dashed"),
        col("p_name").rlike("^[a-z]+ ").as("starts_word"))
      .orderBy("p_partkey"))

  // ------------------------------------------------------------------
  // 33. q_bool_agg — every/any/count_if conditional aggregates.
  // ------------------------------------------------------------------
  private val boolAgg = GraftQuery(
    "q_bool_agg",
    Some("""SELECT o_custkey,
      bool_and(o_totalprice > 1000) AS all_over_1k,
      bool_or(o_orderstatus = 'F') AS any_final,
      COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
    (s, dir) => Tables(s, dir).orders
      .groupBy("o_custkey")
      .agg(every(col("o_totalprice") > 1000).as("all_over_1k"),
        some(col("o_orderstatus") === "F").as("any_final"),
        count_if(col("o_orderpriority") === "1-URGENT").as("n_urgent"))
      .orderBy("o_custkey"))

  // ------------------------------------------------------------------
  // 34. q_month_arith — month-granularity arithmetic (DATE_ADD month
  //     intervals with day clamping, last_day, month truncation).
  // ------------------------------------------------------------------
  private val monthArith = GraftQuery(
    "q_month_arith",
    Some("""SELECT o_orderkey,
      strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month,
      strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      FROM orders ORDER BY o_orderkey"""),
    (s, dir) => Tables(s, dir).orders
      .select(col("o_orderkey"),
        date_format(add_months(col("o_orderdate").cast("date"), 1), "yyyy-MM-dd").as("next_month"),
        date_format(last_day(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("month_end"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
      .orderBy("o_orderkey"))

  // ------------------------------------------------------------------
  // 35. q_encode_funs — binary encodings (base64/hex over utf8 bytes).
  // ------------------------------------------------------------------
  private val encodeFuns = GraftQuery(
    "q_encode_funs",
    Some("""SELECT n_nationkey,
      to_base64(encode(n_name)) AS name_b64,
      to_hex(n_nationkey) AS key_hex,
      md5(n_name) AS name_md5
      FROM nation ORDER BY n_nationkey"""),
    (s, dir) => Tables(s, dir).nation
      .select(col("n_nationkey"),
        base64(col("n_name").cast("binary")).as("name_b64"),
        hex(col("n_nationkey")).as("key_hex"),
        md5(col("n_name")).as("name_md5"))
      .orderBy("n_nationkey"))

  // ------------------------------------------------------------------
  // 36. q_date_parts — calendar field extraction (dow normalized to
  //     DuckDB's 0=Sunday convention; Spark's is 1=Sunday).
  // ------------------------------------------------------------------
  private val dateParts = GraftQuery(
    "q_date_parts",
    Some("""SELECT o_orderkey,
      year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
      quarter(o_orderdate) AS q,
      dayofweek(CAST(o_orderdate AS DATE)) AS dow,
      dayofyear(CAST(o_orderdate AS DATE)) AS doy,
      weekofyear(CAST(o_orderdate AS DATE)) AS woy
      FROM orders ORDER BY o_orderkey"""),
    (s, dir) => Tables(s, dir).orders
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        weekofyear(col("o_orderdate")).as("woy"))
      .orderBy("o_orderkey"))

  // ------------------------------------------------------------------
  // 37. q_grouping_sets — explicit grouping-set selection (via the
  //     engine's SQL surface; the DataFrame API covers rollup/cube).
  // ------------------------------------------------------------------
  private val groupingSets = GraftQuery(
    "q_grouping_sets",
    Some("""SELECT COALESCE(o_orderstatus, '(all)') AS status,
      COALESCE(o_orderpriority, '(all)') AS priority,
      COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority"""),
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_gs")
      s.sql("""SELECT COALESCE(o_orderstatus, '(all)') AS status,
        COALESCE(o_orderpriority, '(all)') AS priority,
        COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    })

  // ------------------------------------------------------------------
  // 38. q_pivot_wide — true pivot API (values to columns).
  // ------------------------------------------------------------------
  private val pivotWide = GraftQuery(
    "q_pivot_wide",
    Some("""SELECT user_id,
      COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      COUNT(*) FILTER (WHERE event_type = 'error') AS error
      FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val p = Tables(s, dir).events
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    })

  // ------------------------------------------------------------------
  // 39. q_unpivot — melt wide measures to (measure, value) rows.
  // ------------------------------------------------------------------
  private val unpivotQ = GraftQuery(
    "q_unpivot",
    Some("""SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem) t
      ORDER BY l_orderkey, l_linenumber, measure"""),
    // sort the 3×-narrower PRE-expand input, not the melted rows: the
    // output total order is unchanged because (l_orderkey,
    // l_linenumber) is the lineitem primary key (no ties for the
    // measure column to break across input rows) and the values are
    // listed in the measure column's own ascending order (discount <
    // quantity < tax), which Expand emits row-contiguously — so
    // Sort→Expand produces exactly the ORDER BY (l_orderkey,
    // l_linenumber, measure) sequence while range-shuffling a third
    // of the rows, none of them carrying the measure string
    (s, dir) => Tables(s, dir).lineitem
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
      .orderBy("l_orderkey", "l_linenumber")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_discount").as("discount"),
          col("l_quantity").as("quantity"), col("l_tax").as("tax")),
        variableColumnName = "measure", valueColumnName = "value"))

  val queries: Seq[GraftQuery] = Seq(
    pivotAgg, outcomeSummary, outcomeMatrix, outcomeDeduct, approxStats, windowSuite, rollupQ,
    stringFuns2, mathFuns, percentileQ, cubeQ, havingQ, scalarSubquery,
    arrayFuns, regexFuns, boolAgg, monthArith, encodeFuns, dateParts,
    groupingSets, pivotWide, unpivotQ,
    aggPricing, filterProject, joinMulti, latestPerKey, caseMap, dateArith,
    periodDiff, monthDiff, ethiopianCal, lagWindow, aggTop, stringFuns, nullFuns,
    distinctQ, semiJoin, antiJoin, lineList, windowTime, unionAll, jsonExtract)
}
