package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.DateFns

/** The rest of the reference's report family (SURVEY.md §2.1 #16):
  * each query mirrors the distinguishing logic of one
  * /root/reference/sql_queries report, mapped onto the test schema.
  * All oracle-backed.
  */
object LineLists {

  private val End = "2024-01-21" // REPORT_END_DATE analog

  // ------------------------------------------------------------------
  // Tx_Curr_VLEligible_LineList.sql — eligibility window: latest
  // follow-up per client, eligible when enough time has passed since
  // the anchor date.
  // ------------------------------------------------------------------
  private val vlEligible = GraftQuery(
    "q_ll_eligible",
    Some(s"""WITH latest AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '$End') t WHERE rn = 1)
      SELECT user_id,
        strftime(ts, '%Y-%m-%d') AS last_seen,
        date_diff('day', CAST(ts AS DATE), DATE '$End') AS days_since,
        CASE WHEN event_type <> 'error'
              AND date_diff('day', CAST(ts AS DATE), DATE '$End') >= 7
          THEN 'Eligible' ELSE 'NotEligible' END AS eligibility
      FROM latest ORDER BY user_id"""),
    (s, dir) => eligibleBuild(s, dir, End))

  private def eligibleBuild(s: SparkSession, dir: String, end: String): DataFrame = {
      val latest = LatestPerKey(
        Tables(s, dir).events.filter(col("ts") <= lit(end)),
        Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc))
      latest.select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("last_seen"),
          DateFns.daysBetween(col("ts"), lit(end)).as("days_since"),
          when(col("event_type") =!= "error"
              && DateFns.daysBetween(col("ts"), lit(end)) >= 7, "Eligible")
            .otherwise("NotEligible").as("eligibility"))
        .orderBy("user_id")
  }

  // ------------------------------------------------------------------
  // Tx_Curr_TPT_LineList.sql — course completion: first start vs last
  // completion event per client, completed iff both exist and the
  // course fits the window (inh_start_date/inh_date_completed shape).
  // ------------------------------------------------------------------
  private val tptCourse = GraftQuery(
    "q_ll_course",
    Some("""WITH c AS (SELECT user_id,
        MIN(CASE WHEN event_type = 'signup' THEN ts END) AS start_ts,
        MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS complete_ts
        FROM events GROUP BY user_id)
      SELECT user_id,
        strftime(start_ts, '%Y-%m-%d') AS course_start,
        strftime(complete_ts, '%Y-%m-%d') AS course_complete,
        CASE WHEN start_ts IS NOT NULL AND complete_ts IS NOT NULL
              AND complete_ts >= start_ts
              AND date_diff('day', CAST(start_ts AS DATE), CAST(complete_ts AS DATE)) <= 180
          THEN 'Completed'
          WHEN start_ts IS NOT NULL THEN 'Started' ELSE 'NotStarted' END AS course_status
      FROM c ORDER BY user_id"""),
    (s, dir) => Tables(s, dir).events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("start_ts"),
        max(when(col("event_type") === "purchase", col("ts"))).as("complete_ts"))
      .select(col("user_id"),
        date_format(col("start_ts"), "yyyy-MM-dd").as("course_start"),
        date_format(col("complete_ts"), "yyyy-MM-dd").as("course_complete"),
        when(col("start_ts").isNotNull && col("complete_ts").isNotNull
            && col("complete_ts") >= col("start_ts")
            && DateFns.daysBetween(col("start_ts"), col("complete_ts")) <= 180,
          "Completed")
          .when(col("start_ts").isNotNull, "Started")
          .otherwise("NotStarted").as("course_status"))
      .orderBy("user_id"))

  // ------------------------------------------------------------------
  // Tx_Curr_HVL_LineList.sql — threshold classification on the latest
  // measurement (viral load >= 1000 copies shape).
  // ------------------------------------------------------------------
  private val highValue = GraftQuery(
    "q_ll_threshold",
    Some(s"""WITH m AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase' AND ts <= TIMESTAMP '$End') t
        WHERE rn = 1)
      SELECT user_id, value AS last_measure,
        strftime(ts, '%Y-%m-%d') AS measured_on,
        CASE WHEN value >= 250 THEN 'High' WHEN value >= 50 THEN 'Low'
          ELSE 'Suppressed' END AS measure_band
      FROM m ORDER BY user_id"""),
    (s, dir) => thresholdBuild(s, dir, End))

  private def thresholdBuild(s: SparkSession, dir: String, end: String): DataFrame = {
      val m = LatestPerKey(
        Tables(s, dir).events
          .filter(col("event_type") === "purchase" && col("ts") <= lit(end)),
        Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc))
      m.select(col("user_id"), col("value").as("last_measure"),
          date_format(col("ts"), "yyyy-MM-dd").as("measured_on"),
          when(col("value") >= 250, "High")
            .when(col("value") >= 50, "Low")
            .otherwise("Suppressed").as("measure_band"))
        .orderBy("user_id")
  }

  // ------------------------------------------------------------------
  // Tx_Curr_CCA_LineList.sql — two independent latest-per-key CTEs
  // joined per client (latest screening vs latest result, compare
  // dates — the latestDSD/latest-follow-up dual-CTE shape).
  // ------------------------------------------------------------------
  private val dualLatest = GraftQuery(
    "q_ll_dual_latest",
    Some(s"""WITH scr AS (SELECT * FROM (
        SELECT user_id, ts, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'view' AND ts <= TIMESTAMP '$End') t WHERE rn = 1),
      res AS (SELECT * FROM (
        SELECT user_id, ts, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'click' AND ts <= TIMESTAMP '$End') t WHERE rn = 1)
      SELECT scr.user_id,
        strftime(scr.ts, '%Y-%m-%d') AS screened_on,
        strftime(res.ts, '%Y-%m-%d') AS result_on,
        CASE WHEN res.ts IS NULL THEN 'AwaitingResult'
          WHEN res.ts >= scr.ts THEN 'ResultReceived'
          ELSE 'ResultStale' END AS screening_status,
        res.value AS result_value
      FROM scr LEFT JOIN res ON scr.user_id = res.user_id
      ORDER BY scr.user_id"""),
    (s, dir) => dualLatestBuild(s, dir, End))

  private def dualLatestBuild(s: SparkSession, dir: String, end: String): DataFrame = {
      val ev = Tables(s, dir).events
      def latestOf(t: String, extra: Seq[String]) = LatestPerKey(
        ev.filter(col("event_type") === t && col("ts") <= lit(end)),
        Seq(col("user_id")), Seq(col("ts").desc, col("event_id").desc))
        .select((Seq("user_id", "ts", "event_id") ++ extra).map(col): _*)
      val scr = latestOf("view", Nil)
        .withColumnRenamed("ts", "scr_ts").withColumnRenamed("event_id", "scr_id")
      val res = latestOf("click", Seq("value"))
        .withColumnRenamed("ts", "res_ts").withColumnRenamed("event_id", "res_id")
      scr.join(res, Seq("user_id"), "left")
        .select(col("user_id"),
          date_format(col("scr_ts"), "yyyy-MM-dd").as("screened_on"),
          date_format(col("res_ts"), "yyyy-MM-dd").as("result_on"),
          when(col("res_ts").isNull, "AwaitingResult")
            .when(col("res_ts") >= col("scr_ts"), "ResultReceived")
            .otherwise("ResultStale").as("screening_status"),
          col("value").as("result_value"))
        .orderBy("user_id")
  }

  // ------------------------------------------------------------------
  // As-of join: each view event annotated with the user's most recent
  // purchase at-or-before it (temporal enrichment; DuckDB's native
  // ASOF JOIN is the oracle).
  // ------------------------------------------------------------------
  private val asofJoin = GraftQuery(
    "q_asof_join",
    Some("""SELECT l.event_id, l.user_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        r.value AS right_value,
        strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS right_ts
      FROM (SELECT * FROM events WHERE event_type = 'view') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND r.ts <= l.ts
      ORDER BY l.event_id"""),
    (s, dir) => {
      val ev = Tables(s, dir).events
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asOf(views, purchases, keyCol = "user_id", tsCol = "ts",
          payloadCols = Seq("value", "ts"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          col("right_value"),
          date_format(col("right_ts"), "yyyy-MM-dd HH:mm:ss").as("right_ts"))
        .orderBy("event_id")
    })

  // ------------------------------------------------------------------
  // Batch sessionization — gaps-and-islands: session boundary when the
  // gap to the previous event exceeds 30 minutes; running sum of
  // boundary flags numbers the sessions.
  // ------------------------------------------------------------------
  private val sessionizeBatch = GraftQuery(
    "q_sessionize_batch",
    Some("""WITH g AS (SELECT user_id, ts, event_id, value,
        CASE WHEN LAG(ts) OVER w IS NULL
              OR date_diff('second', LAG(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_start
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no FROM g)
      SELECT user_id, session_no, COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
      FROM s GROUP BY user_id, session_no
      ORDER BY user_id, session_no"""),
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      Tables(s, dir).events
        .withColumn("is_start",
          when(lag(col("ts"), 1).over(w).isNull
              || unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)) > 1800, 1)
            .otherwise(0))
        .withColumn("session_no", sum(col("is_start")).over(run))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy("user_id", "session_no")
    })

  // ------------------------------------------------------------------
  // Range join — events inside 30-minute windows opened by signup
  // events (bucketized equi-join vs Spark's nested-loop fallback;
  // DuckDB plans the same query as an IEJoin and is the oracle).
  // ------------------------------------------------------------------
  private val rangeJoin = GraftQuery(
    "q_range_join",
    Some("""WITH iv AS (SELECT event_id AS iv_id, ts AS start_ts,
        ts + INTERVAL 30 MINUTE AS end_ts FROM events WHERE event_type = 'signup')
      SELECT e.event_id, iv.iv_id
      FROM events e JOIN iv ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
      ORDER BY e.event_id, iv.iv_id"""),
    (s, dir) => {
      val ev = Tables(s, dir).events
      val iv = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("iv_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
      // every interval is exactly 30 minutes long, so the width the
      // median would pick is known: passing it spares the build an
      // approx_percentile job (the exact re-filter keeps the rows)
      RangeJoin.pointInInterval(ev.select("event_id", "ts"), "ts",
          iv, "start_ts", "end_ts", bucketSeconds = 30 * 60)
        .select("event_id", "iv_id")
        .orderBy("event_id", "iv_id")
    })

  /** DuckDB snippet: MySQL TIMESTAMPDIFF(MONTH) complete months,
    * either direction — mirrors DateFns.monthsBetween exactly.
    */
  private def moSql(a: String, b: String): String = {
    // full sign-aware complete-month CASE (same as q_month_diff's
    // oracle): the b>=a-only form silently disagreed with
    // DateFns.monthsBetween when a follows b — reachable via
    // months_since_signup, whose signup_ts is a MIN over the
    // UNWINDOWED events table and can exceed the report end
    val mi = s"""((year(CAST($b AS DATE)) * 12 + month(CAST($b AS DATE)))
       - (year(CAST($a AS DATE)) * 12 + month(CAST($a AS DATE))))"""
    s"""(CASE WHEN $mi > 0 AND day(CAST($b AS DATE)) < day(CAST($a AS DATE)) THEN $mi - 1
         WHEN $mi < 0 AND day(CAST($b AS DATE)) > day(CAST($a AS DATE)) THEN $mi + 1
         ELSE $mi END)"""
  }

  // ------------------------------------------------------------------
  // Tx_Curr_AHD_LineList.sql (427 lines) — the deepest composition in
  // the reference: ONE wide base CTE, ~20 independent "latest non-null
  // attribute per client" extractions (mixed orderings: by attribute
  // date, by follow-up date; mixed report-window filters), a cohort
  // from latest-follow-up + treatment-window rule, then a wide
  // left-join of every extraction back onto the case row with
  // multi-branch CASE staging (the AHD determination) and coalesce
  // chains. Mirrored here attribute-for-attribute on the test schema:
  // event_type = attribute shard, value = attribute, ts = its date.
  // ------------------------------------------------------------------
  private val ahd = GraftQuery(
    "q_ll_ahd",
    Some(s"""WITH fu AS (SELECT * FROM events),
      win AS (SELECT * FROM fu WHERE ts <= TIMESTAMP '$End'),
      click_l AS (SELECT user_id, value AS click_val FROM (
        SELECT user_id, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM win WHERE event_type = 'click') t WHERE rn = 1),
      view_l AS (SELECT user_id, value AS view_val FROM (
        SELECT user_id, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM win WHERE event_type = 'view') t WHERE rn = 1),
      err_l AS (SELECT user_id, value AS err_val FROM (
        SELECT user_id, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM fu WHERE event_type = 'error') t WHERE rn = 1),
      purch_m AS (SELECT user_id, value AS max_purchase_val FROM (
        SELECT user_id, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
        FROM win WHERE event_type = 'purchase') t WHERE rn = 1),
      signup_f AS (SELECT user_id, MIN(ts) AS signup_ts FROM fu
        WHERE event_type = 'signup' GROUP BY user_id),
      err_f AS (SELECT user_id, MIN(ts) AS first_err_ts FROM win
        WHERE event_type = 'error' GROUP BY user_id),
      latest_fu AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM win) t WHERE rn = 1),
      tx AS (SELECT * FROM latest_fu
        WHERE event_type IN ('view', 'click', 'purchase', 'signup')
          AND CAST(ts AS DATE) + 30 >= DATE '$End')
      SELECT tx.user_id AS patient_id,
        strftime(tx.ts, '%Y-%m-%d') AS followup_on,
        tx.event_type AS current_status,
        ${moSql("signup_ts", s"DATE '$End'")} AS months_since_signup,
        CAST(trunc(date_diff('day', CAST(first_err_ts AS DATE), DATE '$End') / 7.0) AS INTEGER) AS weeks_since_first_error,
        COALESCE(click_val, view_val, max_purchase_val) AS coalesce_val,
        COALESCE(max_purchase_val, err_val) AS dose_val,
        CASE WHEN tx.event_type = 'view' AND view_val > 100 THEN 'Positive'
             WHEN tx.event_type = 'view' AND view_val <= 100 THEN 'Negative'
             ELSE '' END AS smear_analog,
        CASE WHEN tx.event_type = 'click' AND click_val > 100 THEN 'Positive'
             WHEN tx.event_type = 'click' AND click_val <= 100 THEN 'Negative'
             ELSE '' END AS addl_analog,
        CASE WHEN c_acctbal < 0 THEN 'Yes'
             WHEN c_acctbal >= 0 AND err_val IS NOT NULL AND err_val > 200 THEN 'Yes'
             WHEN c_acctbal >= 0 AND click_val IS NOT NULL
                  AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
                  AND click_val > 250 THEN 'Yes'
             ELSE 'No' END AS ahd_flag,
        c_name
      FROM tx
      LEFT JOIN customer ON tx.user_id = c_custkey
      LEFT JOIN click_l ON click_l.user_id = tx.user_id
      LEFT JOIN view_l ON view_l.user_id = tx.user_id
      LEFT JOIN err_l ON err_l.user_id = tx.user_id
      LEFT JOIN purch_m ON purch_m.user_id = tx.user_id
      LEFT JOIN signup_f ON signup_f.user_id = tx.user_id
      LEFT JOIN err_f ON err_f.user_id = tx.user_id
      WHERE tx.event_type <> 'error'
      ORDER BY patient_id"""),
    (s, dir) => ahdBuild(s, dir, End))

  private def ahdBuild(s: SparkSession, dir: String, end: String): DataFrame = {
      val t = Tables(s, dir)
      val inWin = col("ts") <= lit(end)
      // "latest non-null attribute per client" — one per attribute
      // shard, ordered by follow-up date (the reference's dominant
      // ordering), one deliberately by the attribute itself
      // SCALE NOTE: the reference computes each extraction as its own
      // ROW_NUMBER CTE — 7 independent shuffles on the same key. The
      // Spark-first form fuses every extraction into ONE HashAggregate
      // (conditional max/min over structs — max/min skip NULLs, so
      // `max(when(type, struct(ts,id,value)))` IS "latest-where-type"
      // with map-side partial aggregation): the report window is part
      // of each windowed extraction's condition, so the windowed and
      // unwindowed extractions share one pass and need no join. The
      // shuffle moves |users| pre-reduced rows, not |events|, and on an
      // export package's user-partitioned events (Tables.withEvents)
      // there is none. Results are identical — the oracle above still
      // mirrors the reference's CTE form.
      def latestStruct(typ: String, cond: Column) =
        max(when(col("event_type") === typ && cond,
          struct(col("ts"), col("event_id"), col("value"))))
      val tx = t.events.groupBy("user_id").agg(
          latestStruct("click", inWin).getField("value").as("click_val"),
          latestStruct("view", inWin).getField("value").as("view_val"),
          max(when(col("event_type") === "purchase" && inWin,
            struct(col("value"), col("event_id")))).getField("value").as("max_purchase_val"),
          min(when(col("event_type") === "error" && inWin, col("ts"))).as("first_err_ts"),
          max(when(inWin, struct(col("ts"), col("event_id"), col("event_type"), col("value"))))
            .as("__latest"),
          latestStruct("error", lit(true)).getField("value").as("err_val"),
          min(when(col("event_type") === "signup", col("ts"))).as("signup_ts"))
        // a client with no event in the window has no __latest, so no
        // event_type: the cohort filter drops it, as the windowed CTE did
        .select(col("user_id"), col("click_val"), col("view_val"),
          col("max_purchase_val"), col("first_err_ts"), col("err_val"),
          col("signup_ts"),
          col("__latest.ts").as("ts"), col("__latest.event_type").as("event_type"))
        .filter(col("event_type").isin("view", "click", "purchase", "signup"))
        .filter(date_add(col("ts").cast("date"), 30) >= lit(end).cast("date"))
      tx.join(t.customer, col("user_id") === col("c_custkey"), "left")
        .filter(col("event_type") =!= "error") // faithful final guard (redundant with the cohort, as in the reference)
        .select(col("user_id").as("patient_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("followup_on"),
          col("event_type").as("current_status"),
          DateFns.monthsBetween(col("signup_ts"), lit(end)).as("months_since_signup"),
          DateFns.weeksBetween(col("first_err_ts"), lit(end)).as("weeks_since_first_error"),
          coalesce(col("click_val"), col("view_val"), col("max_purchase_val")).as("coalesce_val"),
          coalesce(col("max_purchase_val"), col("err_val")).as("dose_val"),
          when(col("event_type") === "view" && col("view_val") > 100, "Positive")
            .when(col("event_type") === "view" && col("view_val") <= 100, "Negative")
            .otherwise("").as("smear_analog"),
          when(col("event_type") === "click" && col("click_val") > 100, "Positive")
            .when(col("event_type") === "click" && col("click_val") <= 100, "Negative")
            .otherwise("").as("addl_analog"),
          when(col("c_acctbal") < 0, "Yes")
            .when(col("c_acctbal") >= 0 && col("err_val").isNotNull
              && col("err_val") > 200, "Yes")
            .when(col("c_acctbal") >= 0 && col("click_val").isNotNull
              && col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY")
              && col("click_val") > 250, "Yes")
            .otherwise("No").as("ahd_flag"),
          col("c_name"))
        .orderBy("patient_id")
  }

  // ------------------------------------------------------------------
  // Tx_Curr_HVL_LineList.sql (356 lines) — dual-window eligibility
  // with CHAINED anchoring: a latest-per-key anchor (the high
  // measurement) opens a secondary window [anchor, REPORT_END] in
  // which the EARLIEST qualifying event is the confirmatory result;
  // a third extraction (switch) windows off the CONFIRMATORY event,
  // two deep. Staging classifies by confirm value with a months-based
  // overdue rule (TIMESTAMPDIFF(MONTH) complete-month semantics).
  // ------------------------------------------------------------------
  private val hvl = GraftQuery(
    "q_ll_hvl",
    Some(s"""WITH p AS (SELECT * FROM events
        WHERE event_type = 'purchase' AND ts <= TIMESTAMP '$End'),
      anchor AS (SELECT user_id, ts AS a_ts, value AS a_val FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM p WHERE value >= 200) t WHERE rn = 1),
      confirm AS (SELECT user_id, c_ts, c_val FROM (
        SELECT p.user_id, p.ts AS c_ts, p.value AS c_val,
          ROW_NUMBER() OVER (PARTITION BY p.user_id ORDER BY p.ts, p.event_id) AS rn
        FROM p JOIN anchor ON p.user_id = anchor.user_id
        WHERE p.ts > anchor.a_ts) t WHERE rn = 1),
      support AS (SELECT user_id, s_ts FROM (
        SELECT e.user_id, e.ts AS s_ts,
          ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN anchor ON e.user_id = anchor.user_id
        WHERE e.event_type = 'view' AND e.ts >= anchor.a_ts
          AND e.ts <= TIMESTAMP '$End') t WHERE rn = 1),
      switch AS (SELECT user_id, w_ts FROM (
        SELECT e.user_id, e.ts AS w_ts,
          ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN confirm ON e.user_id = confirm.user_id
        WHERE e.event_type = 'signup' AND e.ts >= confirm.c_ts
          AND e.ts <= TIMESTAMP '$End') t WHERE rn = 1)
      SELECT anchor.user_id,
        anchor.a_val AS anchor_measure,
        strftime(anchor.a_ts, '%Y-%m-%d') AS anchor_on,
        strftime(c_ts, '%Y-%m-%d') AS confirm_on,
        strftime(s_ts, '%Y-%m-%d') AS support_on,
        ${moSql("anchor.a_ts", s"COALESCE(c_ts, TIMESTAMP '$End')")} AS months_waiting,
        CAST(trunc(date_diff('day', CAST(anchor.a_ts AS DATE), CAST(c_ts AS DATE)) / 7.0) AS INTEGER) AS weeks_to_confirm,
        CASE WHEN c_ts IS NULL AND s_ts IS NULL THEN 'AwaitingSupport'
             WHEN c_ts IS NULL AND ${moSql("anchor.a_ts", s"DATE '$End'")} < 3 THEN 'InWindow'
             WHEN c_ts IS NULL THEN 'ConfirmOverdue'
             WHEN c_val < 10 THEN 'Resuppressed'
             WHEN c_val >= 50 THEN 'ConfirmedHigh'
             ELSE 'Indeterminate' END AS confirm_status,
        CASE WHEN c_val >= 50 AND w_ts IS NOT NULL THEN 'Switched'
             WHEN c_val >= 50 THEN 'SwitchPending'
             ELSE '' END AS switch_status,
        c_name
      FROM anchor
      LEFT JOIN confirm ON confirm.user_id = anchor.user_id
      LEFT JOIN support ON support.user_id = anchor.user_id
      LEFT JOIN switch ON switch.user_id = anchor.user_id
      LEFT JOIN customer ON anchor.user_id = c_custkey
      ORDER BY anchor.user_id"""),
    (s, dir) => hvlBuild(s, dir, End))

  private def hvlBuild(s: SparkSession, dir: String, end: String): DataFrame = {
      val t = Tables(s, dir)
      // SCALE NOTE: each extraction is a whole-partition window
      // aggregate over the client's rows — min/max over a (ts, event_id,
      // …) struct, lexicographic = the CTE's ORDER BY; aggregates skip
      // NULLs, so `min(when(cond, struct))` IS "earliest-where-cond".
      // A chained step reads the previous step's struct on the same
      // row, so the whole chain needs the rows clustered by user_id
      // once: one exchange on a plain scan, none on an export
      // package's user-partitioned events (Tables.withEvents), where
      // the final ORDER BY needs no exchange either. The oracle keeps
      // the reference's ROW_NUMBER form.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      def typ(name: String) = col("event_type") === name
      val chain = t.events.filter(col("ts") <= lit(end))
        .withColumn("a", max(when(typ("purchase") && col("value") >= 200,
          struct(col("ts"), col("event_id"), col("value")))).over(w))
        .filter(col("a").isNotNull)
        // chained: earliest qualifying event INSIDE the window the
        // anchor opens — the extraction depends on the prior extraction
        .withColumn("c", min(when(typ("purchase") && col("ts") > col("a.ts"),
          struct(col("ts"), col("event_id"), col("value")))).over(w))
        .withColumn("s", min(when(typ("view") && col("ts") >= col("a.ts"),
          struct(col("ts"), col("event_id")))).over(w))
        .withColumn("w", min(when(typ("signup") && col("c").isNotNull
          && col("ts") >= col("c.ts"), struct(col("ts"), col("event_id")))).over(w))
        // every row of a client carries the same extractions: keep one
        .select(col("user_id"), col("a.ts").as("a_ts"), col("a.value").as("a_val"),
          col("c.ts").as("c_ts"), col("c.value").as("c_val"),
          col("s.ts").as("s_ts"), col("w.ts").as("w_ts"))
        .dropDuplicates("user_id")
      chain
        .join(t.customer, col("user_id") === col("c_custkey"), "left")
        .select(col("user_id"),
          col("a_val").as("anchor_measure"),
          date_format(col("a_ts"), "yyyy-MM-dd").as("anchor_on"),
          date_format(col("c_ts"), "yyyy-MM-dd").as("confirm_on"),
          date_format(col("s_ts"), "yyyy-MM-dd").as("support_on"),
          DateFns.monthsBetween(col("a_ts"),
            coalesce(col("c_ts"), lit(end).cast("timestamp"))).as("months_waiting"),
          DateFns.weeksBetween(col("a_ts"), col("c_ts")).as("weeks_to_confirm"),
          when(col("c_ts").isNull && col("s_ts").isNull, "AwaitingSupport")
            .when(col("c_ts").isNull
              && DateFns.monthsBetween(col("a_ts"), lit(end)) < 3, "InWindow")
            .when(col("c_ts").isNull, "ConfirmOverdue")
            .when(col("c_val") < 10, "Resuppressed")
            .when(col("c_val") >= 50, "ConfirmedHigh")
            .otherwise("Indeterminate").as("confirm_status"),
          when(col("c_val") >= 50 && col("w_ts").isNotNull, "Switched")
            .when(col("c_val") >= 50, "SwitchPending")
            .otherwise("").as("switch_status"),
          col("c_name"))
        .orderBy("user_id")
  }

  // ------------------------------------------------------------------
  // PMTCT_Maternal_LineList.sql — EPISODE WINDOWS: an enrollment event
  // opens an episode that closes at the next enrollment (or the report
  // end when none follows — COALESCE(discharge, REPORT_END_DATE)),
  // and activity events are attributed to the episode containing
  // them. Built with lead() over the per-user timeline (the interval
  // construction the reference does with Enrollment ⟕ Discharge),
  // then an equi-join on user + range predicate for attribution —
  // per-user episode counts are tiny, so the join never explodes.
  // ------------------------------------------------------------------
  private val episode = GraftQuery(
    "q_ll_episode",
    Some(s"""WITH enr AS (SELECT user_id, event_id AS episode_id, ts AS e_start,
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e_next
      FROM events WHERE event_type = 'signup' AND ts <= TIMESTAMP '$End'),
      ep AS (SELECT user_id, episode_id, e_start,
        COALESCE(e_next, TIMESTAMP '$End') AS e_end FROM enr),
      att AS (SELECT ep.user_id, ep.episode_id, ep.e_start, ep.e_end,
          p.value, p.ts AS p_ts
        FROM ep LEFT JOIN events p
          ON p.user_id = ep.user_id AND p.event_type = 'purchase'
         AND p.ts >= ep.e_start AND p.ts < ep.e_end)
      SELECT user_id, episode_id,
        strftime(e_start, '%Y-%m-%d %H:%M:%S') AS episode_start,
        strftime(e_end, '%Y-%m-%d %H:%M:%S') AS episode_end,
        COUNT(p_ts) AS n_purchases,
        CAST(CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))), 0) AS VARCHAR) AS DOUBLE) AS total_value
      FROM att GROUP BY user_id, episode_id, e_start, e_end
      ORDER BY user_id, episode_id"""),
    (s, dir) => episodeBuild(s, dir, End))

  private def episodeBuild(s: SparkSession, dir: String, end: String): DataFrame = {
      val ev = Tables(s, dir).events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ep = ev.filter(col("event_type") === "signup" && col("ts") <= lit(end))
        .select(col("user_id"), col("event_id").as("episode_id"),
          col("ts").as("e_start"), lead(col("ts"), 1).over(w).as("e_next"))
        .withColumn("e_end", coalesce(col("e_next"), lit(end).cast("timestamp")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      // the range predicate MUST be part of the LEFT JOIN condition:
      // joining on user alone and filtering afterwards would DROP
      // episodes whose user has purchases but none inside the episode
      ep.join(p,
          ep("user_id") === p("p_user")
            && p("p_ts") >= ep("e_start") && p("p_ts") < ep("e_end"), "left")
        .groupBy("user_id", "episode_id", "e_start", "e_end")
        .agg(count(col("p_ts")).as("n_purchases"),
          coalesce(sum(col("value").cast("decimal(18,6)")),
            lit(0).cast("decimal(18,6)")).cast("double").as("total_value"))
        .select(col("user_id"), col("episode_id"),
          date_format(col("e_start"), "yyyy-MM-dd HH:mm:ss").as("episode_start"),
          date_format(col("e_end"), "yyyy-MM-dd HH:mm:ss").as("episode_end"),
          col("n_purchases"), col("total_value"))
        .orderBy("user_id", "episode_id")
  }

  val queries: Seq[GraftQuery] =
    Seq(vlEligible, tptCourse, highValue, dualLatest, asofJoin,
      sessionizeBatch, rangeJoin, ahd, hvl, episode)

  /** Window-parameterized report twins — the reference's
    * COALESCE(REPORT_END_DATE, CURDATE()) surface (CURDATE ×6, e.g.
    * Tx_Curr_AHD_LineList.sql:115) for every report whose logic
    * depends on the window end. Each registered query above is its
    * builder evaluated at the fixed oracle window; ExportMain feeds
    * these the window derived from the configured (or current)
    * Ethiopian month. Three configured reports read the whole history
    * and have no twin: q_ll_course (deliberately: a course pairs a
    * client's first start with the last completion ever seen),
    * q_pivot_agg (registered and oracle-checked as per-client flags
    * over all events, so a window cut would not equal it at the oracle
    * end) and q_range_join (the generic interval join, not a dated
    * report).
    */
  val asOf: Map[String, (SparkSession, String, java.time.LocalDate) => DataFrame] = Map(
    "q_line_list" -> ((s, d, e) => Relational.lineListAsOf(s, d, e)),
    "q_ll_eligible" -> ((s, d, e) => eligibleBuild(s, d, e.toString)),
    "q_ll_threshold" -> ((s, d, e) => thresholdBuild(s, d, e.toString)),
    "q_ll_dual_latest" -> ((s, d, e) => dualLatestBuild(s, d, e.toString)),
    "q_ll_ahd" -> ((s, d, e) => ahdBuild(s, d, e.toString)),
    "q_ll_hvl" -> ((s, d, e) => hvlBuild(s, d, e.toString)),
    "q_ll_episode" -> ((s, d, e) => episodeBuild(s, d, e.toString)),
    "q_outcome_summary" -> ((s, d, e) => Relational.outcomeSummaryBuild(s, d, e.toString)))
}
