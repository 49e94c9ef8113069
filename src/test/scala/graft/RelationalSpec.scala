package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{LatestPerKey, Relational}
import graft.functions.{EthiopianCalendar => EC}

class RelationalSpec extends SparkSpec {

  /** Aggregation form of latest-per-key: max_by(row, ordering struct),
    * a HashAggregate with map-side partial aggregation. */
  private def latestViaAggregation(df: DataFrame, keys: Seq[String],
      maxOf: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    val ordering = struct(maxOf.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ordering).as("__row"))
      .select(col("__row.*"))
  }

  test("every registered query runs and projects its declared shape") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      assert(df.count() >= 0, name)
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("latest per key picks max ts with id tiebreak") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "2024-01-01 00:00:00", "a"),
      (1L, 11L, "2024-01-02 00:00:00", "b"),
      (1L, 12L, "2024-01-02 00:00:00", "c"), // same ts, higher id wins
      (2L, 20L, "2024-01-01 00:00:00", "d"))
      .toDF("k", "id", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = LatestPerKey(df, Seq(col("k")), Seq(col("ts").desc, col("id").desc))
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "c", 2L -> "d"))
  }

  test("latest-per-key aggregation form equals window form and partial-aggregates") {
    val ev = Tables(spark, sf).events
    val win = LatestPerKey(ev, Seq(col("user_id")),
        Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = latestViaAggregation(ev, Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id")
    agg.collect()
    assert(agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == win)
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") || plan.contains("partial_"),
      "expected map-side partial aggregation:\n" + plan)
  }

  test("ethiopian Column conversion agrees with scalar conversion") {
    import spark.implicits._
    val dates = Seq("1995-06-15", "2000-01-01", "2023-09-12", "2024-01-21")
    val got = dates.toDF("d")
      .select(EC.ethiopianDMY(col("d")).as("ec")).as[String].collect()
    val want = dates.map { s =>
      val (y, m, dd) = EC.toEthiopian(java.time.LocalDate.parse(s))
      s"$dd/$m/$y"
    }
    assert(got.toSeq == want)
  }

  test("plans keep filters on the scan and broadcast dims") {
    val plan = Relational.lineListEntry(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dim joins should broadcast")
  }

  test("outcome matrix buckets TI/New/status cells like the reference block") {
    // window = [2024-01-08, 2024-01-21]; one user per cell + two excluded
    import spark.implicits._
    def ev(id: Long, user: Long, day: Int, typ: String) =
      (id, user, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), typ)
    val events = Seq(
      // traced_back (NTI, E, 5): errored out pre-window, active again
      ev(1, 1, 5, "error"), ev(2, 1, 10, "view"),
      // restarts (NTI, E, 6): re-registration is the latest status
      ev(3, 2, 5, "error"), ev(4, 2, 9, "view"), ev(5, 2, 15, "signup"),
      // transfer_ins (TI, E, 5): first in-window event is a registration
      ev(6, 3, 5, "error"), ev(7, 3, 10, "signup"), ev(8, 3, 12, "view"),
      // new_clients (NTI, N, 5): first-ever event inside the window
      ev(9, 4, 10, "view"),
      // excluded: already active at window start
      ev(10, 5, 5, "view"), ev(11, 5, 10, "view"),
      // excluded: latest status is not in the active set
      ev(12, 6, 20, "error"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val row = Relational.outcomeMatrixOf(events, "2024-01-08", "2024-01-21")
      .head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((1L, 1L, 1L, 1L)),
      s"traced_back/restarts/transfer_ins/new_clients: $row")
  }

  test("outcome deduction buckets lapsed and exited clients like the reference block") {
    // window = [2024-01-08, 2024-01-21]; active-before = status 5/6
    // within 7 days of start-1
    import spark.implicits._
    def ev(id: Long, user: Long, day: Int, typ: String) =
      (id, user, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), typ)
    val events = Seq(
      // tos: active before, latest is a transfer-out (purchase)
      ev(1, 1, 5, "view"), ev(2, 1, 15, "purchase"),
      // losts: active before, latest is LTFU (click)
      ev(3, 2, 6, "view"), ev(4, 2, 16, "click"),
      // deads: active before, latest is error
      ev(5, 3, 5, "signup"), ev(6, 3, 18, "error"),
      // not_updated: still Alive by status but coverage lapsed
      // (latest view on day 10; 10 + 7 < 21)
      ev(7, 4, 6, "view"), ev(8, 4, 10, "view"),
      // excluded: active before AND still active at end (view day 20)
      ev(9, 5, 5, "view"), ev(10, 5, 20, "view"),
      // excluded: not active before (pre-window status is error)
      ev(11, 6, 5, "error"), ev(12, 6, 15, "click"),
      // excluded: pre-window activity too old (day 1 + 7 < start-1=day 7)
      ev(13, 7, 1, "view").copy(_3 = java.sql.Timestamp.valueOf("2023-12-20 12:00:00")),
      ev(14, 7, 15, "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val row = Relational.outcomeDeductOf(events, "2024-01-08", "2024-01-21")
      .head()
    val got = (0 until 6).map(row.getLong)
    assert(got == Seq(1L, 0L, 1L, 0L, 1L, 1L),
      s"tos/stops/losts/drops/deads/not_updated: $got")
  }
}
