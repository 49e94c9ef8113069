package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._
import graft.operators.RangeJoin

class RangeJoinSpec extends SparkSpec with Eventually {

  test("bucketized range join equals naive range predicate join") {
    val ev = Tables(spark, sf).events
    val iv = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 45 MINUTES")).as("end_ts"))
    val left = ev.select("event_id", "ts")

    val naive = left.join(iv,
        col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket width deliberately NOT a divisor/multiple of the interval
    val bucketed = RangeJoin.pointInInterval(left, "ts", iv,
        "start_ts", "end_ts", bucketSeconds = 700)
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(bucketed == naive)
  }

  test("sub-second interval ends keep final-second points (end-bucket fix)") {
    // interval [0.5s, 1800.5s), point at 1800.4s epoch: with the old
    // floor((end-1)/w) bucketing the point's bucket (1) was past the
    // interval's last bucket (0) and the match was silently dropped
    import spark.implicits._
    val iv = Seq((1L, "1970-01-01 00:00:00.5", "1970-01-01 00:30:00.5"))
      .toDF("iv_id", "s", "e")
      .select(col("iv_id"), col("s").cast("timestamp").as("start_ts"),
        col("e").cast("timestamp").as("end_ts"))
    val pts = Seq((10L, "1970-01-01 00:30:00.4"), (11L, "1970-01-01 00:30:00.6"))
      .toDF("event_id", "p")
      .select(col("event_id"), col("p").cast("timestamp").as("ts"))
    val got = RangeJoin.pointInInterval(pts, "ts", iv, "start_ts", "end_ts",
        bucketSeconds = 1800)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(10L)) // 1800.4 in [0.5, 1800.5); 1800.6 is not
  }

  test("auto-derived width and salted variant both equal the naive join") {
    val ev = Tables(spark, sf).events
    val iv = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 45 MINUTES")).as("end_ts"))
    val left = ev.select("event_id", "ts")
    val naive = left.join(iv,
        col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = RangeJoin.pointInInterval(left, "ts", iv, "start_ts", "end_ts")
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = RangeJoin.pointInInterval(left, "ts", iv, "start_ts", "end_ts",
        bucketSeconds = 700, nSalts = 4)
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == naive)
    assert(salted == naive)
  }

  test("equi-key variant restricts matches per key") {
    val ev = Tables(spark, sf).events
    val iv = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("user_id"),
        col("ts").as("start_ts"), (col("ts") + expr("INTERVAL 45 MINUTES")).as("end_ts"))
    val withKey = RangeJoin.pointInInterval(
        ev.select("event_id", "user_id", "ts"), "ts",
        iv, "start_ts", "end_ts", bucketSeconds = 700, alsoOn = Seq("user_id"))
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val global = RangeJoin.pointInInterval(
        ev.select("event_id", "ts"), "ts",
        iv.drop("user_id"), "start_ts", "end_ts", bucketSeconds = 700)
      .select("event_id", "iv_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withKey.subsetOf(global))
    assert(withKey.size < global.size)
  }

  test("building q_range_join starts no job: its 30-minute width is passed, not derived") {
    val sc = spark.sparkContext
    // the descriptions of this test's jobs (its job group) in start
    // order; a marker job ends the record
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == "range-join-build")
          .foreach(p => jobs.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    Tables(spark, sf).events // the parquet schema is read outside the record
    sc.addSparkListener(listener)
    sc.setJobGroup("range-join-build", "build marker")
    val built = try {
      val df = SparkEntry.queries("q_range_join")(spark, sf)
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(30.seconds))(assert(jobs.contains("build marker")))
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.asScala.toSeq == Seq("build marker"), s"building q_range_join ran jobs: $jobs")
    // the same rows as the width derived from the intervals' median
    val ev = Tables(spark, sf).events
    val iv = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
    assert(RangeJoin.autoBucketSeconds(iv, "start_ts", "end_ts") == 30 * 60)
    val auto = RangeJoin.pointInInterval(ev.select("event_id", "ts"), "ts",
        iv, "start_ts", "end_ts")
      .select("event_id", "iv_id").orderBy("event_id", "iv_id")
    assert(built.collect().toSeq == auto.collect().toSeq)
  }
}
