package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one Spark session, one workload, one client.
  *
  *   perfbench.Main workload=<name> data=<dir> work=<dir> seconds=<s>
  *     trace=<0|1> cores=<n> seed=<n> [workload options]
  *
  * Runs the workload's set-up and one untimed warm pass, then timed
  * passes until `seconds` have elapsed (always at least one; a pass is
  * never cut).
  * With trace=1 Spark's listeners are attached for the timed passes. Every
  * record goes to `<work>/records.jsonl` at the end; perfbench/run.py
  * turns the records into metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"expected key=value, got '$s'")
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val rec = new Recorder

    val t0 = Clock.now()
    val spark = graft.GraftSession.local(a("cores").toInt, "perfbench")
    rec.emit("span", "name" -> "session", "t0" -> t0, "t1" -> Clock.now())

    val w: Workload = a("workload") match {
      case "export_month" => new ExportMonth(spark, a("data"), work)
      case "stream_intake" => new StreamIntake(spark, a("data"), work,
        a("batch").toInt, a("seed").toLong)
      case other => sys.error(s"unknown workload '$other'")
    }
    val r = new Runner(spark, rec)
    def span(name: String)(body: => Unit): Unit = {
      val s = Clock.now()
      body
      rec.emit("span", "name" -> name, "t0" -> s, "t1" -> Clock.now())
    }
    span("prepare")(w.prepare(rec))
    span("warm") { r.pass = -1; w.pass(r) }

    if (a("trace") == "1") rec.attach(spark)
    val end = Clock.now() + a("seconds").toDouble * 1000
    var p = 0
    while (p == 0 || Clock.now() < end) {
      r.pass = p
      val s = Clock.now()
      w.pass(r)
      rec.emit("pass", "pass" -> p, "t0" -> s, "t1" -> Clock.now(),
        "traced" -> rec.traced)
      p += 1
    }
    rec.drain(spark)
    span("check")(w.check(rec))
    rec.writeTo(s"$work/records.jsonl")
    spark.stop()
  }

  /** Order-independent fingerprint of a frame's rows: row count plus the
    * xor and the modular sum of a 64-bit hash over every column. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000000007L))))
      .head()
    s"${row.getLong(0)}:${row.get(1)}:${row.get(2)}"
  }
}

/** Times the ops of a pass. An op is a builder call (may be empty) and an
  * action; a throw in either marks the op failed. Work between ops
  * (cache clearing, query start and stop) is recorded as `house` spans,
  * so op and house spans together tile the pass.
  */
final class Runner(spark: SparkSession, rec: Recorder) {
  var pass: Int = -1

  def op[T](name: String)(build: => T)(action: T => Any): Unit = {
    val t0 = Clock.now()
    var tb = t0
    var ok = true
    var err: String = null
    var out: Any = null
    try {
      val built = build
      tb = Clock.now()
      out = action(built)
    } catch {
      case e: Throwable =>
        ok = false
        err = (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")).take(300)
        if (tb == t0) tb = Clock.now()
    }
    val t1 = Clock.now()
    rec.emit("op", "pass" -> pass, "name" -> name, "t0" -> t0, "tb" -> tb,
      "t1" -> t1, "ok" -> ok, "err" -> err, "out" -> out)
    if (rec.traced) house("probe") {
      val sc = spark.sparkContext
      val info = sc.getRDDStorageInfo
      rec.emit("storage", "pass" -> pass, "mem_b" -> info.map(_.memSize).sum,
        "persisted" -> sc.getPersistentRDDs.size)
    }
  }

  def house(name: String)(body: => Unit): Unit = {
    val t0 = Clock.now()
    body
    rec.emit("house", "pass" -> pass, "name" -> name, "t0" -> t0, "t1" -> Clock.now())
  }
}

trait Workload {
  /** Set-up beyond the session: anything derived from the inputs. */
  def prepare(rec: Recorder): Unit = ()
  /** One pass; `r.pass` is negative for the untimed warm pass. */
  def pass(r: Runner): Unit
  /** Untimed checks that need the JVM; their results become records. */
  def check(rec: Recorder): Unit = ()
}
