package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution: one wall-clock
  * reading at start-up, advanced by the monotonic clock. Spark's listener
  * events carry epoch milliseconds, so spans and jobs share one time axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory record of one run. Every record is one JSON object; nothing
  * is written until [[writeTo]] at the end of the run.
  *
  * Untraced, only the harness's own spans are kept (op and pass
  * boundaries: a clock read per boundary). [[attach]] switches tracing on
  * for the rest of the run: a SparkListener for jobs, stages and SQL
  * executions, and a QueryExecutionListener for Catalyst phase times.
  */
final class Recorder {
  private val lines = ArrayBuffer[String]()

  def emit(kind: String, fields: (String, Any)*): Unit = {
    val s = Json.obj(("type" -> kind) +: fields)
    lines.synchronized { lines += s }
  }

  private var tracedFlag = false
  def traced: Boolean = tracedFlag

  def attach(spark: SparkSession): Unit = {
    tracedFlag = true
    spark.sparkContext.addSparkListener(new Listener)
    spark.listenerManager.register(new PhaseListener)
  }

  /** Blocks until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    if (tracedFlag) org.apache.spark.perfbenchshim.Drain(spark.sparkContext)

  def writeTo(path: String): Unit = lines.synchronized {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private final class Listener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Array[Any]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobStart.put(e.jobId, Array(e.time, e.stageIds, exec))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) emit("job", "id" -> e.jobId, "t0" -> s(0), "t1" -> e.time,
        "stages" -> s(1), "exec" -> s(2))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val metrics: Seq[(String, Any)] = if (m == null) Nil else Seq(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_b" -> m.inputMetrics.bytesRead,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      emit("stage", Seq[(String, Any)]("id" -> i.stageId,
        "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks,
        "t0" -> i.submissionTime, "t1" -> i.completionTime) ++ metrics: _*)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        // a file write names its format in the Arguments line of the
        // formatted plan's InsertIntoHadoopFsRelationCommand node
        val args = """\(\d+\) Execute InsertIntoHadoopFsRelationCommand[\s\S]*?Arguments: ([^\n]*)""".r
          .findFirstMatchIn(s.physicalPlanDescription).map(_.group(1).toLowerCase)
        val write = args.map(a => Seq("csv", "parquet", "json", "orc")
          .find(f => a.contains(s", $f,")).getOrElse("file")).getOrElse("")
        emit("sql", "exec" -> s.executionId, "t0" -> s.time, "write" -> write)
      case _ => ()
    }
  }

  private final class PhaseListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map {
        case (name, p) => Seq(name, p.startTimeMs, p.endTimeMs)
      }
      emit("plan", "phases" -> ps)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }
}

/** Just enough JSON for the records: numbers, strings, booleans, options,
  * sequences and nested objects. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
