package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-executor spill distribution of the CC dedup family under
  * `local-cluster` — the §17.2 residual measured instead of asserted.
  * The 8192lin octave named its ~0.2× excess over 2.0×/octave as
  * SINGLE-BOX spill IO (29.2 GB of external-sort spill through one
  * disk); the standard-Spark claim is that executors spill to their
  * OWN block-manager dirs, so a real deployment divides that IO by
  * the executor count. This drive runs d_dedup_corpus on a blow-up
  * dir across separate executor JVMs (real RPC shuffle, per-executor
  * memory managers) and reports each executor's disk/memory spill,
  * shuffle write, and task time from the task-end metrics — the
  * distribution itself, not an analogy.
  *
  * Pass criterion: when total disk spill is material (> 256 MB),
  * every executor must carry a non-trivial share (> 10%) — spill
  * concentrating on one executor would mean the plan serializes its
  * heavy stages (the single-task traps this repo profiles for), not
  * that the capacity story scales.
  *
  * Usage: SpillCheck <blowUpDir> [shufflePartitions=512] [executors=2]
  *   (SPARK_SCALA_VERSION=2.13 required — the local-cluster
  *   executor launcher cannot infer it from a release layout)
  * The executors axis is the claim's own dimension: per-executor
  * spill at a fixed octave should ≈ halve going 2 → 4.
  */
object SpillCheck {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: SpillCheck <blowUpDir> [shufflePartitions] [executors]")
    val dir = args(0)
    val parts = args.lift(1).getOrElse("512")
    val nExec = args.lift(2).map(_.toInt).getOrElse(2)
    // default 2 executors × 4 cores × 4.5 GB — per-executor memory well under
    // the single-JVM 8 GB octave runs, so the same octave spills at
    // least as hard here; the question is WHERE the bytes land.
    // spark.executor.memory must be set EXPLICITLY: local-cluster's
    // third parameter is the WORKER's capacity, and executors default
    // to 1 GB inside it (measured: 2048lin tasks OOM'd the 1 GB
    // default and the app died after 61 relaunches)
    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local-cluster[$nExec,4,4608]")
        .appName("graft-spill-check")
        .config("spark.executor.memory", "4g")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", ClusterCheck.AddOpens)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // reliable checkpoint dir: DedupPipeline.barrier switches from
    // localCheckpoint to checkpoint() when one is configured (the
    // ClusterCheck rule — executor-local checkpoints don't survive
    // separate-JVM scheduling)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    // the drive can throw (the concentration gate, an OOM at the
    // octave) — the blow-up-scale CC-label checkpoint dir and the
    // session must be reclaimed on EVERY exit path (ADVICE r11)
    try {

      case class Acc(var tasks: Long = 0L, var taskMs: Long = 0L,
        var diskSpill: Long = 0L, var memSpill: Long = 0L,
        var shufWrite: Long = 0L, var input: Long = 0L)
      val perExec = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) {
              val a = perExec.computeIfAbsent(te.taskInfo.executorId,
                _ => Acc())
              a.synchronized {
                a.tasks += 1
                a.taskMs += te.taskInfo.duration
                a.diskSpill += m.diskBytesSpilled
                a.memSpill += m.memoryBytesSpilled
                a.shufWrite += m.shuffleWriteMetrics.bytesWritten
                a.input += m.inputMetrics.bytesRead
              }
            }
          }
        })

      println(s"[spill] master=${spark.sparkContext.master}" +
        s" partitions=$parts dir=$dir")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("d_dedup_corpus")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[spill] d_dedup_corpus completed in $wall%.1f s")

      import scala.jdk.CollectionConverters._
      val rows = perExec.asScala.toSeq.sortBy(_._1)
      def gb(v: Long) = f"${v / 1e9}%8.2f GB"
      rows.foreach { case (eid, a) =>
        println(f"[spill] executor $eid%-6s tasks ${a.tasks}%6d" +
          f" taskTime ${a.taskMs / 1e3}%8.1f s  diskSpill ${gb(a.diskSpill)}" +
          f"  memSpill ${gb(a.memSpill)}  shufWrite ${gb(a.shufWrite)}" +
          f"  input ${gb(a.input)}")
      }
      val totalDisk = rows.map(_._2.diskSpill).sum
      val totalShuf = rows.map(_._2.shufWrite).sum
      println(f"[spill] total diskSpill ${gb(totalDisk)} shufWrite ${gb(totalShuf)}" +
        s" across ${rows.size} executor ids")
      if (totalDisk > 256L * 1024 * 1024) {
        val shares = rows.map(r => r._2.diskSpill.toDouble / totalDisk)
        println("[spill] disk-spill shares: " +
          shares.map(s => f"$s%.2f").mkString(", "))
        // relaunch-aware gate (ADVICE r10): a mid-run executor death —
        // the exact regime this tool probes — splits one JVM slot's
        // spill across two executor IDS, so requiring every id to carry
        // > 10% would false-fail a healthy distribution. The failure
        // mode the tool exists to catch is CONCENTRATION (a serialized
        // heavy stage puts ~all spill through one executor), so the
        // gate is an upper bound on the max share; relaunches are
        // reported so a split-id run reads as what it is.
        if (rows.size > nExec)
          println(s"[spill] note: ${rows.size - nExec} executor relaunch(es)" +
            " — one slot's spill may be split across ids")
        require(rows.size >= 2 && shares.max <= 0.90,
          s"spill concentrated: shares=${shares.mkString(",")} — " +
            "a serialized heavy stage, not distributable capacity")
        println("[spill] PASS: material spill distributes across executors")
      } else
        println("[spill] spill below the 256 MB floor at this octave — " +
          "re-run at a higher factor for a material measurement")
    } finally {
      spark.stop()
      // the reliable-checkpoint dir holds a full CC-label frame at
      // blow-up scale — delete it on the way out (ADVICE r10)
      import java.nio.file.{Files, Paths}
      import java.util.Comparator
      Files.walk(Paths.get(ckpt)).sorted(Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
