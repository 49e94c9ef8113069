package graft.tools

import org.apache.spark.sql.SaveMode

/** Per-stage wall/task profile of any registered query against any
  * table directory — the generic form of the listener diagnosis that
  * caught the AQE single-task broadcast-direction trap (SURVEY §11).
  * A heavy stage with tasks=1 is the smell: some tiny coalesced
  * shuffle became the streamed side of a join.
  *
  * Usage: StageProfile <tableDir> <query> [query ...]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val queries = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus, "graft-stage-profile")
    // match ScaleCheck's data-scaled partitioning when profiling its
    // blow-up dirs (factor/4 — e.g. 64 at 256×): per-partition volume
    // is load-bearing for the spill-safety comparisons
    sys.env.get("SPARK_GRAFT_PARTITIONS")
      .foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
    // ad-hoc conf overrides for A/B runs: "k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })

    val stages = new scala.collection.mutable.ArrayBuffer[(Int, String, Double, Int)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val info = sc.stageInfo
          val secs = (for {
            s <- info.submissionTime; c <- info.completionTime
          } yield (c - s) / 1e3).getOrElse(0.0)
          // the AQE-stage callsite is an anonymous thread-pool frame;
          // the aggregated byte metrics say what the stage actually
          // does (scan / shuffle-read / shuffle-write volumes)
          val tm = info.taskMetrics
          val what = if (tm == null) "" else {
            // scaled per value: at sf0.1 most stages move well under
            // a megabyte, which a fixed MB column rounds to 0
            def size(v: Long) =
              if (v >= 1000000L) f"${v / 1e6}%.1fMB"
              else if (v >= 1000L) f"${v / 1e3}%.1fKB"
              else s"${v}B"
            s" [in ${size(tm.inputMetrics.bytesRead)}" +
              s" sr ${size(tm.shuffleReadMetrics.totalBytesRead)}" +
              s" sw ${size(tm.shuffleWriteMetrics.bytesWritten)}" +
              s" spill ${size(tm.memoryBytesSpilled + tm.diskBytesSpilled)}]"
          }
          // SQL operator scopes (Exchange / WholeStageCodegen(n) /
          // ObjectHashAggregate...) — the readable answer to "what is
          // this AQE stage" that the thread-pool callsite hides
          val ops = info.rddInfos.flatMap(_.scope).map(_.name).distinct
            .filterNot(_ == "DeserializeToObject").take(6).mkString(", ")
          stages.synchronized {
            stages += ((info.stageId,
              info.name.takeWhile(_ != '(') + what +
                (if (ops.nonEmpty) s" {$ops}" else ""), secs,
              info.numTasks))
          }
        }
      })

    queries.foreach { name =>
      val build = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      spark.catalog.clearCache()
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      build(spark, dir).write.format("noop").mode(SaveMode.Overwrite).save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[stage] $name%-22s ${secs}%8.2f s total")
      // stage-count vs stage-time summary: a wall much larger than the
      // summed stage time with many stages = per-job scheduling /
      // driver overhead (the small-scale fixed-cost signature), not a
      // slow stage
      stages.synchronized {
        val sum = stages.map(_._3).sum
        println(f"[stage]   ${stages.size}%4d stages, summed stage time" +
          f" $sum%.2f s (wall $secs%.2f s)")
      }
      val all = sys.env.get("SPARK_GRAFT_STAGE_ALL").contains("1")
      stages.synchronized {
        stages.sortBy(-_._3).take(if (all) 200 else 8)
          .filter(all || _._3 > 0.3).foreach {
          case (id, n, s, t) =>
            val flag = if (t == 1 && s > 1.0) "  <-- SINGLE TASK" else ""
            println(f"[stage]   ${s}%7.2f s  tasks=$t%-4d stage $id $n$flag")
        }
      }
      Console.flush()
    }
    spark.stop()
  }
}
