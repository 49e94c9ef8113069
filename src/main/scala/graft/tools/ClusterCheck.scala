package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Drive the headline dedup ops under `local-cluster` — real RPC
  * shuffle, separate executor JVMs, real executor LOSS — the one
  * scale dimension `local[N]` cannot exercise (VERDICT r5 #5).
  *
  * Three checks per run:
  *   1. d_dedup_corpus / d_minhash_lsh / d_incr_dedup complete under
  *      local-cluster[2,4,…] with a RELIABLE checkpoint dir set
  *      (DedupPipeline.barrier switches from localCheckpoint to
  *      checkpoint() when one is configured).
  *   2. An executor JVM is KILLED mid-CC-loop (a planted task calls
  *      System.exit on whichever executor runs it — genuine process
  *      death, not a scheduler API call); the standalone worker
  *      relaunches, lost tasks re-run, and the job must complete.
  *   3. The kill-run component labels hash-match the clean run —
  *      executor loss must not change a single label.
  *
  * Usage: ClusterCheck <blowUpDir> [core [execMemMB]]   (needs
  * SPARK_HOME for the standalone worker launcher; executor JVMs get
  * this driver's classpath + the JDK17 add-opens). `core` runs only
  * the headline resilience drive — d_dedup_corpus clean + executor
  * kill + label-checksum equality — with 4 GB executors by default,
  * so the kill claim can be driven at octaves whose tasks OOM the
  * full battery's 1 GB default (local-cluster's bracket parameter
  * is WORKER capacity; executors default to 1 GB inside it — the
  * SpillCheck lesson). SPARK_GRAFT_PARTITIONS scales the shuffle to
  * the blow-up factor (factor/4, the ScaleCheck rule).
  */
object ClusterCheck {

  /** The JDK 17 module opens Spark needs, for executor JVMs that
    * local-cluster launches outside spark-submit (SpillCheck too).
    */
  private[tools] val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ClusterCheck <blowUpDir> [core [execMemMB]]")
    val dir = args(0)
    // args(1) is a mode keyword, not free-form: a typo ("cote") or a
    // misplaced execMemMB here used to be silently ignored while
    // args(2) was still honored — with workerMb stuck at the full
    // battery's default the workers could not launch the bigger
    // executors and the app hung with zero tasks (ADVICE r10)
    val mode = args.lift(1)
    require(mode.forall(_ == "core"),
      s"unknown mode '${mode.getOrElse("")}' — expected 'core' " +
        "(usage: ClusterCheck <blowUpDir> [core [execMemMB]])")
    val core = mode.contains("core")
    val execMb = args.lift(2).map(_.toInt).getOrElse(if (core) 4096 else 1024)
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTITIONS", "32")
    // worker capacity must cover the requested executor size in BOTH
    // modes (local-cluster's bracket parameter is the worker's budget;
    // an executor bigger than it never launches)
    val workerMb = math.max(execMb + 512, 3072)
    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local-cluster[2,4,$workerMb]")
        .appName("graft-cluster-check")
        .config("spark.executor.memory", s"${execMb}m")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", AddOpens)
        .config("spark.ui.enabled", "false")
        // one executor dying must not fail the app. maxFailures alone
        // is not enough: retries of a task lost to a DYING executor
        // can land back on it within milliseconds (the pool rejects
        // them while "Shutting down") and exhaust the budget before
        // the executor deregisters — failure-based EXCLUSION steers
        // retries away after the first rejection
        .config("spark.task.maxFailures", "16")
        .config("spark.stage.maxConsecutiveAttempts", "8")
        .config("spark.excludeOnFailure.enabled", "true")
        .config("spark.excludeOnFailure.task.maxTaskAttemptsPerExecutor", "1")
        .config("spark.excludeOnFailure.stage.maxFailedTasksPerExecutor", "2")
        .config("spark.excludeOnFailure.application.maxFailedTasksPerExecutor", "2"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    println(s"[cluster] master=${spark.sparkContext.master} checkpointDir=$ckpt")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cluster] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      Console.flush()
      r
    }

    /** Order-independent checksum of a frame: count + XOR of row
      * hashes — collect-free, comparable across runs (xor, not sum:
      * a long sum overflows under ANSI mode).
      */
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    def noop(q: String): Unit = time(q) {
      graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }

    /** Runs q twice: the output checksums must match bit-for-bit. */
    def reproducible(q: String): Unit = {
      def run(n: Int) = time(s"$q (run $n)") {
        checksum(graft.SparkEntry.queries(q)(spark, dir))
      }
      val (c1, c2) = (run(1), run(2))
      require(c1 == c2,
        s"$q must be reproducible across cluster runs: $c1 vs $c2")
      println(s"[cluster] $q checksum stable across runs: $c1")
    }

    // ---- 1: plain completion under real RPC shuffle ------------
    val t = graft.Tables(spark, dir)
    val cleanLabels = time("d_dedup_corpus (clean run)") {
      checksum(graft.operators.DedupPipeline.componentsOf(t.documents))
    }
    println(s"[cluster] clean labels checksum: $cleanLabels")
    if (!core) {
      noop("d_minhash_lsh")
      noop("d_incr_dedup")
      // the broadcast-heavy embedding ops: centroids + seed codes must
      // ship over real RPC to separate executor JVMs here, not the
      // in-process shortcut local[N] takes
      noop("d_ann_topk")
      noop("d_label_prop")
      // the partition-ordered deterministic solvers (Classifier IRLS,
      // Pca moment pass): their bit-reproducibility claim must hold
      // under real RPC partitioning too, not just local[N]
      reproducible("d_quality_classifier")
      reproducible("d_embed_pca")
      // textrank's all-integer iteration claims order-independence —
      // that must survive real RPC shuffle partitioning too
      reproducible("d_textrank")
      noop("d_hard_negatives_ivf")
      noop("d_family_keep")
      // perplexity bucketing: the persisted-LM lifecycle (persist →
      // three consumers → release at the checkpoint) plus the
      // all-integer scoring must both hold over real RPC partitioning
      reproducible("d_perplexity_bucket")
      noop("d_margin_align_ivf")
      // round-7 continuation ops: corpus drift's integer L1 claims
      // order-independence, the decontam argmax is a struct MAX over
      // RPC-partitioned partials, and the ledger composes the CC with
      // four flag layers
      Seq("d_corpus_drift", "d_semantic_decontam", "d_curation_ledger")
        .foreach(reproducible)
    }

    // ---- 2+3: kill an executor mid-CC-loop, labels must match --
    val killer = new Thread(() => {
      try {
        Thread.sleep(8000) // let the CC loop get going
        println("[cluster] killing one executor JVM NOW")
        Console.flush()
        // a one-task job that exits whichever executor runs it —
        // REAL process death. Only attempt 0 exits: Spark re-runs
        // the lost task on the surviving executor, and an
        // unconditional exit would cascade through every executor
        // (measured: both died, then the app)
        try {
          spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
            val tc = org.apache.spark.TaskContext.get()
            if (tc == null || tc.attemptNumber() == 0) System.exit(137)
          }
        } catch { case _: Throwable => () } // the job itself may die
      } catch { case _: InterruptedException => () }
    }, "executor-killer")
    killer.setDaemon(true)
    killer.start()
    val killLabels = time("d_dedup_corpus (executor killed mid-run)") {
      checksum(graft.operators.DedupPipeline.componentsOf(t.documents))
    }
    killer.interrupt()
    println(s"[cluster] kill-run labels checksum: $killLabels")
    val ok = cleanLabels == killLabels
    println(s"[cluster] labels identical across executor loss: $ok")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
