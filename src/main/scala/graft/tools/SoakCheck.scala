package graft.tools

import org.apache.spark.sql.{DataFrame, functions => F}

/** Long-lived-driver soak: every registered query runs on corpus A,
  * then on corpus B (flipping every session-scoped cache — the
  * SessionCaches frame families, the DirCache index dirs and the
  * ArtifactMeta schemas and centroids — to its retirement or
  * staleness path), then on corpus A again, and the
  * two A-runs must checksum bit-identically. This is the staleness
  * class that produced round 6's CacheManager plan-substitution bug
  * (FAILED_READ_FILE on a rebuilt IvfIndex): a cache keyed or retired
  * wrongly reproduces only while the process is fresh, which Verify's
  * one-corpus-per-JVM contract never exercises.
  *
  * Usage: SoakCheck <dirA> <dirB>
  */
object SoakCheck {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SoakCheck <dirA> <dirB>")
    val (dirA, dirB) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus, "graft-soak-check")

    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.select(F.xxhash64(df.columns.map(F.col): _*).as("h"))
        .agg(F.count(F.lit(1)), F.expr("bit_xor(h)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    var bad = 0
    val t0 = System.nanoTime()
    names.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      val a1 = checksum(q(spark, dirA))
      q(spark, dirB).write.format("noop").mode("overwrite").save()
      val a2 = checksum(q(spark, dirA))
      val ok = a1 == a2
      if (!ok) { bad += 1
        println(s"[soak] STALE $name: first $a1, after B-flip $a2")
      }
      Console.flush()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[soak] ${names.size} queries x (A, B, A) in $secs%.0f s; stale: $bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
