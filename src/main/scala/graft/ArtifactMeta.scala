package graft

import org.apache.spark.sql.SparkSession

/** Driver-side metadata of on-disk artifacts that stays constant until
  * the files change: parquet footer schemas (every [[Tables]] accessor,
  * the DirCache read-backs, the IvfIndex codes relation) and IvfIndex
  * centroids. Reading one used to cost a driver JOB per call (footer
  * inference, centroid collect) — at sf scale the per-job fixed cost is
  * the query's wall, and these artifacts are immutable between writes.
  * Values live in driver heap (schemas are bytes, centroids ≤ maxCells
  * × dim floats), not Spark storage, so [[SessionCaches]] does not
  * govern them.
  *
  * Keyed on (kind, session-conf discriminator, path). The discriminator
  * is the calling session's explicitly set parquet-reader confs, so a
  * session that infers differently (inferTimestampNTZ, binaryAsString,
  * nanosAsLong, …) is never served a schema inferred under another's.
  *
  * Staleness: each entry stores the [[signature]] of its files and
  * reloads when the current listing differs — one driver-side
  * listStatus per call, no job, and it sees rewrites from this or any
  * other JVM. The signature relies on one invariant: every Spark write
  * names its part files with a fresh job UUID, so an overwrite in place
  * changes the name list even when lengths and mtimes collide (two
  * IvfIndex builds into one dir always differ — spec-pinned). A corpus
  * FLIP between directories is a different key entirely (the SoakCheck
  * axis).
  *
  * Bounded at [[MaxEntries]] by evicting the least-recently-used entry
  * (test suites churn fixture dirs; queries touch a handful).
  */
object ArtifactMeta {

  private[graft] val MaxEntries = 64

  // access-ordered: the eldest entry is the least-recently-used one
  private val live =
    new java.util.LinkedHashMap[(String, String, String), (String, AnyRef)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, String), (String, AnyRef)]) =
        size > MaxEntries
    }

  /** Sorted name:length:mtime of every file under `path`; empty when
    * the listing fails.
    */
  private[graft] def signature(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st =>
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(";")
    } catch { case _: java.io.IOException => "" }

  private def confKey(spark: SparkSession): String =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
    }.toSeq.sorted.mkString(";")

  /** The `kind` metadata of `path`, loaded on first use and whenever
    * the signature of `signedBy` (default: `path` itself) changes. When
    * the listing fails nothing is cached and `load` runs — its error is
    * the uncached read's.
    */
  def cached[T <: AnyRef](spark: SparkSession, kind: String, path: String,
      signedBy: String = null)(load: => T): T = {
    val sig = signature(spark, Option(signedBy).getOrElse(path))
    if (sig.isEmpty) load
    else {
      val k = (kind, confKey(spark), path)
      live.synchronized(Option(live.get(k))) match {
        case Some((s, v)) if s == sig => v.asInstanceOf[T]
        case _ =>
          val v = load
          live.synchronized(live.put(k, (sig, v)))
          v
      }
    }
  }
}
