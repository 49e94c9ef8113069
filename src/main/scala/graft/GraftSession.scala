package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the tuning every graft job wants.
  *
  * Scale notes (designed for a ~1000-executor cluster, tested on
  * local[N]): AQE handles runtime coalescing + skew-join splitting;
  * a modest autoBroadcastJoinThreshold keeps dimension tables
  * (region/nation/supplier/part) on the broadcast path so fact-side
  * scans never shuffle for star joins.
  *
  * Generated code: Spark compiles each distinct generated class once
  * and keeps it in a JVM-wide LRU that Spark owns, beside graft's two
  * session caches (`SessionCaches` frames, `DirCache` directories).
  * One export package generates 160 distinct classes, more than
  * Spark's default room of 100, so [[tune]] sizes it to
  * [[CodegenCacheEntries]]. The bound is a static conf: only the
  * session that creates the JVM's SparkContext sets it, and a later
  * builder's value is ignored. The gain is for warm work in a
  * long-lived driver (a loop of packages, the test JVM); a one-shot
  * `ExportMain` still compiles its 160 classes once.
  */
object GraftSession {

  /** Room in Spark's generated-class cache: about 6 export packages'
    * working sets. */
  val CodegenCacheEntries = 1024

  /** Apply graft tuning to an existing builder (used by Verify/Bench
    * which own master/partitions settings).
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // ObjectHashAggregate (every TypedImperativeAggregate: the
    // BoundedTopK ANN/label-prop/kNN scans, inverted-index postings)
    // falls back to SORT-BASED aggregation after this many in-memory
    // groups — the default 128 means every bounded-heap candidate
    // scan degenerates into a full per-task sort of the candidate
    // rows. Heap buffers are small by construction (k+margin
    // entries), so 128k groups stay tens of MB per task. Same-session
    // A/B at the 64× blow-up (threshold 128 vs this value):
    // d_ann_topk 15.4 → 6.4 s, d_knn_graph 19.4 → 14.7 s,
    // d_inverted_index 6.2 → 5.4 s.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "131072")
    // Spark's JVM-wide LRU of compiled generated classes holds 100 by
    // default. One export package generates 160 distinct classes
    // (0.92 MB of source, 0.75 MB of bytecode, 2.16 s of Janino), so
    // packages run in a loop evicted each class before its next use
    // and every warm package recompiled 147 of them. At 1024 (about 6
    // packages, ~11 MB of source and bytecode when full) a warm
    // package compiles none: five packages in one JVM compiled
    // 160/147/147/147/147 classes before, 160/0/0/0/0 after.
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    // events.parquet's ts may be TIMESTAMP(NANOS), which the parquet
    // reader rejects without this; it reads it as raw nanos instead
    // (Tables.events converts). Session-wide because the reader reads
    // the conf again at execution time.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4, app: String = "graft"): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
