package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the tuning every graft job wants.
  *
  * Scale notes (designed for a ~1000-executor cluster, tested on
  * local[N]): AQE handles runtime coalescing + skew-join splitting;
  * a modest autoBroadcastJoinThreshold keeps dimension tables
  * (region/nation/supplier/part) on the broadcast path so fact-side
  * scans never shuffle for star joins.
  */
object GraftSession {

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
