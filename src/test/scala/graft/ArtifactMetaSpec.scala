package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The driver-side artifact metadata cache: conf-discriminated keys,
  * least-recently-used bound, and the fresh-part-name invariant its
  * file signature relies on.
  */
class ArtifactMetaSpec extends SparkSpec {

  /** One-row parquet file with an int64 `ts` of the given logical
    * timestamp type, written with parquet-hadoop directly: a
    * Spark-written file carries its Spark schema in the footer, which
    * wins over the reader confs under test.
    */
  private def writeTs(path: String, unit: String, value: Long): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message m { required int64 ts (TIMESTAMP($unit,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      schema).newGroup().append("ts", value))
    finally w.close()
  }

  test("schema cache keys on the session's parquet-inference conf") {
    val path = Files.createTempDirectory("graft_ntz").resolve("t.parquet").toString
    writeTs(path, "MICROS", 1704164645000000L)
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquetWithCachedSchema(spark, path)
        .schema("ts").dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(Tables.parquetWithCachedSchema(spark, path)
        .schema("ts").dataType == TimestampType,
        "a schema inferred under another conf must not be served")
    } finally spark.conf.unset(key)
  }

  test("Tables.events reads TIMESTAMP(NANOS) exactly and leaves the session conf as it was") {
    val dir = Files.createTempDirectory("graft_nanos")
    writeTs(dir.resolve("events.parquet").toString, "NANOS", 1704164645123456789L)
    // a fresh session off the factory: isolated SQL conf, so no other
    // suite's reads can have set anything on it
    val s = spark.newSession()
    val before = s.conf.getAll
    val micros = Tables(s, dir.toString).events
      .select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts")))
      .head().getLong(0)
    assert(micros == 1704164645123456L, "nanos truncate to the exact microsecond")
    assert(s.conf.getAll == before, "reading events must not write session conf")
  }

  test("past the bound only the least-recently-used entry is evicted") {
    val dir = Files.createTempDirectory("graft_meta_bound")
    Files.writeString(dir.resolve("f"), "x")
    val loads = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def get(kind: String): String =
      ArtifactMeta.cached(spark, kind, dir.toString) {
        loads(kind) += 1; kind
      }
    val kinds = (0 to ArtifactMeta.MaxEntries).map(i => s"bound$i")
    kinds.init.foreach(get) // fills the cache with exactly these
    get(kinds(0)) // touch: bound0 becomes most-recent
    get(kinds.last) // one past the bound: evicts bound1 only
    (kinds.take(1) ++ kinds.drop(2)).foreach(get)
    assert(loads.values.forall(_ == 1), "every other entry still hits")
    get(kinds(1))
    assert(loads(kinds(1)) == 2, "the least-recently-used entry reloads")
  }

  test("two IvfIndex builds into one dir yield different centroid signatures") {
    val emb = Tables(spark, sf).embeddings
    val dir = Files.createTempDirectory("graft_ivf_sig").toString
    def names(sig: String) = sig.split(";").map(_.split(":")(0)).toSet
    graft.sources.IvfIndex.build(emb, dir, nCells = 4)
    val s1 = ArtifactMeta.signature(spark, s"$dir/centroids.parquet")
    graft.sources.IvfIndex.build(emb, dir, nCells = 4)
    val s2 = ArtifactMeta.signature(spark, s"$dir/centroids.parquet")
    assert(s1.nonEmpty && s2.nonEmpty)
    // the part-file NAMES differ, not just lengths or mtimes
    assert(names(s1) != names(s2), s"$s1 vs $s2")
  }
}
