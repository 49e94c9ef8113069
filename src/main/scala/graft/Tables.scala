package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Loaders for the driver-generated parquet tables under a scale
  * factor directory (see TESTDATA.md). Column pruning / predicate
  * pushdown is left to Catalyst — callers select/filter and the
  * parquet scan only reads what survives.
  *
  * A `dir` starting with `jdbc:` routes every table through
  * `spark.read.jdbc` instead — the reference tool's actual source is
  * a SQL database (export.py db_properties), and this makes the whole
  * registered query surface runnable against one unchanged. Connection
  * and scan options come from session conf keys `graft.jdbc.*`
  * (user, password, driver, fetchsize, and the partitioned-read
  * knobs partitionColumn/numPartitions/lowerBound/upperBound — the
  * single-partition default is the classic JDBC-at-scale trap; set
  * them when the fact tables share a numeric key column). Predicate
  * and projection pushdown into the database happen through Spark's
  * JDBC source as usual.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    if (dir.startsWith("jdbc:")) {
      val props = new java.util.Properties()
      Seq("user", "password", "driver").foreach { k =>
        spark.conf.getOption(s"graft.jdbc.$k").foreach(props.setProperty(k, _))
      }
      val reader = spark.read
      Seq("partitionColumn", "numPartitions", "lowerBound", "upperBound",
        "fetchsize").foreach { k =>
        spark.conf.getOption(s"graft.jdbc.$k").foreach(reader.option(k, _))
      }
      reader.jdbc(dir, name, props)
    } else Tables.parquetWithCachedSchema(spark, s"$dir/$name.parquet")

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
    * reader rejects; read it as raw nanos (legacy conf, set here so it
    * works under any session) and convert to a microsecond timestamp
    * with exact integer arithmetic.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {

  /** A parquet read whose footer schema comes from [[ArtifactMeta]]:
    * every `Tables(...)` accessor used to run a footer-inference DRIVER
    * JOB per call — one job-gap per table reference per query
    * construction, which across a 131-query bench sweep (warmup + 2
    * timed drives each) is hundreds of pure-scheduling round-trips
    * against immutable inputs. Shared by the DirCache read-backs.
    */
  private[graft] def parquetWithCachedSchema(spark: SparkSession,
      path: String): DataFrame =
    spark.read.schema(ArtifactMeta.cached(spark, "schema", path)(
      spark.read.parquet(path).schema)).parquet(path)
}
