package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Expression↔Column conversion private[sql]; custom
  * Catalyst expressions still need it. This shim is the single place
  * graft crosses that boundary (same technique public extension
  * libraries use to register native expressions).
  */
object GraftShim {
  /** Spark 4 made AbstractDataType private[sql]; an
    * ImplicitCastInputTypes implementor outside the sql package still
    * needs the type to declare `inputTypes`. Public alias from inside
    * the boundary.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Test support: SparkContext.setCheckpointDir has no public
    * inverse; specs that exercise the reliable-checkpoint mode of the
    * iterative operators need to restore the default afterwards.
    */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None

  /** Accurate in-memory size of a PERSISTED frame once materialized
    * (the InMemoryRelation's measured batch stats), None when the
    * plan is not in the cache manager — the session cache ledger's
    * byte source (estimates only for checkpoint-barrier frames,
    * which carry their origin plan's stats instead).
    */
  def cachedPlanBytes(df: org.apache.spark.sql.Dataset[_]): Option[BigInt] = {
    val d = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    d.sparkSession.sharedState.cacheManager.lookupCachedData(d)
      .map(_.cachedRepresentation.stats.sizeInBytes)
  }

  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Every frame's result rows, planned concurrently in two rounds
    * with a barrier between them, on a pool of min(#frames,
    * `defaultParallelism`) daemon threads named `<threadPrefix>-<n>`,
    * made for this call and shut down before it returns or throws.
    * Round 1 forces each frame's Catalyst phases (analysis,
    * optimization, planning: its `executedPlan`), which run no job.
    * Once every frame's have ended, round 2 runs each frame's AQE stage
    * jobs (broadcasts, shuffle map stages) inside one SQL execution per
    * frame, named `name`, so its phases and jobs stay visible to
    * listeners. The barrier keeps every
    * tracked phase clear of every stage job: a phase that overlapped a
    * job would be counted twice by a trace that adds phases to jobs.
    * Only each frame's final stage is left; whoever runs the returned
    * RDDs runs it.
    *
    * Each task carries the caller's active session, local properties
    * and artifact state (`SQLExecution.withThreadLocalCaptured`). Every
    * task of a round is awaited before the next round starts and before
    * this returns or throws, so no frame is still being planned when it
    * does. A failure rethrows the first in frame order, the later ones
    * attached as suppressed.
    */
  def planAll(spark: org.apache.spark.sql.SparkSession,
      dfs: Seq[org.apache.spark.sql.Dataset[_]], name: String, threadPrefix: String)
      : Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
    val session = classic(spark)
    val qes = dfs.map(_.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution)
    val pool = org.apache.spark.util.ThreadUtils.newDaemonFixedThreadPool(
      math.min(dfs.size, spark.sparkContext.defaultParallelism), threadPrefix)
    def round[T](body: QueryExecution => T): Seq[T] = {
      val futures = qes.map(qe => SQLExecution.withThreadLocalCaptured(session, pool)(body(qe)))
      val results = futures.map { f =>
        try Right(f.get()) catch {
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
          case e: Throwable => Left(e)
        }
      }
      val failures = results.collect { case Left(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
      results.collect { case Right(v) => v }
    }
    // every task has ended once a round returns or throws; the wait is
    // for the idle threads to exit, so none outlives the call
    try {
      round(_.executedPlan)
      round(qe => SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** The check Spark's csv sink makes before it writes a byte: every
    * column type is one the CSV source supports. Throws the error
    * `df.write.csv` throws.
    */
  def checkCsvWritable(schema: org.apache.spark.sql.types.StructType): Unit =
    org.apache.spark.sql.execution.datasources.DataSourceUtils.verifySchema(
      new org.apache.spark.sql.execution.datasources.csv.CSVFileFormat, schema)

  /** The options `df.write.option("header", "true").csv` hands its
    * `CsvOutputWriter`, read under the session's conf (column pruning
    * only matters to reads).
    */
  def csvWriteOptions(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.csv.CSVOptions = {
    val conf = classic(spark).sessionState.conf
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf) {
      new org.apache.spark.sql.catalyst.csv.CSVOptions(
        Map("header" -> "true"), true, conf.sessionLocalTimeZone)
    }
  }

  /** Run `body`'s jobs with the session's SQL conf visible to their
    * tasks, as a SQL execution's jobs see it (what Spark's csv sink
    * formats with, e.g. the time parser policy, is read in the task).
    */
  def withSqlConf[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(classic(spark))(body)

  /** Register a function into a live session's registry (the
    * SparkSessionExtensions path only applies at session build time).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}
