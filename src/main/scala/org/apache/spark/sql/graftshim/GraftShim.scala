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

  /** The frame's result rows, planned on the calling thread: analysis,
    * optimization, planning and AQE's broadcast and shuffle stage jobs
    * all run here, inside one SQL execution named `name`, so its
    * Catalyst phases and stage jobs stay visible to listeners. Only
    * the final stage is left; whoever runs the returned RDD runs it.
    */
  def plannedRows(df: org.apache.spark.sql.Dataset[_],
      name: String): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd)
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
