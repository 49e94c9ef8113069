package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date arithmetic with the exact semantics the reference queries use
  * (MySQL TIMESTAMPDIFF / PERIOD_DIFF / DATE_ADD — see
  * /root/reference/sql_queries/Tx_Curr_LineList.sql:85,93,150), expressed
  * as pure Column arithmetic so everything stays inside whole-stage
  * codegen and is mirrorable 1:1 in ANSI SQL for the oracle.
  */
object DateFns {

  /** MySQL TIMESTAMPDIFF(DAY, a, b): whole days from a to b. */
  def daysBetween(a: Column, b: Column): Column =
    datediff(b.cast("date"), a.cast("date"))

  /** MySQL TIMESTAMPDIFF(YEAR, a, b): complete years from a to b
    * (calendar-aware: year delta minus one if b's month/day precedes
    * a's). This is NOT DuckDB date_diff('year', …) which counts
    * boundary crossings — the explicit formula is mirrored in the
    * oracle SQL.
    */
  def yearsBetween(a: Column, b: Column): Column = {
    val ad = a.cast("date"); val bd = b.cast("date")
    (year(bd) - year(ad) -
      when(month(bd) < month(ad) ||
        (month(bd) === month(ad) && dayofmonth(bd) < dayofmonth(ad)), 1)
        .otherwise(0)).cast("int")
  }

  /** MySQL PERIOD_DIFF(date_format(b,'%Y%m'), date_format(a,'%Y%m')):
    * month-index difference, day-of-month ignored.
    */
  def periodDiff(b: Column, a: Column): Column = {
    val ad = a.cast("date"); val bd = b.cast("date")
    ((year(bd) * 12 + month(bd)) - (year(ad) * 12 + month(ad))).cast("int")
  }

  /** MySQL TIMESTAMPDIFF(MONTH, a, b): COMPLETE months from a to b —
    * month-index diff adjusted toward zero when b's day-of-month has
    * not yet reached a's (33 uses across the reference, e.g.
    * Tx_Curr_HVL_LineList.sql, Tx_Curr_VLEligibleNew_LineList.sql).
    * NOT the same as [[periodDiff]], which ignores day-of-month.
    * Sign-aware: reversed arguments negate (MySQL behavior).
    */
  def monthsBetween(a: Column, b: Column): Column = {
    val ad = a.cast("date"); val bd = b.cast("date")
    val m = (year(bd) * 12 + month(bd)) - (year(ad) * 12 + month(ad))
    when(m > 0 && dayofmonth(bd) < dayofmonth(ad), m - 1)
      .when(m < 0 && dayofmonth(bd) > dayofmonth(ad), m + 1)
      .otherwise(m).cast("int")
  }

  /** MySQL TIMESTAMPDIFF(WEEK, a, b): complete weeks = days/7
    * truncated toward zero (5 uses, Tx_Curr_AHD_LineList.sql).
    */
  def weeksBetween(a: Column, b: Column): Column =
    (daysBetween(a, b) / lit(7)).cast("int")

  /** MySQL DATE_ADD(a, INTERVAL n DAY). */
  def addDays(a: Column, n: Int): Column = date_add(a.cast("date"), n)
}
