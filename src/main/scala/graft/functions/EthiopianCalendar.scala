package graft.functions

import java.time.LocalDate
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Gregorian ↔ Ethiopian calendar conversion.
  *
  * The reference renders every date column through a MySQL UDF
  * `fn_gregorian_to_ethiopian_calendar(date,'D/M/Y')` (used 19× across
  * /root/reference/sql_queries, e.g. Tx_Curr_LineList.sql:94) and picks
  * its report window in Ethiopian months (/root/reference/export.py:360-375).
  *
  * Implemented with the public Beyene–Kudlek Julian-Day-Number
  * arithmetic (docs.google "The Ethiopian Calendar" / Amete Mihret era
  * JDN offset 1723856). The Column form is pure integer arithmetic on
  * top of `datediff` — no UDF, fully whole-stage-codegen'd, and exactly
  * mirrorable in the DuckDB oracle SQL.
  */
object EthiopianCalendar {

  /** JDN of the day before 1/1/1 Amete Mihret. */
  val EpochJdn = 1723856L
  /** JDN of 1970-01-01 (unix epoch). */
  val UnixEpochJdn = 2440588L

  // ---------------------------------------------------------------- Column

  /** Julian Day Number of a date/timestamp column. */
  def jdn(c: Column): Column =
    (datediff(c.cast("date"), to_date(lit("1970-01-01"))) + lit(UnixEpochJdn)).cast("long")

  private def ethFields(c: Column): (Column, Column, Column) = {
    val off = jdn(c) - lit(EpochJdn)         // days since AM epoch, > 0 for all modern dates
    val r = off % 1461                       // position in 4-year cycle (3×365 + 366)
    val n = r % 365 + lit(365) * floor(r / 1460) // day-of-year 0..365 (365 = Pagume 6)
    val yearE = lit(4) * floor(off / 1461) + floor(r / 365) - floor(r / 1460)
    val monthE = floor(n / 30) + 1
    val dayE = n % 30 + 1
    (yearE.cast("int"), monthE.cast("int"), dayE.cast("int"))
  }

  /** Render as the reference's 'D/M/Y' format; null-safe like the
    * MySQL function (null date → null string).
    */
  def ethiopianDMY(c: Column): Column = {
    val (y, m, d) = ethFields(c)
    concat(d.cast("string"), lit("/"), m.cast("string"), lit("/"), y.cast("string"))
  }

  // ---------------------------------------------------------------- Scala

  /** Gregorian LocalDate → (ethYear, ethMonth 1..13, ethDay 1..30). */
  def toEthiopian(d: LocalDate): (Int, Int, Int) = {
    val j = d.toEpochDay + UnixEpochJdn
    val off = j - EpochJdn
    val r = off % 1461
    val n = r % 365 + 365 * (r / 1460)
    val y = 4 * (off / 1461) + r / 365 - r / 1460
    ((y).toInt, (n / 30 + 1).toInt, (n % 30 + 1).toInt)
  }

  /** Ethiopian y/m/d → Gregorian LocalDate (inverse of toEthiopian). */
  def toGregorian(y: Int, m: Int, d: Int): LocalDate = {
    val j = EpochJdn + 365L + 365L * (y - 1) + (y / 4) + 30L * (m - 1) + (d - 1)
    LocalDate.ofEpochDay(j - UnixEpochJdn)
  }

  /** The reference's report window (export.py:360-375): for Ethiopian
    * (month, year) the window is [21st of previous Ethiopian month,
    * 20th of the selected month], both as Gregorian dates. Month 1
    * (Meskerem) wraps to Pagume (13) of the previous year.
    */
  def reportWindow(ethMonth: Int, ethYear: Int): (LocalDate, LocalDate) = {
    val end = toGregorian(ethYear, ethMonth, 20)
    val start =
      if (ethMonth == 1) toGregorian(ethYear - 1, 13, 21)
      else toGregorian(ethYear, ethMonth - 1, 21)
    (start, end)
  }

  /** DuckDB SQL fragment computing the same 'D/M/Y' string for a date
    * expression — used to build oracle SQL that mirrors
    * [[ethiopianDMY]] exactly (integer floor-div `//` on positive
    * operands matches Column `floor`).
    */
  def duckdbDMY(expr: String): String = {
    val j = s"(date_diff('day', DATE '1970-01-01', CAST($expr AS DATE)) + $UnixEpochJdn)"
    val off = s"($j - $EpochJdn)"
    val r = s"($off % 1461)"
    val n = s"(($r % 365) + 365 * ($r // 1460))"
    val y = s"(4 * ($off // 1461) + $r // 365 - $r // 1460)"
    val m = s"(($n // 30) + 1)"
    val d = s"(($n % 30) + 1)"
    s"CAST($d AS VARCHAR) || '/' || CAST($m AS VARCHAR) || '/' || CAST($y AS VARCHAR)"
  }
}
