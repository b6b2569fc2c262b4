package graft.time

import java.time.{Clock, LocalDate}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date/timestamp normalization layer (SURVEY.md §2.7 F3-F11).
  *
  * Column-level functions are built-ins (codegen'd).
  */
object TimeNorm {

  /** F7 — epoch millis → `"yyyyMMdd"` day string (UTC). The reference's
    * `yyy` pattern quirk truncates identically for 4-digit years; its own
    * tests pin 8-digit output (reference: SyncPingConversion.scala:546). */
  def epochMillisToDay(c: Column): Column =
    date_format(timestamp_millis(c.cast("long")), "yyyyMMdd")

  /** F6 — session-start ISO string (with offset) → epoch millis. The
    * no-format default uses Spark's ISO parser (variable fraction digits,
    * any legal offset); `unix_millis` keeps sub-second precision, which
    * `unix_timestamp * 1000` truncated away. */
  def isoToEpochMillis(c: Column): Column = unix_millis(to_timestamp(c))

  /** F6 with an explicit parse pattern (single-digit-fraction inputs). */
  def isoToEpochMillis(c: Column, fmt: String): Column =
    unix_millis(to_timestamp(c, fmt))

  /** F10-variant with a cross-engine-checkable hash: first 8 md5 hex chars
    * as an int, mod numBlocks (same distribution properties as crc32). */
  def md5Block(c: Column, numBlocks: Int): Column =
    conv(substring(md5(encode(c, "UTF-8")), 1, 8), 16, 10).cast("long") % numBlocks

  /** F8 — inclusive `yyyyMMdd` day range; default `to` = yesterday.
    * Driver-side job orchestration, injectable clock for tests.
    * Reference: views/BatchJobBase.scala:29-38. */
  def datesBetween(from: String, to: Option[String] = None,
                   clock: Clock = Clock.systemUTC()): Seq[String] = {
    val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
    val start = LocalDate.parse(from, fmt)
    val end = to.map(LocalDate.parse(_, fmt)).getOrElse(LocalDate.now(clock).minusDays(1))
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).map(_.format(fmt)).toSeq
  }

  /** F9 — UTC yesterday as `yyyyMMdd`. Reference: utils/package.scala:145-147. */
  def yesterdayAsYYYYMMDD(clock: Clock = Clock.systemUTC()): String =
    LocalDate.now(clock).minusDays(1).format(DateTimeFormatter.ofPattern("yyyyMMdd"))
}
