package graft.time

import java.time.{Clock, LocalDate, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date/timestamp normalization layer (SURVEY.md §2.7 F3-F11).
  *
  * Column-level functions are built-ins wherever possible (codegen'd);
  * only the timezone-wrapping ISO normalizer needs JVM logic (a UDF —
  * the wrap rule has no Catalyst equivalent).
  */
object TimeNorm {

  private val isoOut = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx")

  /** F3 — normalize an ISO-8601 offset timestamp, WRAPPING out-of-range
    * zone offsets into [-12:00, +14:00] by ±12h steps while preserving the
    * instant. (Reference: src/main/scala/com/mozilla/telemetry/utils/package.scala:100-120 —
    * Presto compatibility for offsets beyond the legal range.)
    */
  def normalizeISOTimestampJvm(s: String): String = {
    val odt = OffsetDateTime.parse(s, DateTimeFormatter.ISO_OFFSET_DATE_TIME)
    var seconds = odt.getOffset.getTotalSeconds
    while (seconds < -12 * 3600) seconds += 12 * 3600
    while (seconds > 14 * 3600) seconds -= 12 * 3600
    odt.withOffsetSameInstant(ZoneOffset.ofTotalSeconds(seconds)).format(isoOut)
  }

  /** F3 as a Column (UDF — inherently JVM logic). Unparseable input →
    * null (the file's lenient-coercion discipline — one malformed record
    * must not abort a 100 TB job after task retries). */
  val normalizeISOTimestamp: Column => Column = {
    val f = udf((s: String) =>
      if (s == null) null
      else scala.util.Try(normalizeISOTimestampJvm(s)).getOrElse(null))
    c => f(c)
  }

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
