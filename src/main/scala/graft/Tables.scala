package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.LongType

/** Parquet table loader over a scale-factor directory
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * Mirrors the reference's path-constructed parquet scans
  * (reference: src/main/scala/com/mozilla/telemetry/views/MainEventsView.scala:52) —
  * reads go through `spark.read.parquet` so Catalyst predicate pushdown,
  * column pruning and partition pruning all apply to every downstream query.
  *
  * NOTE on `events.ts`: the physical type has varied across testdata
  * regenerations — TIMESTAMP(NANOS) (surfaced as a nanos-epoch LongType
  * under `spark.sql.legacy.parquet.nanosAsLong=true`, which is inert on
  * other types) and `timestamp[us]` (surfaced as TIMESTAMP_NTZ). Queries
  * that do epoch arithmetic on `ts` must go through [[tsNanos]], which
  * yields nanos-since-epoch LongType for EITHER physical type; DuckDB
  * oracles use `epoch_ns(ts)`, which likewise works on both. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Nanos-since-epoch view of the timestamp-ish `ts` column, schema-dispatched:
    * LongType passes through (already nanos under nanosAsLong); timestamp
    * variants convert via `unix_micros` (sessions run UTC, so NTZ wall
    * time == instant). A projection expression, not a filter bound — for
    * pushdown-friendly range filters on a timestamp column, compare the
    * RAW column against literals of its own type instead
    * (see [[graft.jobs.EventsDailyView.dayRange]]). */
  def tsNanos(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case LongType => col("ts")
      case _        => unix_micros(col("ts").cast("timestamp")) * 1000L
    }

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
