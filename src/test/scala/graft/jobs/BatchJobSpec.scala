package graft.jobs

import java.time.{Clock, Instant, ZoneOffset}

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BatchJobSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("parseArgs: flags, --k=v form, yesterday default") {
    val fixed = Clock.fixed(Instant.parse("2024-02-02T12:00:00Z"), ZoneOffset.UTC)
    val job = new BatchJob {
      override def jobName = "j"
      override def clock = fixed
      override def transform(s: org.apache.spark.sql.SparkSession, i: String, d: String) = ???
    }
    val a = job.parseArgs(Array("--from", "20240101", "--to=20240103",
      "--input", "/in", "--output", "/out"))
    assert(a === job.Args("20240101", Some("20240103"), "/in", "/out"))
    val b = job.parseArgs(Array("--input", "/in", "--output", "/out"))
    assert(b.from === "20240201") // yesterday under the fixed clock
    assert(b.to === None)
  }

  test("EventsDailyView: day-partitioned backfill, pushed-down day filter, idempotent re-run") {
    val out = SparkSpec.tempDir("batchjob").toString
    val args = EventsDailyView.Args("20240105", Some("20240106"), sf, out)
    EventsDailyView.run(spark, args)

    val view = spark.read.parquet(s"$out/events_daily/v1")
    val days = view.select(col("submission_date_s3").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(days === Array("20240105", "20240106"))

    // rollup matches a direct aggregate over the same day range
    val ev = graft.Tables.events(spark, sf)
    val direct = ev.where(EventsDailyView.dayRange(ev, "20240105", "20240107")).count()
    assert(view.agg(sum("n_events")).head().getLong(0) === direct)

    // the day filter reaches the parquet scan
    val plan = EventsDailyView.transform(spark, sf, "20240105")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"))

    // re-running one day leaves the other day's partition untouched
    val before = view.where(col("submission_date_s3").cast("string") === "20240106").count()
    EventsDailyView.run(spark, EventsDailyView.Args("20240105", Some("20240105"), sf, out))
    val after = spark.read.parquet(s"$out/events_daily/v1")
    assert(after.where(col("submission_date_s3").cast("string") === "20240106").count() === before)
    assert(after.select("submission_date_s3").distinct().count() === 2)
  }
}
