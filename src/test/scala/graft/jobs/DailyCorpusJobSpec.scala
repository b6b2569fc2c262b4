package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DailyCorpusJobSpec extends SparkSpec {
  import spark.implicits._

  private val stop = Seq("the", "a", "of", "and", "to")
  private val good1 = "the quick brown fox jumps over a lazy dog and keeps running to the river"
  private val good2 = "a completely different second document with the usual stopwords and plenty of fresh tokens to pass"
  private val good3 = "yet another clean document of the third kind and it also passes every quality gate to survive"

  test("two-day run: day 2 dedups against day 1 survivors; re-run idempotent") {
    val base = SparkSpec.tempDir("graft_daily").toString
    // day 1: two keepers + a quality failure; no view yet, so the
    // history is the empty frame (no failed read, nothing logged)
    val d1 = Seq((1L, good1), (2L, good2), (3L, "too short")).toDF("doc_id", "text")
    val v1 = DailyCorpusJob.runDay(spark, d1, "20240101", base, 1,
      "text", "doc_id", stop)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(v1 === Map(1L -> true, 2L -> true, 3L -> false))
    // day 2: an exact dup of a day-1 survivor (whitespace variant), a
    // fresh doc, and an in-day exact dup pair
    val d2 = Seq(
      (10L, "  " + good1.replace(" ", "  ")),
      (11L, good3), (12L, good3)).toDF("doc_id", "text")
    val v2 = DailyCorpusJob.runDay(spark, d2, "20240102", base, 1,
      "text", "doc_id", stop)
      .select("doc_id", "keep_vs_history", "keep")
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(v2(10L) === ((false, false)), "history dup must drop")
    assert(v2(11L) === ((true, true)), "first in-day copy survives")
    assert(v2(12L)._2 === false, "second in-day copy drops")
    // history now = day-1 survivors + day-2 survivors, with fingerprints
    val hist = graft.ops.BatchView.read(spark, base,
      DailyCorpusJob.HistoryView, 1)
    assert(hist.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 11L))
    assert(hist.select("fp").distinct().count() === 3)
    // idempotent re-run of day 2: history read excludes day 2's own
    // previous output, so verdicts AND the final view state are identical
    val v2b = DailyCorpusJob.runDay(spark, d2, "20240102", base, 1,
      "text", "doc_id", stop)
      .select("doc_id", "keep_vs_history", "keep")
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(v2b === v2)
    val hist2 = graft.ops.BatchView.read(spark, base,
      DailyCorpusJob.HistoryView, 1)
    assert(hist2.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 11L))
  }
}
