package graft.jobs

import graft.SparkSpec
import graft.text.Retrieval
import org.apache.spark.sql.functions._

/** Two-day BM25 index maintenance: day-partitioned artifacts score
  * identically to a full rebuild, re-running a day is IDEMPOTENT
  * (dynamic partition overwrite replaces, never doubles), and the
  * bucketed postings still feed the probe join without a corpus-side
  * exchange. */
class RetrievalIndexJobSpec extends SparkSpec {
  import spark.implicits._

  private def cleanup(): Unit =
    Seq(RetrievalIndexJob.PostingsTable, RetrievalIndexJob.DfTable,
      RetrievalIndexJob.DlTable, RetrievalIndexJob.StatsTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("two-day ingest == full rebuild; re-run idempotent; probe exchange-free") {
    cleanup()
    val day1 = Seq(0L -> "alpha beta gamma", 2L -> "beta beta delta")
    val day2 = Seq(4L -> "gamma delta epsilon epsilon", 6L -> "alpha beta zeta")
    val queries = Seq(1L -> "beta epsilon zeta alpha")
    // runDay must RESTORE the session's partitionOverwriteMode: leaking
    // "dynamic" would silently change later unrelated INSERT OVERWRITEs
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prevOverwrite = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "static")
    try {
      RetrievalIndexJob.runDay(spark, day1.toDF("doc_id", "text"),
        "20240101", "text", "doc_id")
      assert(spark.conf.get(overwriteKey) === "static",
        "runDay must restore the session overwrite mode")
      RetrievalIndexJob.runDay(spark, day2.toDF("doc_id", "text"),
        "20240102", "text", "doc_id")
      val key = Seq("query_id", "doc_id", "score_pico").map(col)
      val viaJob = RetrievalIndexJob.score(spark,
        queries.toDF("doc_id", "text"), "text", "doc_id")
        .orderBy(key: _*).collect().toSeq
      val rebuilt = Retrieval.bm25OddsScores(
        queries.toDF("doc_id", "text"),
        (day1 ++ day2).toDF("doc_id", "text"), "text", "doc_id")
        .orderBy(key: _*).collect().toSeq
      assert(viaJob === rebuilt)

      // IDEMPOTENT re-run: ingesting day 2 again must REPLACE its
      // partition, not append — scores unchanged (a raw append would
      // double day-2 tf/df/dl and shift every score)
      RetrievalIndexJob.runDay(spark, day2.toDF("doc_id", "text"),
        "20240102", "text", "doc_id")
      val rerun = RetrievalIndexJob.score(spark,
        queries.toDF("doc_id", "text"), "text", "doc_id")
        .orderBy(key: _*).collect().toSeq
      assert(rerun === viaJob, "re-running a day must not change scores")

      // all four tables agree on the ingested days
      assert(RetrievalIndexJob.daysIngested(spark).values.toSet ===
        Set(Set("20240101", "20240102")))

      // the day-partitioned writes must keep the bucket layout: walking
      // up from the postings scan, no shuffle before the first join
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinNode}
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = RetrievalIndexJob.score(spark,
            queries.toDF("doc_id", "text"), "text", "doc_id")
          .queryExecution.executedPlan
        def pathToScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
          case f: FileSourceScanExec =>
            if (f.tableIdentifier.exists(_.table ==
              RetrievalIndexJob.PostingsTable)) Some(List(p))
            else None
          case _ => p.children.view.flatMap(pathToScan).headOption.map(p :: _)
        }
        val path = pathToScan(plan)
        assert(path.nonEmpty, s"plan must read the postings table\n$plan")
        val belowJoin = path.get.reverse.takeWhile(!_.isInstanceOf[JoinNode])
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"postings must reach their join without an exchange\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    } finally {
      cleanup()
      prevOverwrite match {
        case Some(v) => spark.conf.set(overwriteKey, v)
        case None    => spark.conf.unset(overwriteKey)
      }
    }
  }

  test("score fails loudly when a partial ingest left the tables inconsistent") {
    cleanup()
    try {
      RetrievalIndexJob.runDay(spark, Seq(0L -> "alpha beta").toDF("doc_id", "text"),
        "20240101", "text", "doc_id")
      // simulate a crash after the postings/dl writes of day 2: drop the
      // day from the df table only
      RetrievalIndexJob.runDay(spark, Seq(2L -> "beta gamma").toDF("doc_id", "text"),
        "20240102", "text", "doc_id")
      spark.sql(
        s"ALTER TABLE ${RetrievalIndexJob.DfTable} DROP PARTITION (day='20240102')")
      val e = intercept[IllegalArgumentException] {
        RetrievalIndexJob.score(spark,
          Seq(1L -> "beta").toDF("doc_id", "text"), "text", "doc_id")
      }
      assert(e.getMessage.contains("disagree"))
      // repair = re-run the day; scoring works again
      RetrievalIndexJob.runDay(spark, Seq(2L -> "beta gamma").toDF("doc_id", "text"),
        "20240102", "text", "doc_id")
      assert(RetrievalIndexJob.score(spark,
        Seq(1L -> "beta").toDF("doc_id", "text"), "text", "doc_id")
        .count() == 2L)
    } finally cleanup()
  }
}
