package graft.jobs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.Dedup

/** The bucketed incremental-state home, pinned at BOTH levels:
  * correctness (merged per-day partials equal the state computed over
  * the union of days; day re-runs are idempotent) and plan shape (every
  * read-back merge — the union+groupBy-sum the consumers need — runs
  * with NO exchange, because the "union" of days is the bucketed scan
  * itself). The plan pins are the 100-TB claim: history re-shuffling
  * would grow with the corpus; a bucketed-scan merge does not. */
class HistoryStateJobSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq(
    HistoryStateJob.PresenceTable, HistoryStateJob.SizesTable,
    HistoryStateJob.ParagraphFpTable, HistoryStateJob.ContainDfTable,
    HistoryStateJob.ContainSizesTable)

  private def dropAll(): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  // paragraphs separated by blank lines; "cookie banner" is the template
  // candidate once enough docs of a site carry it
  private def doc(i: Long, site: String, body: String) =
    (i, site, s"cookie banner $site\n\n$body")

  private def day1Docs = Seq(
    doc(1L, "a", "alpha beta gamma"),
    doc(2L, "a", "delta epsilon zeta"),
    doc(3L, "b", "eta theta iota")).toDF("doc_id", "site", "text")

  private def day2Docs = Seq(
    doc(4L, "a", "kappa lambda mu"),
    doc(5L, "a", "nu xi omicron"),
    doc(6L, "b", "pi rho sigma")).toDF("doc_id", "site", "text")

  /** The template partials summed over days before `beforeDay` (all days
    * when empty) — the merged state the template consumer reads. */
  private def templateState(beforeDay: String = "") = {
    def upTo(t: String) = {
      val all = spark.table(t)
      if (beforeDay.isEmpty) all else all.where(col("day") < beforeDay)
    }
    (upTo(HistoryStateJob.PresenceTable).groupBy(col("site"), col("__fp"))
       .agg(sum(col("n_docs_with")).as("n_docs_with")),
     upTo(HistoryStateJob.SizesTable).groupBy(col("site"))
       .agg(sum(col("n_docs_group")).as("n_docs_group")))
  }

  private def noShuffle(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    df.count() // materialize so AQE resolves the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"$what must merge exchange-free over the bucketed scan:\n$plan")
  }

  test("per-day partials merge to the union-of-days state; day re-runs are idempotent") {
    dropAll()
    try {
      HistoryStateJob.appendDay(spark, day1Docs, "2026-08-01",
        "text", "doc_id", "site", buckets = 4)
      HistoryStateJob.appendDay(spark, day2Docs, "2026-08-02",
        "text", "doc_id", "site", buckets = 4)
      // model: the state computed in one shot over both days' docs
      val allDocs = day1Docs.unionByName(day2Docs)
      val (mp, ms) = Dedup.templateState(allDocs, "text", "doc_id", "site")
      val modelPresence = mp.as[(String, String, Long)].collect().toSet
      val modelSizes = ms.as[(String, Long)].collect().toSet
      def presence() = {
        val (p, _) = templateState()
        p.as[(String, String, Long)].collect().toSet
      }
      def sizes() = {
        val (_, s) = templateState()
        s.as[(String, Long)].collect().toSet
      }
      assert(presence() === modelPresence)
      assert(sizes() === modelSizes)
      // paragraph fps: distinct over both days
      val modelFps = Dedup.paragraphFps(allDocs, "text", "doc_id")
        .as[String].collect().toSet
      assert(HistoryStateJob.readParagraphFps(spark)
        .as[String].collect().toSet === modelFps)
      // containment: df sums match the one-shot index
      val rows = Dedup.shingleRows(allDocs, "text", "doc_id", Nil, 3)
      val (mdf, msz) = Dedup.corpusContainmentIndex(rows, "doc_id")
      val (gdf, gsz) = HistoryStateJob.readContainmentIndex(spark, "doc_id")
      assert(gdf.as[(String, Long)].collect().toSet ===
        mdf.as[(String, Long)].collect().toSet)
      assert(gsz.as[(Long, Long)].collect().toSet ===
        msz.as[(Long, Long)].collect().toSet)
      // idempotence: re-running day 2 replaces its own partition only
      HistoryStateJob.appendDay(spark, day2Docs, "2026-08-02",
        "text", "doc_id", "site", buckets = 4)
      assert(presence() === modelPresence, "day re-run must not double-count")
      assert(sizes() === modelSizes)
      // day filter: history BEFORE day 2 is exactly day 1's state
      val (p1, _) = templateState("2026-08-02")
      val (d1p, _) = Dedup.templateState(day1Docs, "text", "doc_id", "site")
      assert(p1.as[(String, String, Long)].collect().toSet ===
        d1p.as[(String, String, Long)].collect().toSet)
    } finally dropAll()
  }

  test("read-back merges plan with NO exchange over the bucketed day scans") {
    dropAll()
    try {
      HistoryStateJob.appendDay(spark, day1Docs, "2026-08-01",
        "text", "doc_id", "site", buckets = 4)
      HistoryStateJob.appendDay(spark, day2Docs, "2026-08-02",
        "text", "doc_id", "site", buckets = 4)
      val (p, _) = templateState()
      noShuffle(p, "template presence groupBy(site, __fp)+sum")
      noShuffle(HistoryStateJob.readParagraphFps(spark),
        "paragraph-fp distinct")
      val (gdf, gsz) = HistoryStateJob.readContainmentIndex(spark, "doc_id")
      noShuffle(gdf, "containment df groupBy(g)+sum")
      noShuffle(gsz, "containment sizes groupBy(doc_id)+sum")
    } finally dropAll()
  }
}
