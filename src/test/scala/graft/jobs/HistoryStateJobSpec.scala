package graft.jobs

import graft.SparkSpec
import graft.dedup.Dedup

/** The bucketed incremental-state home, pinned at BOTH levels:
  * correctness (merged per-day partials equal the state computed over
  * the union of days; day re-runs are idempotent) and plan shape (every
  * read-back merge — the union+groupBy-sum the consumers need — runs
  * with NO exchange, because the "union" of days is the bucketed scan
  * itself). The plan pins are the 100-TB claim: history re-shuffling
  * would grow with the corpus; a bucketed-scan merge does not. Plus the
  * write side: a day writes only the tables a reader merges back. */
class HistoryStateJobSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq(HistoryStateJob.ParagraphFpTable,
    HistoryStateJob.ContainDfTable, HistoryStateJob.ContainSizesTable)
  private val retired = Seq(HistoryStateJob.PresenceTable, HistoryStateJob.SizesTable)

  private def dropAll(): Unit =
    (tables ++ retired).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  // paragraphs separated by blank lines; "cookie banner" repeats across
  // docs, so paragraph fps and shingles overlap between days
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

  private def append(docs: org.apache.spark.sql.DataFrame, day: String): Unit =
    HistoryStateJob.appendDay(spark, docs, day, "text", "doc_id", "site")

  private def fps(docs: org.apache.spark.sql.DataFrame) =
    Dedup.paragraphFps(docs, "text", "doc_id").as[String].collect().toSet

  /** (df, sizes) of the one-shot containment index over `docs`. */
  private def index(docs: org.apache.spark.sql.DataFrame) = {
    val (df, sz) = Dedup.corpusContainmentIndex(
      Dedup.shingleRows(docs, "text", "doc_id", Nil, 3), "doc_id")
    (df.as[(String, Long)].collect().toSet, sz.as[(Long, Long)].collect().toSet)
  }

  private def storedIndex() = {
    val (df, sz) = HistoryStateJob.readContainmentIndex(spark, "doc_id")
    (df.as[(String, Long)].collect().toSet, sz.as[(Long, Long)].collect().toSet)
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
      append(day1Docs, "2026-08-01")
      append(day2Docs, "2026-08-02")
      // model: the state computed in one shot over both days' docs
      val allDocs = day1Docs.unionByName(day2Docs)
      val modelFps = fps(allDocs)
      val modelIndex = index(allDocs)
      // paragraph fps: distinct over both days
      assert(HistoryStateJob.readParagraphFps(spark).as[String].collect().toSet === modelFps)
      // containment: df sums match the one-shot index
      assert(storedIndex() === modelIndex)
      // idempotence: re-running day 2 replaces its own partition only —
      // a double-counted day would double the shared shingles' df
      append(day2Docs, "2026-08-02")
      assert(storedIndex() === modelIndex, "day re-run must not double-count")
      assert(HistoryStateJob.readParagraphFps(spark).as[String].collect().toSet === modelFps)
    } finally dropAll()
  }

  test("read-back merges plan with NO exchange over the bucketed day scans") {
    dropAll()
    try {
      append(day1Docs, "2026-08-01")
      append(day2Docs, "2026-08-02")
      noShuffle(HistoryStateJob.readParagraphFps(spark),
        "paragraph-fp distinct")
      val (gdf, gsz) = HistoryStateJob.readContainmentIndex(spark, "doc_id")
      noShuffle(gdf, "containment df groupBy(g)+sum")
      noShuffle(gsz, "containment sizes groupBy(doc_id)+sum")
    } finally dropAll()
  }

  test("appendDay creates exactly the three reader tables and no template table") {
    dropAll()
    try {
      append(day1Docs, "2026-08-01")
      assert(tables.forall(spark.catalog.tableExists), tables)
      val template = spark.catalog.listTables()
        .collect().map(_.name).filter(_.startsWith("graft_template_"))
      assert(template.isEmpty, template.toSeq)
      assert(!retired.exists(spark.catalog.tableExists))
    } finally dropAll()
  }

  test("appendDay runs 7 Spark jobs per day") {
    dropAll()
    try {
      assert(jobsOf(append(day1Docs, "2026-08-01")) === 7)
      assert(jobsOf(append(day2Docs, "2026-08-02")) === 7)
    } finally dropAll()
  }
}
