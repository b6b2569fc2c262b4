package graft.jobs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ml.AddonMeta
import graft.sources.PageFetcher

/** End-to-end §3.3 lifecycle on fixtures: canned API pages → addon
  * catalog → implicit ALS over a synthetic install log → top-k with
  * display names (the reference's AMO + AddonRecommender path). */
class RecommenderJobSpec extends SparkSpec {
  import spark.implicits._

  private val page1 =
    """{"next":"http://amo.test/p2","results":[
        {"guid":"addon-a","default_locale":"en-US","name":{"en-US":"Alpha"},
         "current_version":{"files":[{"id":1,"platform":"all","status":"public","is_webextension":true}]}},
        {"guid":"addon-b","default_locale":"en-US","name":{"en-US":"Beta"},
         "current_version":{"files":[{"id":2,"platform":"all","status":"public","is_webextension":true}]}}
       ]}""".replaceAll("\n\\s*", "")
  private val page2 =
    """{"next":null,"results":[
        {"guid":"addon-c","default_locale":"en-US","name":{"en-US":"Gamma"},
         "current_version":{"files":[{"id":3,"platform":"all","status":"public","is_webextension":false}]}}
       ]}""".replaceAll("\n\\s*", "")

  test("fixture pages -> catalog -> ALS -> named top-k") {
    val fetcher = new PageFetcher {
      private val pages = Map("http://amo.test/p1" -> page1, "http://amo.test/p2" -> page2)
      def fetch(uri: String): String = pages(uri)
    }
    // co-install structure: a-and-b users vs a-and-c users
    val installs = (1 to 8).flatMap { u =>
      val addons = if (u % 2 == 0) Seq("addon-a", "addon-b") else Seq("addon-a", "addon-c")
      addons.map(a => (s"user$u", a))
    }.toDF("user_id", "addon_id")

    val recs = RecommenderJob.run(installs, "user_id", "addon_id",
      AddonMeta.load(spark, fetcher, "http://amo.test/p1"), k = 3)
    val rows = recs.collect()
    assert(rows.nonEmpty)
    assert(recs.columns.toSeq ===
      Seq("user", "rnk", "guid", "score", "addon_name", "is_webextension"))
    // every recommended guid resolved through the catalog with its name
    val names = rows.map(r => r.getAs[String]("guid") -> r.getAs[String]("addon_name")).toMap
    assert(names.keySet.subsetOf(Set("addon-a", "addon-b", "addon-c")))
    assert(names.forall { case (g, n) =>
      Map("addon-a" -> "Alpha", "addon-b" -> "Beta", "addon-c" -> "Gamma")(g) == n })
    // per-user ranks are 1..k and ordered by non-increasing score
    val byUser = rows.groupBy(_.getAs[Int]("user"))
    byUser.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === (1 to sorted.length))
      val scores = sorted.map(_.getAs[Float]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }
}
