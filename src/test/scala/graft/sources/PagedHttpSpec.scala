package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ml.AddonMeta

/** S7 — paginated HTTP source. The reference exercises AMODatabase against
  * a local WireMock server; here the transport trait is satisfied by an
  * in-memory map, which tests the identical surface (pagination, key-merge
  * order, cache read-through) with no socket. */
class PagedHttpSpec extends SparkSpec {

  // Three pages; addon "b" appears on pages 1 and 3 — the page-3 version
  // must win (reference merges later pages over earlier, AMODatabase.scala:75-79).
  private val page1 =
    """{"next":"http://amo.test/p2","results":[
        {"guid":"a","default_locale":"en-US","name":{"en-US":"Addon A"},
         "weekly_downloads":10,
         "current_version":{"files":[{"id":1,"platform":"all","status":"public","is_webextension":true}]}},
        {"guid":"b","default_locale":"en-US","name":{"en-US":"Old B"},"weekly_downloads":1,
         "current_version":{"files":[{"id":2,"platform":"all","status":"public","is_webextension":false}]}}
       ]}""".replaceAll("\n\\s*", "")
  private val page2 =
    """{"next":"http://amo.test/p3","results":[
        {"guid":"c","default_locale":"it","name":{"it":"Estensione C","en-US":"Addon C"},
         "weekly_downloads":7,
         "current_version":{"files":[{"id":3,"platform":"all","status":"beta","is_webextension":true}]}}
       ]}""".replaceAll("\n\\s*", "")
  private val page3 =
    """{"next":null,"results":[
        {"guid":"b","default_locale":"en-US","name":{"en-US":"New B"},"weekly_downloads":5,
         "current_version":{"files":[{"id":4,"platform":"all","status":"PUBLIC","is_webextension":true}]}}
       ]}""".replaceAll("\n\\s*", "")

  private class FakeFetcher(pages: Map[String, String]) extends PageFetcher {
    var calls = 0
    def fetch(uri: String): String = { calls += 1; pages(uri) }
  }
  private def fetcher = new FakeFetcher(Map(
    "http://amo.test/p1" -> page1, "http://amo.test/p2" -> page2,
    "http://amo.test/p3" -> page3))

  test("fetchPages follows next links to exhaustion") {
    val f = fetcher
    val pages = PagedHttp.fetchPages(f, "http://amo.test/p1")
    assert(pages === Seq(page1, page2, page3))
    assert(f.calls === 3)
  }

  test("resultsFrame dedupes on key with last page winning") {
    val df = AddonMeta.load(spark, fetcher, "http://amo.test/p1")
    val byGuid = df.select(col("guid"), AddonMeta.displayName.as("n"),
        AddonMeta.isWebextension.as("w"), col("weekly_downloads"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(byGuid.keySet === Set("a", "b", "c"))
    assert(byGuid("b").getString(1) === "New B")     // page-3 override
    assert(byGuid("b").getLong(3) === 5L)
    assert(byGuid("b").getBoolean(2))                // status PUBLIC, case-insensitive
    assert(byGuid("c").getString(1) === "Estensione C") // default_locale=it
    assert(!byGuid("c").getBoolean(2))               // beta file is not public
  }

  test("cachedPages: miss fetches + persists, hit skips the transport") {
    val cache = SparkSpec.tempDir("pagedhttp").resolve("amo.json")
    val f1 = fetcher
    val first = PagedHttp.cachedPages(cache)(PagedHttp.fetchPages(f1, "http://amo.test/p1"))
    assert(first.size === 3 && f1.calls === 3)
    val f2 = fetcher
    val second = PagedHttp.cachedPages(cache)(PagedHttp.fetchPages(f2, "http://amo.test/p1"))
    assert(second === first)
    assert(f2.calls === 0) // cache hit: transport never touched
  }

  test("enrich: broadcast-join lookup, unknown guids keep nulls") {
    import spark.implicits._
    val catalog = AddonMeta.load(spark, fetcher, "http://amo.test/p1")
    val installs = Seq(("u1", "a"), ("u2", "b"), ("u3", "nope")).toDF("user", "addon")
    val out = AddonMeta.enrich(installs, "addon", catalog)
      .select("user", "addon_name", "is_webextension").collect()
      .map(r => r.getString(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(out("u1") === (("Addon A", Some(true))))
    assert(out("u2") === (("New B", Some(true))))
    assert(out("u3") === ((null, None)))
  }
}
