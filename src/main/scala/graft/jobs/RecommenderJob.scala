package graft.jobs

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{AddonMeta, Recommender}
import graft.sources.PagedHttp

/** The §3.3 lifecycle as a runnable job (reference:
  * AddonRecommender.scala:187-295 `train`): addon catalog from the
  * paginated API (through the local cache) + an install log → implicit ALS
  * → per-user top-k recommendations enriched with display names.
  *
  * The reference resolves recommendation item-hashes back to addon guids
  * with a driver-side map; here the (hash, guid) mapping is a DataFrame
  * distilled from the install log and the final enrichment is a broadcast
  * join — the whole output stays distributed.
  */
object RecommenderJob {

  /** Train + recommend. `installs` carries (userCol, itemCol=guid) rows;
    * `catalog` is the AddonMeta frame. Returns one row per (user, rank)
    * with guid, score, addon_name, is_webextension. */
  def run(installs: DataFrame, userCol: String, itemCol: String,
          catalog: DataFrame, k: Int = 10): DataFrame = {
    val ratings = Recommender.ratings(installs, userCol, itemCol)
    val model = Recommender.train(ratings)
    // hash -> guid resolution frame (the reference's addonMap lookup,
    // AddonRecommender.scala:258-266, kept distributed)
    val hashed = installs
      .select(Recommender.hashUdf(col(itemCol).cast("string")).as("item"),
        col(itemCol).as("guid_raw"))
      .distinct()
    // the ALS id space is 23 bits (Recommender.positiveHash): two guids
    // hashing to one id would label that item's recommendations with an
    // arbitrary one of them — fail loudly instead
    val nCollide = hashed.groupBy(col("item")).count().where(col("count") > 1).count()
    require(nCollide == 0,
      s"$nCollide item-hash collisions in the 23-bit ALS id space — " +
        "colliding guids would be mislabeled arbitrarily")
    val items = hashed
    val recs = Recommender.recommendAll(model, k)
      .select(col("user"), posexplode(col("recommendations")).as(Seq("rnk", "rec")))
      .select(col("user"), (col("rnk") + 1).as("rnk"),
        col("rec.item").as("item"), col("rec.rating").as("score"))
      .join(broadcast(items), "item")
    AddonMeta.enrich(recs, "guid_raw", catalog)
      .withColumnRenamed("guid_raw", "guid")
      .select("user", "rnk", "guid", "score", "addon_name", "is_webextension")
  }

  /** `--installs <parquet> --api <first-page-uri> [--cache <file>]
    * [--output <dir>] [--k n]` — fetch catalog (cache-first), train,
    * write recommendations. */
  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(a, v) if a.startsWith("--") => a.stripPrefix("--") -> v
    }.toMap
    val spark = graft.GraftSession.cluster("recommender_job")
    try {
      val installs = spark.read.parquet(kv("installs"))
      val cache = kv.get("cache").map(Paths.get(_): Path)
      val catalog = AddonMeta.load(spark, new PagedHttp.JdkFetcher(), kv("api"), cache)
      val out = run(installs, "user_id", "addon_id", catalog,
        k = kv.getOrElse("k", "10").toInt)
      kv.get("output") match {
        case Some(dir) => out.write.mode("overwrite").parquet(dir)
        case None      => out.show(50, truncate = false)
      }
    } finally spark.stop()
  }
}
