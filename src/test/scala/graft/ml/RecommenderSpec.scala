package graft.ml

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RecommenderSpec extends SparkSpec {
  import spark.implicits._

  test("ALS end-to-end: co-interaction structure is recovered") {
    // users 1..20 interact within two disjoint item cliques: evens like
    // items {100,101,102}, odds like {200,201,202}
    val interactions = (1 to 20).flatMap { u =>
      val items = if (u % 2 == 0) Seq(100, 101, 102) else Seq(200, 201, 202)
      items.filter(i => (u + i) % 3 != 0).map(i => (s"u$u", s"i$i"))
    }.toDF("user_id", "item_id")
    val r = Recommender.ratings(interactions, "user_id", "item_id")
    assert(r.columns.toSeq === Seq("user", "item", "rating"))
    val model = Recommender.train(r)
    // an even user's top recommendation should be an even-clique item
    val u2 = Recommender.positiveHash("u2")
    val evenItems = Seq("i100", "i101", "i102").map(Recommender.positiveHash).toSet
    val top = Recommender.recommendAll(model, 1).where(col("user") === u2)
      .select(col("recommendations")(0)("item")).as[Int].collect()
    assert(top.nonEmpty && evenItems.contains(top.head))
  }
}
