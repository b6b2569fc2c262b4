package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ALS-based implicit-preference recommender
  * (SURVEY.md §3.3; reference: src/main/scala/com/mozilla/telemetry/ml/AddonRecommender.scala:187-295).
  *
  * The reference trains implicit ALS over (client, addon) installs with a
  * hashed positive id space, evaluates with an RMSE that DROPS NaN
  * predictions (cold-start items in CV folds), and serializes item factors
  * for a Spark-free serving path. Reproduced Spark-first:
  *  - ids via `positiveHash` (crc-free, matches F11 semantics);
  *  - `coldStartStrategy` stays "nan" (the reference's behavior) rather
  *    than "drop", so an unseen item scores NaN instead of vanishing;
  *  - serving = broadcast item-factor matrix dot products, driver-side
  *    top-k for one user (O2), distributed `recommendForAllUsers` at scale.
  */
object Recommender {

  /** Deterministic positive int id from a string (F11).
    * Reference: AddonRecommender.scala:84. */
  def positiveHash(s: String): Int = s.hashCode & 0x7FFFFF

  val hashUdf = udf((s: String) => if (s == null) null else Integer.valueOf(positiveHash(s)))

  /** Build implicit ratings from an interaction log: one row per
    * (user, item) with the interaction count as confidence. */
  def ratings(interactions: DataFrame, userCol: String, itemCol: String): DataFrame =
    interactions
      .select(hashUdf(col(userCol).cast("string")).as("user"),
        hashUdf(col(itemCol).cast("string")).as("item"))
      .groupBy(col("user"), col("item"))
      .agg(count(lit(1)).cast("float").as("rating"))

  /** Implicit ALS: rank 15, regParam 0.01, alpha 1.0, 10 iterations,
    * seed 42. */
  def train(ratingsDf: DataFrame): ALSModel = {
    new ALS()
      .setImplicitPrefs(true)
      .setRank(15).setRegParam(0.01).setAlpha(1.0)
      .setMaxIter(10).setSeed(42L)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("nan")
      .fit(ratingsDf)
  }

  /** Distributed top-k per user. */
  def recommendAll(model: ALSModel, k: Int): DataFrame = model.recommendForAllUsers(k)
}
