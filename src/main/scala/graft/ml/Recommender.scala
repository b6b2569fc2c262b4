package graft.ml

import org.apache.spark.ml.evaluation.Evaluator
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ALS-based implicit-preference recommender + NaN-tolerant RMSE evaluator
  * (SURVEY.md §3.3; reference: src/main/scala/com/mozilla/telemetry/ml/AddonRecommender.scala:187-295,
  * NaNRegressionEvaluator.scala:41-59).
  *
  * The reference trains implicit ALS over (client, addon) installs with a
  * hashed positive id space, evaluates with an RMSE that DROPS NaN
  * predictions (cold-start items in CV folds), and serializes item factors
  * for a Spark-free serving path. Reproduced Spark-first:
  *  - ids via `positiveHash` (crc-free, matches F11 semantics);
  *  - `coldStartStrategy` stays "nan" + the NaN-dropping evaluator (the
  *    reference's exact cross-validation behavior) rather than "drop",
  *    which would silently change fold metrics;
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

  def train(ratingsDf: DataFrame, rank: Int = 15, regParam: Double = 0.01,
            alpha: Double = 1.0, maxIter: Int = 10, seed: Long = 42L): ALSModel = {
    new ALS()
      .setImplicitPrefs(true)
      .setRank(rank).setRegParam(regParam).setAlpha(alpha)
      .setMaxIter(maxIter).setSeed(seed)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("nan")
      .fit(ratingsDf)
  }

  /** Distributed top-k per user. */
  def recommendAll(model: ALSModel, k: Int): DataFrame = model.recommendForAllUsers(k)
}

/** RMSE evaluator that drops NaN predictions before scoring — implicit ALS
  * cold-start folds yield NaN for unseen items and the built-in
  * RegressionEvaluator would return NaN for the whole fold.
  * Reference: NaNRegressionEvaluator.scala:41-59 (which patched itself into
  * the spark-private package; the public `Evaluator` API suffices now). */
class NaNRMSEEvaluator(override val uid: String) extends Evaluator {
  def this() = this(Identifiable.randomUID("nanRmseEval"))

  val predictionCol = new Param[String](this, "predictionCol", "prediction column")
  val labelCol = new Param[String](this, "labelCol", "label column")
  setDefault(predictionCol -> "prediction", labelCol -> "rating")

  override def evaluate(dataset: Dataset[_]): Double = {
    val df = dataset.select(col($(predictionCol)).cast("double").as("p"),
      col($(labelCol)).cast("double").as("l"))
      .where(!isnan(col("p")))
    val row = df.agg(sqrt(avg(pow(col("p") - col("l"), 2)))).head()
    // all-NaN fold (pure cold-start test split): +Inf, NOT NaN — NaN
    // compares false both ways, so CrossValidator's min-metric selection
    // could pick the degenerate combo as "best"; +Inf disqualifies it
    if (row.isNullAt(0)) Double.PositiveInfinity else row.getDouble(0)
  }

  override def isLargerBetter: Boolean = false // RMSE: lower is better
  override def copy(extra: ParamMap): NaNRMSEEvaluator = defaultCopy(extra)
}
