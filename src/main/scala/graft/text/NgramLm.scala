package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stupid Backoff trigram language model (Brants et al. 2007, "Large
  * Language Models in Machine Translation") — the backoff score designed
  * explicitly for distributed count-based training, here driving a
  * CCNet-style (Wenzek et al. 2020) model-perplexity quality filter:
  * train on a trusted target slice, score every document, keep the ones
  * the target model finds predictable.
  *
  * Score of token w with context (u, v) — counts from the TRAINING slice:
  *
  *   S(w | u v) = c(uvw)/c(uv)        if c(uvw) > 0
  *              = α · S(w | v)        otherwise          (α = 0.4)
  *   S(w | v)   = c(vw)/c(v)          if c(vw) > 0
  *              = α · S(w)            otherwise
  *   S(w)       = (c(w)+1)/(N+V)      (Laplace unigrams: unseen words
  *                                     score > 0, so log is total)
  *
  * Training is three `groupBy().count()` passes over exploded positions
  * (map-side partial aggregation; count tables are reusable artifacts —
  * persist them bucketed by their gram key for join-in-place scoring,
  * the [[graft.ops.BatchView.writeBucketed]] discipline). Scoring is
  * five left joins against those tables keyed on gram strings — plain
  * shuffle joins Catalyst plans with AQE skew handling; no windows, no
  * per-doc state beyond the row.
  *
  * Oracle parity: every score is rational — integer counts cast to
  * double and divided ONCE, α-multiplied in a fixed parenthesization —
  * so DuckDB replays the bits exactly (`ln()` is banned from compared
  * values; see q58). Per-document aggregation quantizes each per-token
  * score to picos (`round(s·10¹²)` as long) and sums INTEGERS — an
  * associative, fold-order-free reduction both engines agree on. The
  * production perplexity path ([[perDocPerplexity]]) uses real `log`;
  * it is ScalaTest-gated against the rational path, not the oracle.
  */
object NgramLm {

  /** Count-table model: `uni(w, c1)`, `bi(w1, w2, c2)`,
    * `tri(w1, w2, w3, c3)`, `totals(n_tokens, vocab)` (one row). All
    * lazy DataFrames — persist with [[graft.ops.BatchView.writeBucketed]]
    * keyed on the gram columns for repeated scoring. */
  case class LmModel(uni: DataFrame, bi: DataFrame, tri: DataFrame,
                     totals: DataFrame)

  /** `(…, __pos, __w, __prev, __prev2)` exploded token positions; context
    * columns are null before the document start. Derived from the token
    * array in the projection (element_at on the pre-explode array — no
    * window, no self-join). */
  private def positions(docs: DataFrame, textCol: String,
                        keep: Seq[Column]): DataFrame = {
    val tk = col("__tk")
    docs.where(col(textCol).isNotNull)
      .select(keep :+ TextOps.tokens(col(textCol)).as("__tk"): _*)
      .select(keep ++ Seq(tk, posexplode(tk).as(Seq("__pos", "__w"))): _*)
      .select(keep ++ Seq(col("__pos"), col("__w"),
        when(col("__pos") >= 1, element_at(tk, col("__pos"))).as("__prev"),
        when(col("__pos") >= 2, element_at(tk, col("__pos") - 1)).as("__prev2")): _*)
  }

  /** Train the count tables on `docs` (the trusted target slice). */
  def fit(docs: DataFrame, textCol: String): LmModel = {
    val pos = positions(docs, textCol, Seq.empty)
    LmModel(
      uni = pos.groupBy(col("__w").as("w")).agg(count(lit(1)).as("c1")),
      bi = pos.where(col("__pos") >= 1)
        .groupBy(col("__prev").as("w1"), col("__w").as("w2"))
        .agg(count(lit(1)).as("c2")),
      tri = pos.where(col("__pos") >= 2)
        .groupBy(col("__prev2").as("w1"), col("__prev").as("w2"),
          col("__w").as("w3"))
        .agg(count(lit(1)).as("c3")),
      totals = pos.agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("__w")).as("vocab")))
  }

  /** Per-token backoff scores for every document in `docs`:
    * `(idCol, pos, token, level, score)` where `level` is the n-gram
    * order that fired (3/2/1) and `score` the Stupid Backoff value. */
  def scoreTokens(docs: DataFrame, model: LmModel, textCol: String,
                  idCol: String, alpha: Double = 0.4): DataFrame =
    scoredRows(docs, model, textCol, Seq(col(idCol)), alpha)

  /** [[scoreTokens]] with arbitrary carried key columns (the streaming
    * path needs the event-time column to survive to the aggregate). */
  private def scoredRows(docs: DataFrame, model: LmModel, textCol: String,
                         keep: Seq[org.apache.spark.sql.Column],
                         alpha: Double): DataFrame = {
    val pos = positions(docs, textCol, keep)
    val uniW = model.uni.select(col("w").as("__uw"), col("c1").as("__c1w"))
    val uniP = model.uni.select(col("w").as("__upw"), col("c1").as("__c1prev"))
    val biWP = model.bi.select(col("w1").as("__b1"), col("w2").as("__b2"),
      col("c2").as("__c2"))
    val biCtx = model.bi.select(col("w1").as("__x1"), col("w2").as("__x2"),
      col("c2").as("__c2ctx"))
    val tri = model.tri.select(col("w1").as("__t1"), col("w2").as("__t2"),
      col("w3").as("__t3"), col("c3").as("__c3"))
    val joined = pos
      .join(uniW, col("__w") === col("__uw"), "left")
      .join(uniP, col("__prev") === col("__upw"), "left")
      .join(biWP, col("__prev") === col("__b1") && col("__w") === col("__b2"), "left")
      .join(biCtx, col("__prev2") === col("__x1") && col("__prev") === col("__x2"), "left")
      .join(tri, col("__prev2") === col("__t1") && col("__prev") === col("__t2") &&
        col("__w") === col("__t3"), "left")
      .crossJoin(broadcast(model.totals))
    val s1 = (coalesce(col("__c1w"), lit(0L)) + lit(1L)).cast("double") /
      (col("n_tokens") + col("vocab")).cast("double")
    val s2 = when(col("__c2").isNotNull && col("__c1prev").isNotNull,
        col("__c2").cast("double") / col("__c1prev").cast("double"))
      .otherwise(lit(alpha) * s1)
    val s3 = when(col("__c3").isNotNull && col("__c2ctx").isNotNull,
        col("__c3").cast("double") / col("__c2ctx").cast("double"))
      .otherwise(lit(alpha) * s2)
    joined.select(keep ++ Seq(col("__pos").as("pos"), col("__w").as("token"),
      when(col("__pos") >= 2 && col("__c3").isNotNull, 3)
        .when(col("__pos") >= 1 && col("__c2").isNotNull, 2)
        .otherwise(1).as("level"),
      when(col("__pos") === 0, s1)
        .when(col("__pos") === 1, s2)
        .otherwise(s3).as("score")): _*)
  }

  /** Per-document aggregate in exact integer picos:
    * `(idCol, n_scored, score_sum_pico, keep)` with
    * `keep ⇔ mean score ≥ tauNum/tauDen` evaluated as the integer
    * comparison `score_sum_pico · tauDen ≥ n_scored · tauNum · 10¹²` —
    * no double accumulation anywhere, so any engine agrees. */
  def filterByScore(docs: DataFrame, model: LmModel, textCol: String,
                    idCol: String, tauNum: Long, tauDen: Long): DataFrame = {
    require(tauDen > 0, s"tauDen must be positive: $tauDen")
    scoreTokens(docs, model, textCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(round(col("score") * lit(1e12)).cast("long")).as("score_sum_pico"))
      .withColumn("keep",
        col("score_sum_pico") * tauDen >= col("n_scored") * tauNum * lit(1000000000000L))
  }

  /** Production CCNet-style perplexity: `(idCol, n_scored, avg_logprob,
    * perplexity)` with natural-log scoring (finite for every token —
    * Laplace unigrams guarantee score > 0). Not oracle-comparable (libm
    * `ln`); gated in ScalaTest against [[filterByScore]]'s rational
    * ranking instead. */
  def perDocPerplexity(docs: DataFrame, model: LmModel, textCol: String,
                       idCol: String, alpha: Double = 0.4): DataFrame =
    scoreTokens(docs, model, textCol, idCol, alpha)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        avg(log(col("score"))).as("avg_logprob"))
      .withColumn("perplexity", exp(-col("avg_logprob")))

  /** Streaming form of [[filterByScore]]: score arriving docs against a
    * STATIC model (the count tables are batch artifacts — persist them
    * bucketed by their gram keys like the other history indexes) and
    * emit each doc's pico aggregate once the event-time watermark seals
    * it. The token joins are stream-static left joins — STATELESS, the
    * stream side probes the model; the only state is the per-doc
    * aggregate inside the watermark horizon. The aggregate keys include
    * the watermarked `tsCol`, which is what licenses append-mode
    * emission; `keep` is the same integer comparison as the batch form,
    * so a doc scores identically live or in backfill.
    * Emits `(idCol, tsCol, n_scored, score_sum_pico, keep)`. */
  def streamingFilterByScore(docs: DataFrame, model: LmModel, textCol: String,
                             idCol: String, tsCol: String,
                             tauNum: Long, tauDen: Long,
                             alpha: Double = 0.4,
                             watermark: String = "1 hour"): DataFrame = {
    require(tauDen > 0, s"tauDen must be positive: $tauDen")
    scoredRows(docs.withWatermark(tsCol, watermark), model, textCol,
        Seq(col(idCol), col(tsCol)), alpha)
      .groupBy(col(idCol), col(tsCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(round(col("score") * lit(1e12)).cast("long")).as("score_sum_pico"))
      .withColumn("keep",
        col("score_sum_pico") * tauDen >= col("n_scored") * tauNum * lit(1000000000000L))
  }

  /** Tertile-cut strategy for [[ccnetBuckets]].
    *
    * [[TertileCut.Exact]] keeps the bit-replayable oracle semantics but
    * its aggregate collects every per-doc mean onto one task; per-doc
    * means are near-unique doubles, so that state is O(docs) — an OOM
    * wall at 10⁹⁺ documents. [[TertileCut.Approx]] is the production
    * path: `percentile_approx`'s KLL-style sketch is mergeable with
    * bounded per-task state (rank error ≤ n/accuracy), so the cut
    * survives any corpus size; bucket labels can differ from exact only
    * for docs within that rank band of a tertile boundary. */
  sealed trait TertileCut
  object TertileCut {
    /** Exact ORDER-STATISTIC tertiles — the threshold is the observed
      * mean at rank ceil(n/3) (1-based, ascending), never an
      * interpolated value, so the bucket comparison only touches doubles
      * both engines derived by one IEEE division of identical integers.
      * Oracle/fixture scale (collects the mean list on one task). */
    case object Exact extends TertileCut
    /** Mergeable sketch tertiles — the web-scale default. `accuracy` is
      * the KLL budget: max rank error n/accuracy, state O(accuracy). */
    final case class Approx(accuracy: Int = 10000) extends TertileCut
  }

  /** The CCNet head/middle/tail corpus partition (Wenzek et al. 2020):
    * per-doc mean backoff score (the pico-integer aggregate — one
    * division of exact integers, bit-replayable), split at the corpus
    * tertiles. "head" = most target-like third. Returns
    * `(idCol, n_scored, score_sum_pico, bucket)`.
    *
    * Scale shape: one scoring pass + the per-doc aggregate (as
    * [[filterByScore]]), tertile thresholds via ONE aggregate over the
    * per-doc means — an exact order-statistic cut for the oracle, or the
    * mergeable `percentile_approx` sketch for production (`cut`
    * parameter; see [[TertileCut]] for the 10⁹-doc argument) — labels
    * via a broadcast of the 1-row threshold frame. No global window —
    * the bucket is a comparison, not a rank. CCNet itself needs only
    * approximate tertiles (the paper cuts on a sampled histogram), so
    * Approx is semantically faithful, not a concession.
    *
    * Exact-path determinism note: thresholds are ORDER STATISTICS —
    * `element_at(sorted means, ceil(n/3))` — not interpolations, so the
    * only floating-point step either engine performs is the one IEEE
    * division `score_sum_pico / n_scored` (correctly rounded, therefore
    * bit-identical across engines). A cut landing on a run of duplicated
    * means picks the duplicated value itself in both engines. */
  def ccnetBuckets(docs: DataFrame, model: LmModel, textCol: String,
                   idCol: String,
                   cut: TertileCut = TertileCut.Exact): DataFrame = {
    val per = scoreTokens(docs, model, textCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(round(col("score") * lit(1e12)).cast("long")).as("score_sum_pico"))
      .withColumn("mean_score",
        col("score_sum_pico").cast("double") / col("n_scored"))
    val thr = cut match {
      case TertileCut.Exact =>
        per.agg(sort_array(collect_list(col("mean_score"))).as("ms"),
            count(lit(1)).as("n"))
          .select(
            element_at(col("ms"), ceil(col("n") / lit(3.0)).cast("int"))
              .as("__t_lo"),
            element_at(col("ms"), ceil(col("n") * lit(2) / lit(3.0)).cast("int"))
              .as("__t_hi"))
      case TertileCut.Approx(accuracy) =>
        per.agg(percentile_approx(col("mean_score"),
            array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("t"))
          .select(col("t")(0).as("__t_lo"), col("t")(1).as("__t_hi"))
    }
    per.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col("mean_score") >= col("__t_hi"), "head")
          .when(col("mean_score") >= col("__t_lo"), "middle")
          .otherwise("tail"))
      .drop("__t_lo", "__t_hi", "mean_score")
  }

  /** [[ccnetBuckets]] with PER-GROUP tertiles — the cut CCNet actually
    * ships: Wenzek et al. partition each LANGUAGE at its own thresholds
    * (a Wikipedia-trained LM scores languages on incomparable scales, so
    * one global cut would label whole low-resource languages "tail").
    * `groupCol` is typically the language column; a doc is head/middle/
    * tail relative to its own group's score distribution.
    *
    * Scale shape: identical to [[ccnetBuckets]] plus one DOC-SIZED join
    * to attach the group label (the corpus text is never rescanned) —
    * thresholds via ONE groupBy aggregate (rows = #groups), labels via a
    * broadcast join on the group key. Tertiles are the exact order
    * statistics of [[TertileCut.Exact]], per group. Returns
    * `(idCol, groupCol, n_scored, score_sum_pico, bucket)`. */
  def ccnetBucketsGrouped(docs: DataFrame, model: LmModel, textCol: String,
                          idCol: String, groupCol: String): DataFrame = {
    val per = scoreTokens(docs, model, textCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(round(col("score") * lit(1e12)).cast("long")).as("score_sum_pico"))
      .withColumn("mean_score",
        col("score_sum_pico").cast("double") / col("n_scored"))
      .join(docs.select(col(idCol), col(groupCol)).dropDuplicates(idCol),
        Seq(idCol))
    val thr = per.groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("mean_score"))).as("ms"),
        count(lit(1)).as("n"))
      .select(col(groupCol),
        element_at(col("ms"), ceil(col("n") / lit(3.0)).cast("int"))
          .as("__t_lo"),
        element_at(col("ms"), ceil(col("n") * lit(2) / lit(3.0)).cast("int"))
          .as("__t_hi"))
    per.join(broadcast(thr), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("n_scored"), col("score_sum_pico"),
        when(col("mean_score") >= col("__t_hi"), "head")
          .when(col("mean_score") >= col("__t_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }
}
