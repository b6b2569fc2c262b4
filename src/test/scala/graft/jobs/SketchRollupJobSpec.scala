package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Daily sketch rollup ([[SketchRollupJob]]): idempotent per-day
  * artifacts whose N-row merges answer range queries exactly like a
  * single pass over the raw union. */
class SketchRollupJobSpec extends SparkSpec {
  import spark.implicits._

  private def day(seed: Int, users: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until 200).map { _ =>
      (users(rnd.nextInt(users.size)), rnd.nextInt(1000).toDouble)
    }.toDF("user_id", "value")
  }

  test("two-day rollup: range reads merge exactly; day re-run idempotent") {
    val base = SparkSpec.tempDir("graft_sketchroll").toString
    val d1 = day(1, (1L to 40L))
    val d2 = day(2, (25L to 70L))
    SketchRollupJob.runDay(spark, d1, "20240101", base, "user_id", "value")
    SketchRollupJob.runDay(spark, d2, "20240102", base, "user_id", "value")
    // merged actives over both days == one-pass estimate over the union
    // (HLL register merges are order-free, and both paths use the same
    // lgK — identical sketch state, identical estimate)
    val merged = SketchRollupJob.activeUsers(spark, base,
        "20240101", "20240102")
      .as[(Double, Long)].collect().head
    val onePass = d1.unionAll(d2)
      .agg(graft.udafs.Sketches.hllCardinality(
        graft.udafs.Sketches.hllSketch(col("user_id"))).as("c"))
      .as[Double].collect().head
    assert(merged._1 === onePass)
    assert(merged._2 === 400L)
    // exact regime: well below the lgK=12 sparse threshold, so the
    // estimate is the exact distinct count of the union
    val unionDistinct = d1.unionAll(d2).select(col("user_id"))
      .distinct().count()
    assert(math.round(merged._1) === unionDistinct)
    // merged quantile == one-pass KLL over the union (below-k exact
    // regime: 400 values < k=200 per sketch... use the rank band
    // instead: both sketches are below capacity so merge is exact)
    val q = SketchRollupJob.read(spark, base, "20240101", "20240102")
      .agg(kll_sketch_get_quantile_double(
        kll_merge_agg_double(col("kll_value"), lit(200)), lit(0.5)))
      .as[Double].collect().head
    val exact = d1.unionAll(d2).select(col("value")).as[Double]
      .collect().sorted
    // KLL below capacity stores values exactly; the merged sketch holds
    // 400 > k=200 so compaction may kick in — assert a rank band
    val rank = exact.count(_ <= q).toDouble / exact.length
    assert(rank > 0.40 && rank < 0.60, s"p50 estimate $q at rank $rank")
    // day-range pruning: a single-day read answers that day alone
    val d1only = SketchRollupJob.activeUsers(spark, base,
        "20240101", "20240101")
      .as[(Double, Long)].collect().head
    val d1Distinct = d1.select(col("user_id")).distinct().count()
    assert(math.round(d1only._1) === d1Distinct && d1only._2 === 200L)
    // re-run day 2: the partition is REPLACED, not double-merged
    SketchRollupJob.runDay(spark, d2, "20240102", base, "user_id", "value")
    val again = SketchRollupJob.activeUsers(spark, base,
        "20240101", "20240102")
      .as[(Double, Long)].collect().head
    assert(again === merged)
    assert(SketchRollupJob.read(spark, base, "20240101", "20240102")
      .count() === 2L)
  }

  test("heavy keys and join-size planning ride the same daily rows") {
    val base = SparkSpec.tempDir("graft_sketchroll2").toString
    val d1 = day(1, (1L to 40L))
    val d2 = day(2, (25L to 60L))
    // the 60-key union vocabulary fits the job's 64 Misra–Gries counters:
    // the exact regime — merged candidates ARE the exact union counts
    SketchRollupJob.runDay(spark, d1, "20240101", base, "user_id", "value")
    SketchRollupJob.runDay(spark, d2, "20240102", base, "user_id", "value")
    val got = SketchRollupJob.heavyKeys(spark, base,
        "20240101", "20240102")
      .as[(String, Long)].collect().toMap
    val exact = d1.unionAll(d2).groupBy(col("user_id").cast("string"))
      .count().as[(String, Long)].collect().toMap
    assert(got === exact)
    // join-size planning between the two days from artifacts alone:
    // the q186 4-sigma band around the exact overlap join size
    val s1 = SketchRollupJob.keySketch(spark, base, "20240101", "20240101")
    val s2 = SketchRollupJob.keySketch(spark, base, "20240102", "20240102")
    val est = graft.udafs.JoinSize.estimate(s1, s2)
    val c1 = d1.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    val c2 = d2.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    val exactJoin = c1.map { case (k, n) => n * c2.getOrElse(k, 0L) }.sum
    val f2a = c1.values.map(n => n * n).sum
    val f2b = c2.values.map(n => n * n).sum
    val err = est - exactJoin
    assert(err * err * 64 <= 16L * f2a * f2b,
      s"estimate $est vs exact $exactJoin outside the 4-sigma band")
    // idempotent re-run leaves the merged candidates unchanged
    SketchRollupJob.runDay(spark, d2, "20240102", base, "user_id", "value")
    val again = SketchRollupJob.heavyKeys(spark, base,
        "20240101", "20240102")
      .as[(String, Long)].collect().toMap
    assert(again === exact)
  }
}
