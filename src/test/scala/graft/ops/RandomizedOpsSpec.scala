package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Randomized model checks: each operator is compared against a
  * brute-force Scala-collections model on seeded random inputs (fixed
  * seeds — fully deterministic, no flaky reruns). These catch the
  * interaction cases hand-written examples miss: tie-breaks at equal
  * timestamps, gap boundaries, hash-order skew vs the pre-filter.
  */
class RandomizedOpsSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin matches the brute-force model on random data (ties included)") {
    val rnd = new scala.util.Random(11L)
    for (round <- 1 to 5) {
      // coarse timestamp range forces many exact-tie collisions
      val left = Seq.fill(40)((rnd.nextInt(4).toLong, rnd.nextInt(20).toLong))
      val right = Seq.fill(30)(
        (rnd.nextInt(4).toLong, rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
      val out = Relational.asofJoin(
          left.toDF("k", "ts"), right.toDF("k", "rts", "p"),
          Seq("k"), "ts", "rts", Seq("p"))
        .select("k", "ts", "p").as[(Long, Long, Option[Long])]
        .collect().sortBy(r => (r._1, r._2, r._3)).toSeq
      // model: latest right row at or before ts; ties on rts resolve to the
      // max payload (the window orders right rows by the payload struct,
      // and the carry-forward takes the LAST one)
      val model = left.map { case (k, ts) =>
        val cands = right.filter(r => r._1 == k && r._2 <= ts)
        (k, ts, if (cands.isEmpty) None else Some(cands.maxBy(r => (r._2, r._3))._3))
      }.sortBy(r => (r._1, r._2, r._3))
      assert(out === model, s"round $round")
    }
  }

  test("sessionize matches the brute-force model on random gaps") {
    val rnd = new scala.util.Random(23L)
    for (round <- 1 to 5) {
      val gap = 1L + rnd.nextInt(10)
      val events = Seq.fill(60)((rnd.nextInt(3).toLong, rnd.nextInt(100).toLong))
        .distinct // equal (key, ts) duplicates don't affect numbering; drop for a clean model
      val out = Relational.sessionize(events.toDF("user", "ts"), Seq("user"), "ts", gap)
        .select("user", "ts", "session_id").as[(Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      val model = events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val sorted = es.map(_._2).sorted
        val ids = sorted.zip(0L +: sorted).scanLeft(0L) {
          case (sid, (cur, prev)) => if (sid == 0L || cur - prev > gap) sid + 1 else sid
        }.tail
        sorted.zip(ids).map { case (ts, sid) => (u, ts, sid) }
      }.sortBy(r => (r._1, r._2))
      assert(out === model, s"round $round gap=$gap")
    }
  }

  test("stratifiedSample / weightedMixture / upsampled match md5-hash models") {
    val rnd = new scala.util.Random(53L)
    def score(id: Long): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8)
    for (round <- 1 to 3) {
      val rows = (1L to 70L).map(i => (i, if (rnd.nextBoolean()) "x" else "y"))
      val df = rows.toDF("id", "stratum")
      val n = 1 + rnd.nextInt(10)
      val got = Sampling.stratifiedSample(df, Seq("stratum"), n, "id")
        .select("id").as[Long].collect().toSet
      val expect = rows.groupBy(_._2).values.flatMap(
        _.map(_._1).sortBy(id => (score(id), id)).take(n)).toSet
      assert(got === expect, s"round $round stratified n=$n")

      val p = 0.1 + 0.2 * rnd.nextInt(4)
      val thr = Sampling.hexThreshold(p)
      val mixGot = Sampling.weightedMixture(Seq((df, p)), "id")
        .select("id").as[Long].collect().toSet
      assert(mixGot === rows.map(_._1).filter(score(_) < thr).toSet,
        s"round $round mixture p=$p")

      val w = 1 + rnd.nextInt(3) + 0.5
      val upGot = Sampling.upsampled(df, "id", w)
        .groupBy("id").count().as[(Long, Long)].collect().toMap
      val whole = w.toLong
      val fracThr = Sampling.hexThreshold(w - whole)
      rows.map(_._1).foreach { id =>
        val exp = whole + (if (score(id) < fracThr) 1L else 0L)
        assert(upGot.getOrElse(id, 0L) === exp, s"round $round upsample id=$id")
      }
    }
  }

  test("tokenBudgetSample two-pass equals the exact model under random skew") {
    val rnd = new scala.util.Random(37L)
    for (round <- 1 to 5) {
      // heavy-tailed token counts: the pre-filter estimate is most wrong here
      val rows = (1L to 80L).map(i =>
        (i, if (rnd.nextInt(10) == 0) 200L + rnd.nextInt(800) else 1L + rnd.nextInt(20)))
      val total = rows.map(_._2).sum
      val budget = 1L + (total * (1 + rnd.nextInt(8)) / 10)
      val out = Sampling.tokenBudgetSample(rows.toDF("id", "n_tokens"),
          "id", "n_tokens", budget)
        .select("id").as[Long].collect().toSet
      val ordered = rows.sortBy { case (id, _) =>
        (org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), id)
      }
      val cum = ordered.scanLeft(0L)(_ + _._2)
      val model = ordered.zip(cum).takeWhile(_._2 < budget).map(_._1._1).toSet
      assert(out === model, s"round $round budget=$budget total=$total")
    }
  }

  test("perKeyCap equals exact top-n per key under skew, tight safety, and null keys") {
    val rnd = new scala.util.Random(71L)
    def score(id: Long): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8)
    // a tight key: its 40 ids all hash into the top quarter, so for small
    // n its 4n/count hash prefix holds no survivor and the under-fill
    // fallback has to fire
    val tight = Iterator.from(1000).map(_.toLong).filter(score(_) >= "c0000000")
      .take(40).map(i => (i, Option("tight"))).toSeq
    for (round <- 1 to 4) {
      // Zipf-ish keys: one hot key holds most rows, plus a null-key group
      val rows = (1L to 120L).map { i =>
        val k = rnd.nextInt(10) match {
          case 0 => Option.empty[String]
          case j if j <= 6 => Some("hot")
          case j => Some(s"k$j")
        }
        (i, k)
      } ++ tight
      val n = 1 + rnd.nextInt(12)
      val got = Sampling.perKeyCap(rows.toDF("id", "k"), "k", "id", n)
        .select("id").as[Long].collect().toSet
      val expect = rows.groupBy(_._2).values.flatMap(
        _.map(_._1).sortBy(id => (score(id), id)).take(n)).toSet
      assert(got === expect, s"round $round n=$n")
    }
  }

  test("skewReport surfaces hot and null keys; partitionStats counts rows") {
    val rows = Seq.fill(60)(("hot", 1)) ++ Seq.fill(25)((null: String, 2)) ++
      (1 to 15).map(i => (s"k$i", 3))
    val df = rows.toDF("key", "v")
    val rep = Diagnostics.skewReport(df, Seq("key", "v"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val keyRows = rep.filter(_._1 == "key")
    assert(keyRows.take(2).map(r => (r._2, r._3)).toSeq ===
      Seq(("hot", 60L), ("NULL", 25L)))
    assert(math.abs(keyRows.head._4 - 0.6) < 1e-12)
    val vRows = rep.filter(_._1 == "v")
    assert(vRows.head._2 === "1" && vRows.head._3 === 60L)
    assert(rep.count(_._1 == "key") === 3) // top-k bound respected
    val parts = Diagnostics.partitionStats(df.repartition(4))
      .collect().map(_.getLong(1))
    assert(parts.sum === rows.size.toLong)
  }

  test("hashSplit matches the md5-interval model; splits are growth-stable") {
    def score(id: Long): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8)
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val t1 = Sampling.hexThreshold(0.8); val t2 = Sampling.hexThreshold(0.9)
    def model(id: Long): String =
      if (score(id) < t1) "train" else if (score(id) < t2) "val" else "test"
    val ids = (1L to 400L)
    val got = Sampling.hashSplit(ids.toDF("id"), "id", fr)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got === ids.map(i => i -> model(i)).toMap)
    // growth stability: the 400-row assignment is a restriction of the
    // 4000-row assignment — no doc migrates when the corpus grows
    val grown = Sampling.hashSplit((1L to 4000L).toDF("id"), "id", fr)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(ids.forall(i => grown(i) == got(i)))
    // all three splits non-empty at n=400 and roughly proportioned
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet === Set("train", "val", "test"))
    assert(sizes("train") > sizes("val") && sizes("train") > sizes("test"))
    // null ids land in the LAST split, deterministically
    val withNull = Sampling.hashSplit(
      Seq(Some(1L), None).toDF("id"), "id", fr)
      .select("split").as[String].collect()
    assert(withNull.contains("test"))
  }

  test("clusterSplit: every near-dup component shares ONE split, matching " +
      "the union-find + md5-interval model on random pair lists") {
    def score(id: Long): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8)
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val t1 = Sampling.hexThreshold(0.8); val t2 = Sampling.hexThreshold(0.9)
    def label(cluster: Long): String =
      if (score(cluster) < t1) "train"
      else if (score(cluster) < t2) "val" else "test"
    val rnd = new scala.util.Random(97L)
    val ids = (1L to 200L)
    val pairs = Seq.fill(120)(
      (1L + rnd.nextInt(200), 1L + rnd.nextInt(200))).filter(p => p._1 != p._2)
    // driver-side union-find model
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = Sampling.clusterSplit(ids.toDF("doc_id"), "doc_id",
        pairs.toDF("id_a", "id_b"), fr)
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect()
    assert(got.length === 200)
    got.foreach { case (id, cluster, split) =>
      assert(cluster === find(id), s"doc $id cluster")
      assert(split === label(cluster), s"doc $id split")
    }
    // the leakage property stated directly: both ends of every pair agree
    val byId = got.map(g => g._1 -> g._3).toMap
    pairs.foreach { case (a, b) => assert(byId(a) === byId(b), s"pair $a-$b") }
    // empty pair list degrades to hashSplit exactly (cluster == own id)
    val solo = Sampling.clusterSplit(ids.toDF("doc_id"), "doc_id",
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), fr)
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect()
    solo.foreach { case (id, cluster, split) =>
      assert(cluster === id); assert(split === label(id))
    }
    // reserved output/intermediate columns fail loudly, never silently
    // overwrite or turn into an ambiguous-reference error downstream
    Seq("component", "keep", "cluster", "split").foreach { c =>
      val e = intercept[IllegalArgumentException] {
        Sampling.clusterSplit(ids.toDF("doc_id").withColumn(c, lit(1)),
          "doc_id", pairs.toDF("id_a", "id_b"), fr)
      }
      assert(e.getMessage.contains(c))
    }
  }

  test("clusterSplit null/empty-text discipline: the sentinel-keyed pair " +
      "recipe keeps null docs singletons and empty docs one cluster") {
    // the q220 recipe: prefix key with a per-doc sentinel for NULL text,
    // so Spark (equi-join pairs) and SQL (PARTITION BY) agree — a bare
    // prefix key would diverge: Spark drops null-key docs from pairs
    // (singletons) while PARTITION BY groups all NULLs together
    val docs = Seq(
      (1L, Some("shared-prefix alpha")), (2L, Some("shared-prefix beta")),
      (3L, None), (4L, None),            // null text: must stay singletons
      (5L, Some("")), (6L, Some("")),    // empty text: ONE shared cluster
      (7L, Some("unique body"))
    ).toDF("doc_id", "text")
    val keyed = docs.select(col("doc_id"),
      coalesce(substring(col("text"), 1, 8),
        concat(lit("__null__"), col("doc_id"))).as("k"))
    val reps = keyed.groupBy(col("k"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
    val pairs = keyed.join(reps.where(col("n") > 1), Seq("k"))
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.clusterSplit(docs.select(col("doc_id")), "doc_id",
        pairs, fr)
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("temperatureMixture matches the md5-threshold model; shares follow size^alpha") {
    val rnd = new scala.util.Random(53L)
    def md5hex8(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    for (round <- 1 to 3) {
      // skewed sizes so alpha < 1 visibly boosts the small source
      val sizes = Seq("big" -> (400 + rnd.nextInt(100)), "small" -> (30 + rnd.nextInt(20)))
      var nextId = 0L
      val srcRows = sizes.map { case (name, k) =>
        name -> Seq.fill(k) { nextId += 1; (nextId, 1L + rnd.nextInt(100)) }
      }
      val budget = 5000L
      val sources = srcRows.map { case (n, rows) => n -> rows.toDF("id", "n") }
      val out = Sampling.temperatureMixture(sources, "id", "n", budget)
        .select("id", "source").as[(Long, String)].collect().toSet
      // straight-line model: exact totals, sqrt weights, min(1, ·) probs,
      // then the same md5-prefix threshold per row
      val totals = srcRows.map { case (n, rows) => n -> rows.map(_._2).sum }
      val wSum = totals.map(t => math.sqrt(t._2.toDouble)).sum
      val model = srcRows.flatMap { case (name, rows) =>
        val total = totals.toMap.apply(name)
        val p = math.min(1.0, math.sqrt(total.toDouble) / wSum * budget / total.toDouble)
        val thr = f"${math.round(p * 4294967296.0).min(4294967295L)}%08x"
        rows.collect { case (id, _) if p >= 1.0 || md5hex8(id) < thr => (id, name) }
      }.toSet
      assert(out === model, s"round $round")
      // the α=0.5 boost: the small source keeps a larger FRACTION of its
      // rows than the big one (its per-token budget share is higher)
      val keptFrac = srcRows.map { case (name, rows) =>
        name -> out.count(_._2 == name).toDouble / rows.size
      }.toMap
      assert(keptFrac("small") > keptFrac("big"), s"round $round $keptFrac")
    }
  }

  test("weightedSample matches the integer-priority model; weights tilt inclusion") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def priority(id: Long, w: Long): Long =
      (java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) << 31) / w
    val rnd = new scala.util.Random(99L)
    val rows = (0 until 500).map(i =>
      (i.toLong, rnd.nextInt(50).toLong - 2L)) // some weights <= 0
    val got = Sampling.weightedSample(
        rows.toDF("id", "w"), "id", "w", n = 50)
      .select(col("id")).as[Long].collect().toSet
    val want = rows.filter(_._2 > 0L)
      .sortBy { case (id, w) => (priority(id, w), id) }
      .take(50).map(_._1).toSet
    assert(got === want)
    // heavier rows win more: split ids into weight-1 and weight-20
    // halves, the heavy half must dominate the sample
    val tilted = (0 until 1000).map(i =>
      (i.toLong, if (i % 2 == 0) 1L else 20L))
    val sample = Sampling.weightedSample(
        tilted.toDF("id", "w"), "id", "w", n = 200)
      .select(col("id")).as[Long].collect()
    val heavy = sample.count(_ % 2 == 1)
    assert(heavy > 140, s"heavy half got only $heavy of 200")
  }

  test("scd2 matches the interval model on random change logs") {
    val rnd = new scala.util.Random(123L)
    val log = (0 until 60).flatMap { _ =>
      val key = rnd.nextInt(5).toLong
      Seq((key, rnd.nextInt(1000).toLong, s"s${rnd.nextInt(3)}"))
    }.distinct
      // unique (key, ts): keep one row per pair
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val got = Relational.scd2(log.toDF("k", "ts", "state"),
        Seq("k"), "ts", Seq("state"))
      .as[(Long, String, Long, Option[Long])].collect().toSet
    val want = log.groupBy(_._1).flatMap { case (k, rows) =>
      val sorted = rows.sortBy(_._2)
      val collapsed = sorted.foldLeft(Vector.empty[(Long, String)]) {
        case (acc, (_, ts, st)) =>
          if (acc.nonEmpty && acc.last._2 == st) acc else acc :+ (ts, st)
      }
      collapsed.zipWithIndex.map { case ((ts, st), i) =>
        (k, st, ts,
          if (i + 1 < collapsed.size) Some(collapsed(i + 1)._1) else None)
      }
    }.toSet
    assert(got === want)
    // duplicate (key, ts) fails loudly
    val e = intercept[IllegalArgumentException] {
      Relational.scd2(
        Seq((1L, 10L, "a"), (1L, 10L, "b")).toDF("k", "ts", "state"),
        Seq("k"), "ts", Seq("state"))
    }
    assert(e.getMessage.contains("duplicate"))
  }
}
