package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    // (user, ts, event_id, kind)
    (1L, 100L, 1L, "a"), (1L, 200L, 2L, "b"), (1L, 150L, 3L, "a"),
    (2L, 50L, 4L, "c"), (2L, 60L, 5L, "c")
  ).toDF("user", "ts", "event_id", "kind")

  test("latestPerKey keeps exactly the max-order row per key") {
    val out = Relational.latestPerKey(events, Seq("user"),
      Seq(col("ts").desc, col("event_id").desc))
      .select("user", "event_id").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 2L -> 5L))
  }

  test("argminPerKey returns earliest payload per key with partial agg") {
    val out = Relational.argminPerKey(events, Seq("user", "kind"), col("ts"), Seq("event_id"))
      .as[(Long, String, Long)].collect().toSet
    assert(out === Set((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 4L)))
  }

  test("antiJoinDedupe drops rows whose key exists in history") {
    val history = Seq((1L, "a"), (2L, "c")).toDF("user", "kind")
    val out = Relational.antiJoinDedupe(events, history, Seq("user", "kind"))
      .select("event_id").as[Long].collect().toSet
    assert(out === Set(2L)) // only (1,b) survives
  }

  test("incrementalDedupe = anti-join then earliest-per-key") {
    val history = Seq((9L, "zz")).toDF("user", "kind") // nothing matches
    val out = Relational.incrementalDedupe(events, history, Seq("user", "kind"),
      col("ts"), Seq("event_id"))
      .as[(Long, String, Long)].collect().toSet
    assert(out === Set((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 4L)))
  }

  test("sessionize increments session ids on gaps greater than the threshold") {
    val df = Seq(
      (1L, 100L), (1L, 150L), (1L, 151L),  // session 1
      (1L, 300L),                          // gap 149 > 100 → session 2
      (2L, 100L))                          // other key → its own session 1
      .toDF("user", "ts")
    val out = Relational.sessionize(df, Seq("user"), "ts", gap = 100L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 100L, 1L), (1L, 150L, 1L), (1L, 151L, 1L),
      (1L, 300L, 2L), (2L, 100L, 1L)))
    // boundary: gap exactly equal to threshold stays in-session
    val edge = Relational.sessionize(
      Seq((1L, 0L), (1L, 100L)).toDF("user", "ts"), Seq("user"), "ts", 100L)
      .select("session_id").as[Long].collect().toSet
    assert(edge === Set(1L))
  }

  test("asofJoin attaches the latest right row at or before each left ts") {
    val left = Seq((1L, 10L), (1L, 20L), (1L, 25L), (2L, 5L), (3L, 30L))
      .toDF("user", "ts")
    val right = Seq((1L, 10L, "a"), (1L, 21L, "b"), (2L, 9L, "x"))
      .toDF("user", "rts", "tag")
    val out = Relational.asofJoin(left, right, Seq("user"), "ts", "rts", Seq("tag"))
      .select("user", "ts", "tag")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(out === Set(
      (1L, 10L, Some("a")),  // inclusive: right at exactly ts matches
      (1L, 20L, Some("a")),  // 21 is in the future
      (1L, 25L, Some("b")),
      (2L, 5L, None),        // right row is later -> no match
      (3L, 30L, None)))      // key absent on the right
  }

  test("asofJoin: a matched right row's null payload stays null (no stitching)") {
    val left = Seq((1L, 10L), (1L, 20L)).toDF("user", "ts")
    val right = Seq((1L, 5L, Option("x"), Option(7L)),
      (1L, 15L, Option.empty[String], Option(9L))).toDF("user", "rts", "tag", "m")
    val out = Relational.asofJoin(left, right, Seq("user"), "ts", "rts",
      Seq("tag", "m"))
      .select("ts", "tag", "m")
      .as[(Long, Option[String], Option[Long])].collect().toSet
    // ts=20 matches the rts=15 row: its tag is GENUINELY null and must not
    // be backfilled from the rts=5 row; both fields come from the same row
    assert(out === Set((10L, Some("x"), Some(7L)), (20L, None, Some(9L))))
  }

  test("asofJoin rejects frames already carrying its reserved working columns") {
    val left = Seq((1L, 10L, 5L)).toDF("user", "ts", "__ts")
    val right = Seq((1L, 9L, "x")).toDF("user", "rts", "tag")
    val e = intercept[IllegalArgumentException] {
      Relational.asofJoin(left, right, Seq("user"), "ts", "rts", Seq("tag"))
    }
    assert(e.getMessage.contains("__ts"))
    val right2 = Seq((1L, 9L, "x", 0)).toDF("user", "rts", "tag", "__side")
    intercept[IllegalArgumentException] {
      Relational.asofJoin(left.drop("__ts"), right2, Seq("user"), "ts", "rts", Seq("tag"))
    }
  }

  test("asofJoin with a MapType payload needs an explicit tieBreak") {
    val left = Seq((1L, 10L), (1L, 20L)).toDF("user", "ts")
    val right = Seq((1L, 5L, Map("k" -> 1L), "a"), (1L, 15L, Map("k" -> 2L), "b"))
      .toDF("user", "rts", "attrs", "tag")
    // default tie-break = the payload struct, which a MapType makes
    // non-orderable — must fail loudly at plan time, not at analysis
    val e = intercept[IllegalArgumentException] {
      Relational.asofJoin(left, right, Seq("user"), "ts", "rts", Seq("attrs"))
    }
    assert(e.getMessage.contains("tieBreak"))
  }

  test("tokenBudgetSample two-pass pre-filter returns the exact global answer") {
    // expected set: ids in md5-hash order until the budget is crossed —
    // computed independently of the operator's pre-filter/fallback paths
    def expected(rows: Seq[(Long, Long)], budget: Long): Set[Long] = {
      val ordered = rows.sortBy { case (id, _) =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8) -> id
      }
      val cum = ordered.scanLeft(0L)(_ + _._2)
      ordered.zip(cum).takeWhile { case (_, before) => before < budget }.map(_._1._1).toSet
    }
    val uniform = (1L to 100L).map(i => (i, 10L))
    val skewed = (1L to 99L).map(i => (i, 1L)) :+ (100L, 901L)
    for ((rows, budget) <- Seq((uniform, 95L), (uniform, 400L),
        (skewed, 450L), (skewed, 40L))) {
      val out = Sampling.tokenBudgetSample(rows.toDF("id", "n_tokens"),
        "id", "n_tokens", budget).select("id").as[Long].collect().toSet
      assert(out === expected(rows, budget), s"budget=$budget")
    }
    // hash-correlated lengths: the 90 lowest-hash ids carry 1 token each
    // and the rest 1000, so the 2×budget hash prefix under-fills and the
    // fallback must still produce the identical set
    val byHash = (1L to 100L).sortBy(i =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString).take(8) -> i)
    val correlated = byHash.zipWithIndex.map { case (id, r) => (id, if (r < 90) 1L else 1000L) }
    val tight = Sampling.tokenBudgetSample(correlated.toDF("id", "n_tokens"),
      "id", "n_tokens", 450L).select("id").as[Long].collect().toSet
    assert(tight === expected(correlated, 450L))
  }

  test("sampling null edges: null ids sort last, null token counts cost 0") {
    // null ids must never displace hashable rows from a stratified sample
    val strat = Seq((Option(1L), "a"), (Option.empty[Long], "a"), (Option(3L), "a"))
      .toDF("id", "s")
    val picked = Sampling.stratifiedSample(strat, Seq("s"), 2, "id")
      .select("id").as[Option[Long]].collect().toSet
    assert(picked === Set(Some(1L), Some(3L)))
    // but they ARE drawn when the stratum would come up short
    assert(Sampling.stratifiedSample(strat, Seq("s"), 3, "id").count() === 3L)
    // null token counts: the doc is kept at zero cost, not silently lost
    val toks = Seq((1L, Option(10L)), (2L, Option.empty[Long]), (3L, Option(10L)))
      .toDF("id", "n_tokens")
    val kept = Sampling.tokenBudgetSample(toks, "id", "n_tokens", 100L)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L))
  }

  test("stratifiedSample: exactly n per stratum, deterministic, id-keyed") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "stratum")
    val a = Sampling.stratifiedSample(df, Seq("stratum"), 7, "id")
    val b = Sampling.stratifiedSample(df.repartition(13), Seq("stratum"), 7, "id")
    val sa = a.as[(Long, String)].collect().toSet
    assert(a.groupBy("stratum").count().as[(String, Long)].collect().toMap
      === Map("even" -> 7L, "odd" -> 7L))
    // partition-layout-independent: same rows either way
    assert(b.as[(Long, String)].collect().toSet === sa)
    // small strata come back whole
    val tiny = Sampling.stratifiedSample(df.where(col("id") <= 3), Seq("stratum"), 7, "id")
    assert(tiny.count() === 3L)
  }

  test("upsampled materializes floor(w)+Bernoulli(frac) epoch-tagged copies") {
    val df = (1L to 400L).toDF("id")
    val out = Sampling.upsampled(df, "id", 2.5)
    val counts = out.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(c => c == 2L || c == 3L))
    val n3 = counts.values.count(_ == 3L)
    assert(n3 > 120 && n3 < 280, s"~half should get 3 copies, got $n3")
    // epochs are 0..copies-1
    assert(out.where(col("id") === 1L).select("epoch").as[Long].collect().sorted
      === (0L until counts(1L)).toArray)
    // w < 1 downsamples (some rows vanish entirely)
    val down = Sampling.upsampled(df, "id", 0.5)
    assert(down.count() < 400L && down.select("epoch").distinct().count() === 1L)
  }

  test("tokenBudgetSample keeps the smallest hash-prefix set covering the budget") {
    val df = (1L to 100L).map(i => (i, 10L)).toDF("id", "n_tokens")
    val out = Sampling.tokenBudgetSample(df, "id", "n_tokens", 95L)
    assert(out.count() === 10L) // 9 docs = 90 < 95; the 10th crosses the budget
    // determinism: same set on a different partition layout
    val again = Sampling.tokenBudgetSample(df.repartition(7), "id", "n_tokens", 95L)
    assert(again.select("id").as[Long].collect().toSet
      === out.select("id").as[Long].collect().toSet)
    // budget beyond the corpus keeps everything
    assert(Sampling.tokenBudgetSample(df, "id", "n_tokens", 100000L).count() === 100L)
  }

  test("weightedMixture keeps w=1 sources whole and ~w of the rest, deterministically") {
    val big = (1L to 1000L).map(i => (i, "crawl")).toDF("id", "src")
    val curated = (2000L to 2009L).map(i => (i, "wiki")).toDF("id", "src")
    val out = Sampling.weightedMixture(Seq((big, 0.25), (curated, 1.0)), "id")
    val bySrc = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc("wiki") === 10L)
    assert(bySrc("crawl") > 150L && bySrc("crawl") < 350L) // ~250 expected
    // reproducible: second run selects the identical id set
    val again = Sampling.weightedMixture(Seq((big, 0.25), (curated, 1.0)), "id")
    assert(again.select("id").as[Long].collect().sorted
      === out.select("id").as[Long].collect().sorted)
  }

  test("Checks: violations come back as rows; the report counts exactly") {
    val child = Seq(Some(1L), Some(1L), Some(3L), None).toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    // uniqueness: key 1 occurs twice
    val uniq = Checks.uniqueViolations(child, Seq("fk"))
      .as[(Option[Long], Long)].collect()
    assert(uniq.toSeq === Seq((Some(1L), 2L)))
    // referential: 3 has no parent; the NULL key is a violation too
    val refv = Checks.referentialViolations(child, Seq("fk"),
        parent, Seq("pk"))
      .as[Option[Long]].collect().toSet
    assert(refv === Set(Some(3L), None))
    // nulls + expectation (null cond counts as violation)
    assert(Checks.nullViolations(child, Seq("fk")).count() === 1L)
    val ex = Checks.expectViolations(child, col("fk") <= 1L)
      .as[Option[Long]].collect().toSet
    assert(ex === Set(Some(3L), None))
    val rep = Checks.report(Seq(
        "uniq" -> Checks.uniqueViolations(child, Seq("fk")),
        "ref" -> Checks.referentialViolations(child, Seq("fk"), parent,
          Seq("pk")),
        "ok" -> Checks.expectViolations(parent, col("pk") >= 1L)))
      .as[(String, Long)].collect().toMap
    assert(rep === Map("uniq" -> 1L, "ref" -> 2L, "ok" -> 0L))
  }

  test("bloomSemiJoin is exactly the semi-join; unconfirmed is a superset") {
    val fact = (0L until 500L).map(i => (i, s"p$i")).toDF("k", "payload")
    val dim = (0L until 500L by 7L).map(Tuple1(_)).toDF("k")
    val bloom = graft.dedup.Dedup.keyBloom(dim, col("k"), 100L)
    val want = fact.join(dim, Seq("k"), "left_semi")
      .as[(Long, String)].collect().toSet
    val got = Relational.bloomSemiJoin(fact, dim, "k", bloom)
      .as[(Long, String)].collect().toSet
    assert(got === want)
    // count-sized builder path agrees
    val sized = Relational.bloomSemiJoin(fact, dim, "k",
        expectedItems = -1L, confirm = true)
      .as[(Long, String)].collect().toSet
    assert(sized === want)
    // confirm=false: no false negatives (superset of the true members),
    // never more than the fact side
    val loose = Relational.bloomSemiJoin(fact, dim, "k", bloom,
        confirm = false)
      .as[(Long, String)].collect().toSet
    assert(want.subsetOf(loose) && loose.size <= 500)
  }

  test("madOutliers: lower medians, MAD fence, sentinel-proof robustness") {
    // the 1000 sentinel wrecks a mean/stddev fence (mean ≈ 152, stddev
    // ≈ 370 — NOTHING flags at 2σ); the median never moves
    val a = Seq(10L, 10L, 10L, 12L, 14L, 16L, 1000L).map(("a", _))
    // even-count group: lower median (rank ⌈n/2⌉), not interpolation
    val b = Seq(1L, 3L, 5L, 7L).map(("b", _))
    val got = Checks.madOutliers(
        (a ++ b).toDF("k", "v"), "k", "v", kDeci = 50L)
      .as[(String, Long, Long, Long, Boolean)].collect()
    val byKey = got.groupBy(_._1)
    assert(byKey("a").forall(r => r._3 === 12L && r._4 === 2L))
    assert(byKey("a").filter(_._5).map(_._2).toSeq === Seq(1000L))
    assert(byKey("b").forall(r => r._3 === 3L && r._4 === 2L))
    assert(byKey("b").count(_._5) === 0) // absdev 4 · 10 = 40 ≤ 50·2
    // mad = 0 (majority-constant group): every deviating row flags —
    // the documented textbook caveat
    val c = Seq(5L, 5L, 5L, 9L).map(("c", _))
    val gotC = Checks.madOutliers(c.toDF("k", "v"), "k", "v")
      .as[(String, Long, Long, Long, Boolean)].collect()
    assert(gotC.filter(_._5).map(_._2).toSeq === Seq(9L))
    // non-integral values fail loudly (double casts differ across engines)
    val exc = intercept[IllegalArgumentException] {
      Checks.madOutliers(Seq(("a", 1.5)).toDF("k", "v"), "k", "v")
    }
    assert(exc.getMessage.contains("integral"))
  }

  test("profile: one-pass per-column stats with nulls and exact distincts") {
    val df = Seq((1L, Some("a")), (2L, None), (2L, Some("b")), (3L, Some("a")))
      .toDF("id", "tag")
    val p = Profile.profile(df, Seq("id", "tag"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") === (("id", 4L, 0L, 3L, "1", "3")))
    assert(p("tag") === (("tag", 4L, 1L, 2L, "a", "b")))
    val e = intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("equiDepthHistogram: exact order-statistic cuts, duplicates stay whole") {
    // distinct 1..8, k=4: boundaries at ranks 2,4,6 → values 2,4,6
    val got = Profile.equiDepthHistogram(
        (1L to 8L).map(Tuple1(_)).toDF("v"), "v", k = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 1L, 2L, 2L), (2L, 3L, 4L, 2L),
      (3L, 5L, 6L, 2L), (4L, 7L, 8L, 2L)))
    // a duplicate run spanning a boundary lands WHOLE in one bucket
    val dup = Seq(1L, 5L, 5L, 5L, 5L, 5L, 9L).map(Tuple1(_)).toDF("v")
    val gotDup = Profile.equiDepthHistogram(dup, "v", k = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // boundary = rank ceil(7/2)=4 → 5; all 5s ≤ boundary → bucket 1
    assert(gotDup.toSeq === Seq((1L, 1L, 5L, 6L), (2L, 9L, 9L, 1L)))
    // loud guards: empty input, non-integral column
    val e1 = intercept[IllegalArgumentException] {
      Profile.equiDepthHistogram(Seq.empty[Tuple1[Long]].toDF("v"), "v", 2)
    }
    assert(e1.getMessage.contains("no non-null values"))
    val e2 = intercept[IllegalArgumentException] {
      Profile.equiDepthHistogram(Seq(Tuple1(1.5)).toDF("v"), "v", 2)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("intervalJoin matches the brute-force range join, half-open bounds") {
    val rnd = new scala.util.Random(2026)
    // negative timestamps included: floor bucketing must stay exact
    val intervals = (0 until 120).map { i =>
      val st = rnd.nextLong() % 1000L
      (i.toLong, rnd.nextInt(5).toLong, st, st + rnd.nextInt(40).toLong)
    } // (iid, key, start, end) — some empty (end == start)
    val points = (0 until 300).map { j =>
      (j.toLong, rnd.nextInt(5).toLong, rnd.nextLong() % 1000L)
    } // (pid, key, ts)
    val got = Relational.intervalJoin(
        intervals.toDF("iid", "key", "st", "en"),
        points.toDF("pid", "key", "ts"),
        Seq("key"), "st", "en", "ts", bucketNanos = 7L, payload = Seq("pid"))
      .select(col("iid"), col("pid")).as[(Long, Long)].collect().sorted
    val want = (for {
      (iid, ik, st, en) <- intervals
      (pid, pk, ts) <- points
      if ik == pk && ts >= st && ts < en
    } yield (iid, pid)).sorted
    assert(got.toSeq === want)
    // boundary: start inclusive, end exclusive, exactly
    val one = Relational.intervalJoin(
        Seq((1L, 1L, 10L, 20L)).toDF("iid", "key", "st", "en"),
        Seq((1L, 1L, 10L), (2L, 1L, 19L), (3L, 1L, 20L), (4L, 1L, 9L))
          .toDF("pid", "key", "ts"),
        Seq("key"), "st", "en", "ts", bucketNanos = 100L, payload = Seq("pid"))
      .select(col("pid")).as[Long].collect().sorted
    assert(one.toSeq === Seq(1L, 2L))
    // working-column collisions fail loudly
    val e = intercept[IllegalArgumentException] {
      Relational.intervalJoin(
        Seq((1L, 1L, 1L, 2L)).toDF("__b", "key", "st", "en"),
        Seq((1L, 1L)).toDF("key", "ts"),
        Seq("key"), "st", "en", "ts", 10L, Seq("ts"))
    }
    assert(e.getMessage.contains("__b"))
  }

  test("percentileRank: rank()-1 model equality, ties, nulls, guard") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      (i.toLong, s"g${i % 3}",
        if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(12)))
    }
    val df = rows.toDF("id", "g", "v")
    val got = graft.ops.Relational.percentileRank(df, Seq("g"), "v")
      .select(col("id"), col("pct_micro"))
      .as[(Long, Option[Long])].collect().toMap
    // model: rank() − 1 over the raw rows (ties share a rank)
    val byGroup = rows.filter(_._3 != null).groupBy(_._2)
    val want = byGroup.values.flatMap { grp =>
      val n = grp.size
      grp.map { case (id, _, v) =>
        id -> (grp.count(_._3.intValue < v.intValue).toLong * 1000000L / n)
      }
    }.toMap
    rows.foreach { case (id, _, v) =>
      if (v == null) assert(got(id) === None, s"null row $id must rank null")
      else assert(got(id) === Some(want(id)), s"row $id")
    }
    // output-column collision fails loudly
    val e = intercept[IllegalArgumentException] {
      graft.ops.Relational.percentileRank(
        df.withColumnRenamed("v", "pct_micro"), Seq("g"), "pct_micro")
    }
    assert(e.getMessage.contains("pct_micro"))
  }

  test("percentileRankApprox: inclusive-rank band vs model, nulls, " +
      "small sketches exact, no window in the plan") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 600).map { i =>
      (i.toLong, s"g${i % 3}",
        if (rnd.nextInt(12) == 0) null
        else java.lang.Double.valueOf(rnd.nextGaussian() * 10.0))
    }
    val df = rows.toDF("id", "g", "v")
    val res = graft.ops.Relational.percentileRankApprox(df, Seq("g"), "v")
    val got = res.select(col("id"), col("pct_est"))
      .as[(Long, Option[Double])].collect().toMap
    // model: INCLUSIVE rank fraction (# values ≤ v) / n per group —
    // n = 200 per group ≤ sketch k, so KLL retains everything and the
    // estimate is EXACT (no randomized compaction ran)
    val byGroup = rows.filter(_._3 != null).groupBy(_._2)
    rows.foreach { case (id, g, v) =>
      if (v == null) assert(got(id) === None, s"null row $id must rank null")
      else {
        val grp = byGroup(g)
        val want = grp.count(_._3.doubleValue <= v.doubleValue).toDouble /
          grp.size
        assert(math.abs(got(id).get - want) < 1e-12,
          s"row $id: got ${got(id)}, want $want")
      }
    }
    // the escape hatch must actually escape: no window exchange — one
    // aggregation + a join, never a per-group sort of the raw rows
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window reintroduced:\n$plan")
    // collision guard, same contract as the exact sibling
    val e = intercept[IllegalArgumentException] {
      graft.ops.Relational.percentileRankApprox(
        df.withColumnRenamed("v", "pct_est"), Seq("g"), "pct_est")
    }
    assert(e.getMessage.contains("pct_est"))
    // global form (no keys) — one sketch, cross-joined broadcast
    val global = graft.ops.Relational.percentileRankApprox(
        df.where(col("v").isNotNull), Nil, "v")
      .select(col("pct_est")).as[Double].collect()
    assert(global.forall(r => r >= 0.0 && r <= 1.0) && global.length > 0)
  }

  test("Profile.drift: identical loads clean; null-rate and extremum drift flag") {
    import graft.ops.Profile
    val a = Seq((1L, "x"), (2L, "y"), (3L, null), (4L, "z"))
      .toDF("id", "s")
    // identical loads: nothing drifts
    val clean = Profile.drift(a, a, Seq("id", "s"))
      .select(col("col_name"), col("drifted"))
      .as[(String, Boolean)].collect().toMap
    assert(clean === Map("id" -> false, "s" -> false))
    // b: null rate of s jumps 250‰ → 750‰, id max moves 4 → 9
    val b = Seq((1L, null), (2L, null), (3L, null), (9L, "x"))
      .toDF("id", "s")
    val got = Profile.drift(a, b, Seq("id", "s"))
      .as[(String, Long, Long, Long, Long, Long, Long,
        Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    val s = got("s")
    assert(s._4 === 250L && s._5 === 750L && s._10, "null-rate drift")
    val id = got("id")
    assert(id._9 && id._10, "max change flags drift")
    // s alone still flags, and an unchanged column does not
    val lax = Profile.drift(a, b, Seq("s"))
      .select(col("drifted")).as[Boolean].head()
    assert(lax === true)
    val laxId = Profile.drift(a, a.where(col("id") < 99), Seq("id"))
      .select(col("drifted")).as[Boolean].head()
    assert(laxId === false)
  }

  test("fdViolations and inclusion: hand-checked contracts") {
    import graft.ops.{Checks, Profile}
    // u1 → one country (clean); u2 → two; u3 → real + null (violation:
    // the contract said ONE value)
    val df = Seq((1L, "de"), (1L, "de"), (2L, "de"), (2L, "fr"),
      (3L, "us"), (3L, null)).toDF("u", "c")
    val v = Checks.fdViolations(df, Seq("u"), "c")
      .as[(Long, Long, String, String)].collect().sortBy(_._1).toSeq
    assert(v.map(_._1) === Seq(2L, 3L))
    assert(v.head === ((2L, 2L, "de", "fr")))
    assert(v.last._2 === 2L) // null + "us"
    // inclusion: {1,2,3} vs {2,3,9}: 2 of 3 shared → 666‰; nulls drop
    val a = Seq(Some(1L), Some(2L), Some(3L), None).toDF("x")
    val b = Seq(2L, 3L, 9L, 9L).toDF("y")
    val inc = Profile.inclusion(a, "x", b, "y")
      .as[(Long, Long, Long)].head()
    assert(inc === ((3L, 2L, 666L)))
    // the full reference reads exactly 1000‰
    val full = Profile.inclusion(b, "y", b, "y")
      .as[(Long, Long, Long)].head()
    assert(full === ((3L, 3L, 1000L)))
  }

  test("winsorize: hand-checked fences, clamping, tiny groups, guards") {
    import graft.ops.Checks
    // group a: 1..10 → p10 fence = rank ⌈10·100/1000⌉ = rank 1 = 1,
    // p90 = rank 9 = 9; 10 clamps to 9. group b: single row — both
    // fences are that value, nothing moves
    val df = ((1 to 10).map(i => ("a", i.toLong)) :+ ("b", 42L))
      .toDF("k", "v")
    val got = Checks.winsorize(df, "k", "v",
        loPermille = 100L, hiPermille = 900L)
      .as[(String, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val a = got.filter(_._1 == "a")
    assert(a.forall(r => r._3 === 1L && r._4 === 9L))
    assert(a.map(_._5) === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 9L))
    assert(got.filter(_._1 == "b") === Seq(("b", 42L, 42L, 42L, 42L)))
    // guards: bad fences, non-integral value column
    assert(intercept[IllegalArgumentException] {
      Checks.winsorize(df, "k", "v", 900L, 100L)
    }.getMessage.contains("fences"))
    assert(intercept[IllegalArgumentException] {
      Checks.winsorize(Seq(("a", 1.5)).toDF("k", "v"), "k", "v")
    }.getMessage.contains("integral"))
  }

  test("benfordAudit: digit extraction, zero/negative handling, permilles") {
    import graft.ops.Checks
    // 19.5→1, -250.0→2 (abs), 0.7→⌊⌋=0 dropped, 0 dropped, 999→9, 12→1
    val df = Seq(19.5, -250.0, 0.7, 0.0, 999.0, 12.0).toDF("v")
    val got = Checks.benfordAudit(df, "v")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got.size === 9) // all nine digits present, zeros included
    val byDigit = got.map(r => r._1 -> r._2).toMap
    assert(byDigit === Map(1 -> 2L, 2 -> 1L, 3 -> 0L, 4 -> 0L, 5 -> 0L,
      6 -> 0L, 7 -> 0L, 8 -> 0L, 9 -> 1L))
    // permilles: 4 counted values → digit 1 = 500, digit 2 = 250
    assert(got.find(_._1 == 1).get._3 === 500L)
    assert(got.find(_._1 == 2).get._3 === 250L)
    // the pinned Benford table rides along
    assert(got.map(_._4) === Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L,
      51L, 46L))
  }

  test("saltedJoin equals the plain join: inner, left, dup keys, hot key") {
    val rnd = new scala.util.Random(77)
    // a hot key (0) plus a long tail; duplicate keys on BOTH sides so
    // pair multiplicity is exercised, and keys with no match either way
    val big = (0 until 500).map { i =>
      (i.toLong, if (rnd.nextBoolean()) 0L else rnd.nextInt(20).toLong)
    }
    val small = (0 until 40).map { j =>
      (rnd.nextInt(15).toLong, s"v$j")
    }
    val got = graft.ops.Relational.saltedJoin(
        big.toDF("id", "key"), small.toDF("key", "payload"),
        Seq("key"), salt = 7)
      .select(col("id"), col("payload"))
      .as[(Long, Option[String])].collect().sorted
    val want = big.toDF("id", "key")
      .join(small.toDF("key", "payload"), Seq("key"))
      .select(col("id"), col("payload"))
      .as[(Long, Option[String])].collect().sorted
    assert(got.toSeq === want.toSeq)
    // the physical join keys on the salt: the exchange spreads a hot
    // key over `salt` partitions instead of wedging one reducer
    val plan = graft.ops.Relational.saltedJoin(
        big.toDF("id", "key"), small.toDF("key", "payload"),
        Seq("key"), salt = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), plan.take(500))
    // guards: bad salt, working-column collision
    assert(intercept[IllegalArgumentException] {
      graft.ops.Relational.saltedJoin(big.toDF("id", "key"),
        small.toDF("key", "payload"), Seq("key"), salt = 0)
    }.getMessage.contains("salt"))
    assert(intercept[IllegalArgumentException] {
      graft.ops.Relational.saltedJoin(big.toDF("id", "__salt"),
        small.toDF("key", "payload"), Seq("key"), 4)
    }.getMessage.contains("__salt"))
  }
}
