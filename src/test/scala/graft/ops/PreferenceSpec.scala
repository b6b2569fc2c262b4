package graft.ops

import graft.SparkSpec

class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  private def rates(duels: Seq[(String, String)]) =
    Preference.winRates(duels.toDF("w", "l"), "w", "l")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

  test("winRates: canonicalized pairs with exact micro rates") {
    // a beats b 3x, b beats a 1x; c beats a 1x
    val duels = Seq(("a", "b"), ("a", "b"), ("a", "b"), ("b", "a"), ("c", "a"))
    val out = rates(duels)
    assert(out(("a", "b")) === ((4L, 3L, 750000L)))
    assert(out(("a", "c")) === ((1L, 0L, 0L)))
    assert(out.size === 2)
  }

  test("winRates misuse fails loudly: self-duel and null player") {
    val e1 = quietTaskFailures(intercept[Exception] { rates(Seq(("a", "a"), ("a", "b"))) })
    assert(e1.getMessage.contains("self-duel"))
    val e2 = quietTaskFailures(intercept[Exception] {
      Preference.winRates(
        Seq(("a", null.asInstanceOf[String])).toDF("w", "l"), "w", "l")
        .collect()
    })
    assert(e2.getMessage.contains("null loser"))
  }

  test("positionBias: per-pair first-win counts, presentation balance, guards") {
    // (winner, loser, first): a-b duels — first wins 3 of 4; a was first
    // twice. b-c duel: first (c) loses.
    val duels = Seq(
      ("a", "b", "a"), ("a", "b", "a"), ("a", "b", "b"), ("b", "a", "b"),
      ("b", "c", "c"))
      .toDF("w", "l", "f")
    val out = Preference.positionBias(duels, "w", "l", "f")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(out(("a", "b")) === ((4L, 2L, 3L, 750000L)))
    assert(out(("b", "c")) === ((1L, 0L, 0L, 0L)))
    assert(out.size === 2)
    // first-presented player must be one of the duel sides
    val e1 = quietTaskFailures(intercept[Exception] {
      Preference.positionBias(
        Seq(("a", "b", "z")).toDF("w", "l", "f"), "w", "l", "f").collect()
    })
    assert(e1.getMessage.contains("neither duel side"))
    val e2 = quietTaskFailures(intercept[Exception] {
      Preference.positionBias(
        Seq(("a", "b", null.asInstanceOf[String])).toDF("w", "l", "f"),
        "w", "l", "f").collect()
    })
    assert(e2.getMessage.contains("null first-presented"))
    val e3 = quietTaskFailures(intercept[Exception] {
      Preference.positionBias(
        Seq(("a", "a", "a")).toDF("w", "l", "f"), "w", "l", "f").collect()
    })
    assert(e3.getMessage.contains("self-duel"))
  }

  test("orderConsistency: pairing, consistency, position signature, guards") {
    // m1: both orders, same winner -> consistent (followed once)
    // m2: both orders, winner tracks presentation -> inconsistent + the
    //     maximal-position-bias signature (both followed)
    // m3: judged once -> visible but unpaired
    val duels = Seq(
      ("m1", "a", "b", "a"), ("m1", "a", "b", "b"),
      ("m2", "a", "b", "a"), ("m2", "b", "a", "b"),
      ("m3", "a", "b", "a"))
      .toDF("m", "w", "l", "f")
    val out = Preference.orderConsistency(duels, "m", "w", "l", "f")
      .as[(String, String, Long, Long, Long, Long, Option[Long])].head()
    assert(out === (("a", "b", 3L, 2L, 1L, 1L, Some(500000L))))
    // a third judgment for one match is a log defect, not a vote
    val e1 = quietTaskFailures(intercept[Exception] {
      Preference.orderConsistency(duels.unionAll(
          Seq(("m1", "b", "a", "a")).toDF("m", "w", "l", "f")),
        "m", "w", "l", "f").collect()
    })
    assert(e1.getMessage.contains("more than two judgments"))
    // two judgments in the SAME order are a re-judge, not an order flip
    val e2 = quietTaskFailures(intercept[Exception] {
      Preference.orderConsistency(
        Seq(("m9", "a", "b", "a"), ("m9", "b", "a", "a"))
          .toDF("m", "w", "l", "f"),
        "m", "w", "l", "f").collect()
    })
    assert(e2.getMessage.contains("SAME presentation order"))
    val e3 = quietTaskFailures(intercept[Exception] {
      Preference.orderConsistency(
        Seq(("m1", "a", "b", "z")).toDF("m", "w", "l", "f"),
        "m", "w", "l", "f").collect()
    })
    assert(e3.getMessage.contains("neither duel side"))
    // a match id reused across DIFFERENT player pairs is a key
    // collision, not two unpaired matches
    val e4 = quietTaskFailures(intercept[Exception] {
      Preference.orderConsistency(
        Seq(("m1", "a", "b", "a"), ("m1", "a", "c", "a"))
          .toDF("m", "w", "l", "f"),
        "m", "w", "l", "f").collect()
    })
    assert(e4.getMessage.contains("more than one player pair"))
  }

  test("lengthBias: hand-computed buckets, equal-length exclusion, loud null") {
    // (wl, ll): gaps 0,3,7,12 with width 5 -> buckets 0,0,1,2
    val duels = Seq((10L, 10L), (13L, 10L), (3L, 10L), (22L, 10L))
      .toDF("wl", "ll")
    val out = Preference.lengthBias(duels, "wl", "ll", 5L)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // bucket 0: gap-0 duel (equal) + gap-3 duel (longer won) -> 1/1
    assert(out(0L) === ((2L, 1L, 1L, Some(1000000L))))
    // bucket 1: gap 7, shorter won -> 0/1
    assert(out(1L) === ((1L, 0L, 0L, Some(0L))))
    assert(out(2L) === ((1L, 1L, 0L, Some(1000000L))))
    // all-equal bucket -> NULL rate, not 0
    val eq = Preference.lengthBias(Seq((4L, 4L)).toDF("wl", "ll"), "wl", "ll", 5L)
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(eq._5 === None)
    val e = quietTaskFailures(intercept[Exception] {
      Preference.lengthBias(
        Seq((Some(1L), None: Option[Long])).toDF("wl", "ll"), "wl", "ll", 5L)
        .collect()
    })
    assert(e.getMessage.contains("null loser length"))
  }

  /** Driver-side replay of the exact integer MM recurrence. */
  private def btModel(duels: Seq[(String, String)], iters: Int)
      : Map[String, Long] = {
    val S = 1000000L; val S2 = S * S
    val players = duels.flatMap(d => Seq(d._1, d._2)).distinct.sorted
    def key(a: String, b: String) = if (a < b) (a, b) else (b, a)
    val games = duels.groupBy(d => key(d._1, d._2)).map { case (k, v) => k -> v.size.toLong }
    val wins = duels.groupBy(_._1).map { case (p, v) => p -> v.size.toLong }
      .withDefaultValue(0L)
    var s = players.map(_ -> S).toMap
    for (_ <- 1 to iters) {
      val raw = players.map { p =>
        val dp = players.filter(q => q != p && games.contains(key(p, q)))
          .map(q => games(key(p, q)) * S2 / (s(p) + s(q))).sum
        val denom = dp + 2 * S2 / (s(p) + S)
        p -> math.max(1L, (wins(p) + 1L) * S2 / denom)
      }.toMap
      val mean = raw.values.sum / players.size
      s = raw.map { case (p, r) => p -> math.max(1L, r * S / mean) }
    }
    s
  }

  private def bt(duels: Seq[(String, String)], iters: Int) =
    Preference.bradleyTerry(duels.toDF("w", "l"), "w", "l", iters)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

  test("bradleyTerry matches the driver-side integer model exactly") {
    val rnd = new scala.util.Random(11)
    val players = Seq("m1", "m2", "m3", "m4", "m5")
    val duels = (1 to 300).map { _ =>
      val a = players(rnd.nextInt(players.size))
      var b = players(rnd.nextInt(players.size))
      while (b == a) b = players(rnd.nextInt(players.size))
      // m1 strongest, m5 weakest: lower index wins with bias
      if (rnd.nextInt(10) < 7) {
        if (a < b) (a, b) else (b, a)
      } else {
        if (a < b) (b, a) else (a, b)
      }
    }
    val model = btModel(duels, 5)
    val out = bt(duels, 5)
    players.foreach { p => assert(out(p)._3 === model(p), s"player $p") }
  }

  test("bradleyTerry: dominance chain orders strengths; wins/games exact") {
    // a beats b 9/10, b beats c 9/10 — strengths must order a > b > c
    val duels =
      (1 to 9).map(_ => ("a", "b")) ++ Seq(("b", "a")) ++
        (1 to 9).map(_ => ("b", "c")) ++ Seq(("c", "b"))
    val out = bt(duels, 10)
    assert(out("a")._3 > out("b")._3 && out("b")._3 > out("c")._3)
    assert(out("a") === ((10L, 9L, out("a")._3)))
    assert(out("b") === ((20L, 10L, out("b")._3)))
    assert(out("c") === ((10L, 1L, out("c")._3)))
  }

  test("bradleyTerry: an even matchup converges to equal strengths") {
    val duels = (1 to 5).flatMap(_ => Seq(("x", "y"), ("y", "x")))
    val out = bt(duels, 8)
    assert(out("x")._3 === out("y")._3)
  }

  test("bradleyTerry: an undefeated player stays finite (virtual prior)") {
    val out = bt((1 to 20).map(_ => ("champ", "chump")), 10)
    assert(out("champ")._3 > out("chump")._3)
    assert(out("chump")._3 >= 1L)
    // strengths stay in the gauge: mean is pinned near 10⁶
    val mean = (out("champ")._3 + out("chump")._3) / 2
    assert(mean >= 900000L && mean <= 1100000L)
  }
}
