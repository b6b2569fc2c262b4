package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Fixed-point PageRank ([[Graphs]]): bit-equality against a
  * driver-side integer model, plus ranking sanity on known shapes. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** The documented integer iteration, replayed sequentially. */
  private def model(edges: Seq[(Long, Long)], iters: Int,
                    damp: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val init = 1000000000000L / n
    val base = (1000L - damp) * 1000000000000L / 1000L / n
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
      r = nodes.map(v => v -> (base + damp * s.getOrElse(v, 0L) / 1000L)).toMap
    }
    r
  }

  test("pageRankFixed matches the driver-side integer model exactly") {
    val rnd = new Random(1234)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val got = Graphs.pageRankFixed(edges.toDF("src", "dst"), "src", "dst",
        iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === model(edges, 4, 850L))
  }

  /** Weighted integer iteration replayed sequentially. */
  private def modelW(edges: Seq[(Long, Long, Long)], iters: Int,
                     damp: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val init = 1000000000000L / n
    val base = (1000L - damp) * 1000000000000L / 1000L / n
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => r(u) * w / outw(u) }.sum).toMap
      r = nodes.map(v => v -> (base + damp * s.getOrElse(v, 0L) / 1000L)).toMap
    }
    r
  }

  test("pageRankWeighted matches the model; all-weights-1 equals unweighted") {
    val rnd = new Random(555)
    val edges = (0 until 200).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        rnd.nextInt(9).toLong + 1L))
      .filter { case (a, b, _) => a != b }
      .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // unique (src,dst)
    val got = Graphs.pageRankWeighted(edges.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === modelW(edges, 4, 850L))
    // weight 1 everywhere collapses to the unweighted operator exactly
    val ones = edges.map { case (a, b, _) => (a, b, 1L) }
    val viaW = Graphs.pageRankWeighted(ones.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 3)
      .as[(Long, Long)].collect().toMap
    val plain = Graphs.pageRankFixed(
        ones.map(e => (e._1, e._2)).toDF("src", "dst"), "src", "dst",
        iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(viaW === plain)
  }

  test("weight dominance: the heavier-weighted target accrues more rank") {
    // u 0 links to 1 (weight 9) and 2 (weight 1)
    val edges = Seq((0L, 1L, 9L), (0L, 2L, 1L))
    val ranks = Graphs.pageRankWeighted(edges.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(ranks(1L) > ranks(2L))
  }

  /** The documented personalized iteration, replayed sequentially. */
  private def modelP(edges: Seq[(Long, Long)], seeds: Set[Long],
                     iters: Int, damp: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val active = seeds.intersect(nodes.toSet)
    val k = active.size.toLong
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val init = 1000000000000L / k
    val base = (1000L - damp) * 1000000000000L / 1000L / k
    var r = nodes.map(v => v -> (if (active(v)) init else 0L)).toMap
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
      r = nodes.map(v => v -> ((if (active(v)) base else 0L) +
        damp * s.getOrElse(v, 0L) / 1000L)).toMap
    }
    r
  }

  test("pageRankPersonalized matches the model; all-nodes seeds == global PageRank") {
    val rnd = new Random(4242)
    val edges = (0 until 250).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    // a seed set with ids both inside and OUTSIDE the node set (the
    // outsiders must be ignored, per the documented semantics)
    val seeds = Set(0L, 1L, 2L, 999L)
    val got = Graphs.pageRankPersonalized(edges.toDF("src", "dst"),
        "src", "dst", seeds.toSeq.toDF("seed"), "seed", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === modelP(edges, seeds, 3, 850L))
    // seeding EVERY node collapses to the global operator exactly
    val allNodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val viaP = Graphs.pageRankPersonalized(edges.toDF("src", "dst"),
        "src", "dst", allNodes.toDF("seed"), "seed", iterations = 3)
      .as[(Long, Long)].collect().toMap
    val global = Graphs.pageRankFixed(edges.toDF("src", "dst"),
        "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(viaP === global)
  }

  test("personalized mass stays with the seed's component; no-seed graphs error") {
    // two disconnected 2-cycles; seed in the first: the other component
    // can never receive teleport or link mass — exactly zero rank
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L))
    val ranks = Graphs.pageRankPersonalized(edges.toDF("src", "dst"),
        "src", "dst", Seq(0L).toDF("seed"), "seed", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(ranks(0L) > 0L && ranks(1L) > 0L)
    assert(ranks(2L) === 0L && ranks(3L) === 0L)
    // a seed set entirely outside the node set is undefined — loud error
    val e = intercept[IllegalArgumentException] {
      Graphs.pageRankPersonalized(edges.toDF("src", "dst"), "src", "dst",
        Seq(99L).toDF("seed"), "seed", iterations = 1)
    }
    assert(e.getMessage.contains("seed"))
  }

  /** Every public edge-taking operator over `(src, dst)` edges, with
    * what it does on an EMPTY edge list: `Left(fragment)` — fails with
    * its named `require` — or `Right(rows)`. shortestPaths' sources are
    * components of their own, so its one source still reads dist 0. */
  private def edgeOps: Seq[(String, DataFrame => DataFrame, Either[String, Long])] = {
    def seeds = Seq(1L).toDF("seed")
    def labels = Seq((1L, 1L)).toDF("node", "label")
    Seq(
      ("pageRankFixed", Graphs.pageRankFixed(_, "src", "dst", 1), Left("edge list is empty")),
      ("pageRankWeighted", e => Graphs.pageRankWeighted(e.withColumn("w", lit(1L)),
        "src", "dst", "w", 1), Left("edge list is empty")),
      ("pageRankPersonalized", Graphs.pageRankPersonalized(_, "src", "dst", seeds,
        "seed", 1), Left("no seed id appears")),
      ("hits", Graphs.hits(_, "src", "dst", 1), Left("edge list is empty")),
      ("triangleCounts", Graphs.triangleCounts(_, "src", "dst"), Right(0L)),
      ("cooccurrenceProject", Graphs.cooccurrenceProject(_, "src", "dst", 2), Right(0L)),
      ("randomWalks", Graphs.randomWalks(_, "src", "dst", 1), Right(0L)),
      ("labelPropagation", Graphs.labelPropagation(_, "src", "dst", 1), Right(0L)),
      ("kCore", Graphs.kCore(_, "src", "dst", 1), Right(0L)),
      ("shortestPaths", Graphs.shortestPaths(_, "src", "dst", seeds, "seed", 1), Right(1L)),
      ("linkPredict", Graphs.linkPredict(_, "src", "dst", 2), Right(0L)),
      ("modularity", Graphs.modularity(_, "src", "dst", labels, "node", "label"),
        Left("edge list is empty")),
      ("scc", Graphs.scc(_, "src", "dst"), Right(0L)),
      ("neighborhoodExact", Graphs.neighborhoodExact(_, "src", "dst", 1), Right(0L)),
      ("stressCentrality", Graphs.stressCentrality(_, "src", "dst", seeds, "seed", 1),
        Right(0L)),
      ("hyperBall", Graphs.hyperBall(_, "src", "dst", 1), Right(0L)))
  }

  test("string node ids error loudly instead of null-casting to garbage") {
    // without the guard every unparseable id long-casts to null and
    // collapses into ONE node — the result would be silently wrong
    val edges = Seq(("example.com", "other.org"), ("other.org", "example.com"))
      .toDF("src", "dst")
    for ((name, op, _) <- edgeOps) {
      val e = intercept[IllegalArgumentException](op(edges).collect())
      assert(e.getMessage.contains("map them through Graphs.withNodeIds first"), name)
    }
    // the multi-source operators guard their source ids the same way
    val longEdges = Seq((1L, 2L)).toDF("src", "dst")
    val strSeeds = Seq("example.com").toDF("seed")
    for (op <- Seq[DataFrame => DataFrame](
        Graphs.shortestPaths(longEdges, "src", "dst", _, "seed", 1),
        Graphs.stressCentrality(longEdges, "src", "dst", _, "seed", 1))) {
      val e = intercept[IllegalArgumentException](op(strSeeds).collect())
      assert(e.getMessage.contains("map string keys through Graphs.withNodeIds first"))
    }
  }

  test("an empty edge list errors loudly instead of dividing by zero") {
    // every operator returns its documented rows or fails with its named
    // require — never an unnamed Spark error
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    for ((name, op, expected) <- edgeOps) expected match {
      case Left(fragment) =>
        val e = intercept[IllegalArgumentException](op(empty).collect())
        assert(e.getMessage.contains(fragment), name)
      case Right(rows) =>
        assert(op(empty).collect().length.toLong === rows, name)
    }
    // weighted: all-nonpositive weights leave no rankable edge either
    val nonpos = Seq((1L, 2L, 0L), (2L, 3L, -5L)).toDF("src", "dst", "w")
    val ew = intercept[IllegalArgumentException] {
      Graphs.pageRankWeighted(nonpos, "src", "dst", "w",
        iterations = 1).collect()
    }
    assert(ew.getMessage.contains("empty"))
  }

  test("withNodeIds: string-keyed PageRank equals the model through the dictionary") {
    val rnd = new Random(77)
    val hosts = (0 until 30).map(i => s"host$i.example")
    val edges = (0 until 200).map(_ =>
      (hosts(rnd.nextInt(30)), hosts(rnd.nextInt(30))))
      .filter { case (a, b) => a != b }.distinct
    val (mapped, dict) = Graphs.withNodeIds(
      edges.toDF("src", "dst"), "src", "dst")
    // the dictionary is a bijection over the node keys
    val d = dict.as[(Long, String)].collect()
    assert(d.map(_._2).toSet === (edges.map(_._1) ++ edges.map(_._2)).toSet)
    assert(d.map(_._1).distinct.length === d.length)
    val ranks = Graphs.pageRankFixed(mapped, "src", "dst", iterations = 3)
      .join(dict, col("node") === col("node_id"))
      .select(col("node_key"), col("rank_micro"))
      .as[(String, Long)].collect().toMap
    // model over LONG ids via the same dictionary: ids are opaque to the
    // iteration, so keyed results must agree exactly
    val toId = d.map { case (id, k) => k -> id }.toMap
    val want = model(edges.map { case (a, b) => (toId(a), toId(b)) }, 3, 850L)
    assert(ranks.map { case (k, r) => toId(k) -> r } === want)
  }

  test("withNodeIds fails loudly on null node keys") {
    val edges = Seq(("a", "b"), (null, "b")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graphs.withNodeIds(edges, "src", "dst")
    }
    assert(e.getMessage.contains("null node keys"))
  }

  test("a star hub outranks its spokes; dangling mass just leaks") {
    // spokes 1..5 all link to hub 0; hub links nowhere (dangling)
    val edges = (1L to 5L).map(u => (u, 0L))
    val ranks = Graphs.pageRankFixed(edges.toDF("src", "dst"), "src", "dst",
        iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(u => ranks(0L) > ranks(u)))
    assert((1L to 5L).map(ranks).toSet.size === 1, "spokes tie exactly")
    // total mass only shrinks (floor divisions + dropped dangling mass)
    assert(ranks.values.sum <= 1000000000000L)
  }

  /** The documented L1-normalized integer HITS iteration, replayed
    * sequentially on the driver. */
  private def modelHits(edges: Seq[(Long, Long)],
                        iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val S = 1000000000L
    var h = nodes.map(_ -> S / nodes.size).toMap
    var a = h
    for (_ <- 1 to iters) {
      val araw = e.groupBy(_._2).view.mapValues(_.map(x => h(x._1)).sum).toMap
      val as = araw.values.sum
      a = nodes.map(v => v -> araw.get(v).map(_ * S / as).getOrElse(0L)).toMap
      val hraw = e.groupBy(_._1).view.mapValues(_.map(x => a(x._2)).sum).toMap
      val hs = hraw.values.sum
      h = nodes.map(v => v -> hraw.get(v).map(_ * S / hs).getOrElse(0L)).toMap
    }
    nodes.map(v => v -> (h(v), a(v))).toMap
  }

  test("hits matches the integer model; hub/authority separation on a star") {
    val rnd = new Random(31337)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(30).toLong, 100L + rnd.nextInt(30).toLong))
    val got = Graphs.hits(edges.toDF("src", "dst"), "src", "dst",
        iterations = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (n, hb, au) => n -> (hb, au) }.toMap
    assert(got === modelHits(edges, 3))
    // a pure out-star: the center is the only hub, leaves the only
    // authorities — and the empty graph errors loudly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val s = Graphs.hits(star.toDF("src", "dst"), "src", "dst", iterations = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(s(0L)._1 > 0L && s(0L)._2 === 0L, "center is hub only")
    (1L to 3L).foreach { v =>
      assert(s(v)._1 === 0L && s(v)._2 > 0L, s"leaf $v is authority only")
    }
    assert(s(1L)._2 === s(2L)._2 && s(2L)._2 === s(3L)._2, "leaves tie")
    val err = intercept[IllegalArgumentException] {
      Graphs.hits(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst", 1)
    }
    assert(err.getMessage.contains("empty"))
  }

  /** Brute-force per-node triangle counts over the canonical simple
    * graph (direction/dupes/self-loops normalized like the operator). */
  private def modelTri(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq
    nodes.map { v =>
      val nb = adj(v)
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      v -> (nb.size.toLong, tri.toLong)
    }.toMap
  }

  test("triangleCounts matches brute force; direction/dupes/loops normalize away") {
    val rnd = new Random(777)
    // directed, duplicated, self-looped — the operator must canonicalize
    val edges = (0 until 400).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val got = Graphs.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (n, d, t, c) => n -> (d, t, c) }.toMap
    val want = modelTri(edges)
    assert(got.keySet === want.keySet)
    want.foreach { case (v, (d, t)) =>
      val (gd, gt, gc) = got(v)
      assert(gd === d, s"degree of $v")
      assert(gt === t, s"triangles of $v")
      val expectedCc = if (d >= 2) 2L * t * 1000000L / (d * (d - 1L)) else 0L
      assert(gc === expectedCc, s"cc of $v")
    }
    // a known shape: K4 has 3 triangles per node and cc = 1
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val k4got = Graphs.triangleCounts(k4.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
    assert(k4got.forall { case (_, d, t, c) =>
      d === 3L && t === 3L && c === 1000000L })
  }

  test("cooccurrenceProject caps fan-out deterministically and weights pairs") {
    // src 1 has 4 items (> cap 3): only its 3 smallest project; src 2
    // shares two of them; duplicate edges must not inflate weights
    val edges = Seq((1L, 30L), (1L, 10L), (1L, 20L), (1L, 40L), (1L, 10L),
      (2L, 10L), (2L, 20L), (3L, 99L))
    val got = Graphs.cooccurrenceProject(edges.toDF("src", "dst"),
        "src", "dst", maxPerSrc = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
    // model equality on random bipartite data
    val rnd = new Random(6021)
    val re = (0 until 600).map(_ =>
      (rnd.nextInt(40).toLong, 100L + rnd.nextInt(25).toLong))
    val got2 = Graphs.cooccurrenceProject(re.toDF("src", "dst"),
        "src", "dst", maxPerSrc = 4)
      .as[(Long, Long, Long)].collect().toSet
    val capped = re.distinct.groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.take(4)).toMap
    val want = capped.values.flatMap { items =>
      for (a <- items; b <- items if a < b) yield (a, b)
    }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }
    assert(got2 === want.toSet)
  }

  /** The hash-greedy walk, replayed sequentially on the driver. */
  private def modelWalks(edges: Seq[(Long, Long)],
                         steps: Int): Set[(Long, Int, Long)] = {
    def md5p(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(8)
    }
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    adj.keys.flatMap { start =>
      var node = start
      (start, 0, start) +: (1 to steps).map { i =>
        node = adj(node).minBy(v => (md5p(s"${node}_${i}_$v"), v))
        (start, i, node)
      }
    }.toSet
  }

  test("randomWalks matches the hash-greedy model and is rerun-stable") {
    val rnd = new Random(2718)
    val edges = (0 until 200).map(_ =>
      (rnd.nextInt(22).toLong, rnd.nextInt(22).toLong))
    val out = Graphs.randomWalks(edges.toDF("src", "dst"), "src", "dst",
        steps = 3)
      .as[(Long, Int, Long)].collect().toSet
    assert(out === modelWalks(edges, 3))
    // a pure function of the graph: a second run is identical
    val again = Graphs.randomWalks(edges.toDF("src", "dst"), "src", "dst",
        steps = 3).as[(Long, Int, Long)].collect().toSet
    assert(again === out)
    // every step moves along a real edge of the canonical graph
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val byWalk = out.groupBy(_._1).values
    byWalk.foreach { w =>
      val path = w.toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach {
        case Seq(x, y) =>
          assert(und((math.min(x, y), math.max(x, y))), s"$x->$y not an edge")
        case _ => ()
      }
    }
  }

  /** The deterministic synchronous LPA round, replayed sequentially. */
  private def modelLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = adj.map { case (v, nbrs) =>
        val counts = nbrs.map(lbl).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("labelPropagation matches the deterministic model; two cliques separate") {
    val rnd = new Random(5150)
    val edges = (0 until 350).map(_ =>
      (rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
    for (r <- Seq(1, 3)) {
      val got = Graphs.labelPropagation(edges.toDF("src", "dst"),
          "src", "dst", rounds = r)
        .as[(Long, Long)].collect().toMap
      assert(got === modelLpa(edges, r), s"rounds=$r")
    }
    // two 4-cliques joined by one bridge edge: each clique converges to
    // its own minimum label
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val two = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L))
    val out = Graphs.labelPropagation(two.toDF("src", "dst"),
        "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L, 2L, 3L).map(out).forall(_ === 0L))
    assert(Seq(11L, 12L, 13L).map(out).forall(_ === 10L))
  }

  /** The peeling loop, replayed sequentially on the driver. */
  private def modelKCore(edges: Seq[(Long, Long)], k: Int,
                         maxRounds: Int): Map[Long, Long] = {
    var cur = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    def deg(e: Seq[(Long, Long)]): Map[Long, Long] =
      (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val d = deg(cur)
      if (d.values.forall(_ >= k)) converged = true
      else {
        val good = d.filter(_._2 >= k).keySet
        cur = cur.filter { case (a, b) => good(a) && good(b) }
        round += 1
      }
    }
    deg(cur)
  }

  test("kCore peels to the model at fixpoint and under a round cap") {
    val rnd = new Random(888)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    for ((k, cap) <- Seq((3, Int.MaxValue), (4, 2), (5, 100))) {
      val got = Graphs.kCore(edges.toDF("src", "dst"), "src", "dst", k, cap)
        .as[(Long, Long)].collect().toMap
      assert(got === modelKCore(edges, k, cap), s"k=$k cap=$cap")
    }
    // K4 plus a pendant chain: the 3-core is exactly the K4 (all deg 3)
    val k4chain = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L))
    val core = Graphs.kCore(k4chain.toDF("src", "dst"), "src", "dst", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(core === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a graph whose core is empty peels to zero rows, not an error
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(Graphs.kCore(chain.toDF("src", "dst"), "src", "dst", k = 2)
      .count() === 0L)
  }

  /** Truncated Bellman–Ford replayed sequentially. */
  private def modelSp(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
                      iters: Int): Map[Long, Long] = {
    var d = sources.distinct.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val relaxed = edges.flatMap { case (u, v, w) =>
        d.get(u).map(du => v -> (du + w)) }
      d = (d.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    d
  }

  test("shortestPaths: hop distances on a path graph, truncation honored") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = Graphs.shortestPaths(path.toDF("src", "dst"), "src", "dst",
        Seq(1L).toDF("seed"), "seed", maxIter = 3)
      .as[(Long, Long)].collect().toMap
    // node 5 is 4 hops away: absent under maxIter = 3, not 0/sentinel
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("shortestPaths matches the model on random weighted multigraphs") {
    val rnd = new Random(4242)
    val edges = (0 until 400).map(_ => (rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong, 1L + rnd.nextInt(5).toLong))
    val sources = Seq(0L, 7L, 13L)
    val got = Graphs.shortestPaths(edges.toDF("src", "dst", "w"),
        "src", "dst", sources.toDF("seed"), "seed", maxIter = 4,
        weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got === modelSp(edges, sources, 4))
  }

  test("shortestPaths: an off-graph source emits dist 0; bad weights fail") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graphs.shortestPaths(e, "src", "dst",
        Seq(99L).toDF("seed"), "seed", maxIter = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(99L) === 0L)
    val ex = intercept[IllegalArgumentException] {
      Graphs.shortestPaths(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"),
        "src", "dst", Seq(1L).toDF("seed"), "seed", maxIter = 1,
        weightCol = Some("w")).collect()
    }
    assert(ex.getMessage.contains("non-positive"))
  }

  test("linkPredict: square graph diagonals, full Jaccard, no edge echoes") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val got = Graphs.linkPredict(square.toDF("src", "dst"), "src", "dst",
        maxWedgeDegree = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // only the two diagonals predict: cn=2, deg 2/2, jaccard 1000
    assert(got === Set((1L, 3L, 2L, 2L, 2L, 1000L),
      (2L, 4L, 2L, 2L, 2L, 1000L)))
  }

  test("linkPredict: the hub cap suppresses mega-hub wedges only") {
    // star center 0 with 5 leaves, plus edge 1-2 (a real edge, never
    // predicted); leaves pair only THROUGH the center
    val star = (1L to 5L).map(l => (0L, l)) :+ (1L, 2L)
    val capped = Graphs.linkPredict(star.toDF("src", "dst"), "src", "dst",
      maxWedgeDegree = 3)
    assert(capped.count() === 0L) // center deg 5 > 3: no wedge source
    val open = Graphs.linkPredict(star.toDF("src", "dst"), "src", "dst",
        maxWedgeDegree = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // all leaf pairs except the real edge (1,2); cn=1 via the center
    val exp = (for { a <- 1L to 5L; b <- a + 1 to 5L
                     if (a, b) != ((1L, 2L)) } yield {
      val da = if (a <= 2) 2L else 1L
      val db = if (b <= 2) 2L else 1L
      (a, b, 1L, da, db, 1000L / (da + db - 1L))
    }).toSet
    assert(open === exp)
  }

  // ───────────────────────── modularity ─────────────────────────

  test("modularity: two triangles with a bridge, hand-computed parts") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4: m=7, each community
    // has 3 intra edges; degrees 2+2+3=7 per side
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val lbl = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (6L, "b")).toDF("node", "label")
    val got = Graphs.modularity(e, "src", "dst", lbl, "node", "label")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // q_num_part = 4·7·3 − 7² = 35 each; Q = 70 / (4·49) = 0.357…
    assert(got === Set(("a", 3L, 3L, 7L, 35L), ("b", 3L, 3L, 7L, 35L)))
  }

  test("modularity: a single all-in community scores exactly zero") {
    val rnd = new Random(77)
    val e = (0 until 120).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val nodes = (0L until 20L).map((_, 1L)).toDF("node", "label")
    val parts = Graphs.modularity(e, "src", "dst", nodes, "node", "label")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(parts.map(_._5).sum === 0L) // 4m·m − (2m)² = 0
  }

  test("modularity fails loudly on unlabeled edge nodes") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val lbl = Seq((1L, "a"), (2L, "a")).toDF("node", "label")
    val ex = intercept[IllegalArgumentException] {
      Graphs.modularity(e, "src", "dst", lbl, "node", "label").collect()
    }
    assert(ex.getMessage.contains("absent from the labels"))
  }

  // ──────────────────────────── scc ────────────────────────────

  /** SCC from the definition: per-node forward reachability, then
    * scc_id(v) = max of v and every mutually-reachable u. */
  private def sccModel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def reach(s: Long): Set[Long] = {
      var seen = Set.empty[Long]
      var frontier = adj.getOrElse(s, Set.empty)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- seen
      }
      seen
    }
    val r = nodes.map(v => v -> reach(v)).toMap
    nodes.map(v =>
      v -> (r(v).filter(u => r(u).contains(v)) + v).max).toMap
  }

  test("scc matches the mutual-reachability model on a random digraph") {
    val rnd = new Random(4242)
    val edges = (0 until 150).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).distinct
    val got = Graphs.scc(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got === sccModel(edges))
  }

  test("scc: cycles, one-way bridge, tendrils, self-loops") {
    // 3-cycle {1,2,3} → bridge → 3-cycle {10,11,12}, tendril 20→21→3,
    // self-loop-only node 30
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L), (21L, 3L),
      (30L, 30L))
    val got = Graphs.scc(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L,
      10L -> 12L, 11L -> 12L, 12L -> 12L,
      20L -> 20L, 21L -> 21L, 30L -> 30L))
  }

  test("scc: a long decreasing chain settles via trim, not peels") {
    // worst case for pure coloring (one root per peel); trim handles it
    val chain = (1L until 30L).map(i => (i + 1, i))
    val got = Graphs.scc(chain.toDF("src", "dst"), "src", "dst",
        maxPeels = 3) // pure peeling would need ~30
      .as[(Long, Long)].collect().toMap
    assert(got === (1L to 30L).map(v => v -> v).toMap)
  }

  test("scc: enough settle rounds to cross the accumulator collapse") {
    // r18: the lazy result union collapses (eager checkpoint) every 16
    // unions to bound plan width; a 44-node chain trims 2 endpoints per
    // round — ~22 trim unions — so this graph crosses the collapse
    // threshold and the output must still be every node as a singleton
    val chain = (1L until 44L).map(i => (i + 1, i))
    val got = Graphs.scc(chain.toDF("src", "dst"), "src", "dst",
        maxPeels = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === (1L to 44L).map(v => v -> v).toMap)
  }

  /** How many RDDs `body` persisted and left persisted. The listener
    * holds strong references to every RDD persisted while `body` runs,
    * so the ContextCleaner (which releases an RDD once it is garbage
    * collected) cannot hide a leak: only an explicit unpersist counts. */
  private def leftPersisted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = scala.collection.mutable.Map[Int, org.apache.spark.rdd.RDD[_]]()
    def snapshot(): Unit = seen.synchronized { seen ++= sc.getPersistentRDDs }
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = snapshot()
    }
    sc.addSparkListener(listener)
    try body finally sc.removeSparkListener(listener)
    snapshot()
    seen.values.count(r => !before(r.id) &&
      r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  test("scc releases superseded checkpoints across accumulator collapses") {
    // a decreasing chain of n nodes trims its 2 endpoints per round, one
    // settled union each: 68 nodes cross the every-16-unions collapse
    // twice, 132 nodes four times, both with 2 unions after the last
    // one. Each collapse must release the previous collapse and the
    // frames its unions read, so what stays persisted is the same
    // handful for both graphs instead of growing with the collapses
    def left(n: Long): Int = leftPersisted {
      val out = Graphs.scc((1L until n).map(i => (i + 1, i)).toDF("src", "dst"),
        "src", "dst", maxPeels = 3)
      assert(out.as[(Long, Long)].collect().toMap === (1L to n).map(v => v -> v).toMap)
    }
    val (two, four) = (left(68), left(132))
    assert(two <= 8 && four <= two,
      s"$two / $four RDDs left persisted after 2 / 4 collapses — superseded " +
        "checkpoints leaked")
  }

  test("scc fails loudly on string node keys") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graphs.scc(e, "src", "dst").collect()
    }
    assert(ex.getMessage.contains("withNodeIds"))
  }

  // ─────────────── neighborhood / HyperBall / harmonic ───────────────

  /** BFS truth: |{u : dist(v,u) ≤ k}| including v itself. */
  private def ballModel(edges: Seq[(Long, Long)],
                        maxR: Int): Map[(Long, Int), Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    nodes.flatMap { v =>
      var ball = Set(v)
      (0 to maxR).map { k =>
        if (k > 0) ball ++= ball.flatMap(u => adj.getOrElse(u, Set.empty))
        (v, k) -> ball.size.toLong
      }
    }.toMap
  }

  test("neighborhoodExact matches the BFS model on a random digraph") {
    val rnd = new Random(909)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
    val got = Graphs.neighborhoodExact(edges.toDF("src", "dst"),
        "src", "dst", maxRadius = 3)
      .as[(Long, Int, Long)].collect()
      .map { case (n, r, c) => (n, r) -> c }.toMap
    assert(got === ballModel(edges, 3))
  }

  test("hyperBall equals the exact neighborhood in the sparse regime") {
    // DataSketches HLL is exact far below 2^lgK registers — so at test
    // cardinality the estimate must EQUAL the truth, not just approach it
    val rnd = new Random(321)
    val edges = (0 until 150).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).distinct
    val est = Graphs.hyperBall(edges.toDF("src", "dst"), "src", "dst",
        maxRadius = 3)
      .as[(Long, Int, Long)].collect()
      .map { case (n, r, c) => (n, r) -> c }.toMap
    assert(est === ballModel(edges, 3))
  }

  test("effectiveDiameter: hand-checked path graph, exact and sketch") {
    // 1→2→3→4: Σ N_k = 4, 7, 9, 10 — 90% of 10 is first covered at
    // radius 2; 100% only at the full radius 3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val exact = Graphs.neighborhoodExact(e, "src", "dst", maxRadius = 3)
    assert(Graphs.effectiveDiameter(exact, permille = 900L)
      .as[(Int, Long, Long)].collect().toSeq === Seq((2, 9L, 10L)))
    assert(Graphs.effectiveDiameter(exact, permille = 1000L)
      .as[(Int, Long, Long)].collect().toSeq === Seq((3, 10L, 10L)))
    // the sketch table feeds the same fold (exact in the sparse regime)
    val est = Graphs.hyperBall(e, "src", "dst", maxRadius = 3)
    assert(Graphs.effectiveDiameter(est, permille = 900L)
      .as[(Int, Long, Long)].collect().toSeq === Seq((2, 9L, 10L)))
  }

  test("harmonicFromBalls: hand-checked directed path") {
    // 1→2→3: h(1) = 1 + 1/2 = 1500 milli, h(2) = 1000, h(3) = 0
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graphs.harmonicFromBalls(
        Graphs.neighborhoodExact(e, "src", "dst", maxRadius = 3))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1500L, 2L -> 1000L, 3L -> 0L))
  }

  test("stressCentrality: hand-checked diamond, truncation, parallel-edge collapse") {
    // diamond + tail: 1→{2,3}→4→5. From s=1: σ(4)=2 via two paths;
    // stress — v2: (1-2-4) + (1-2-4-5) = 2; v3: 2; v4: paths to 5 via
    // both branches = 2; v5 is never interior
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    val got = Graphs.stressCentrality(e, "src", "dst", seeds, "seed",
        maxDepth = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 2L, 3L -> 2L, 4L -> 2L))
    // truncation at maxDepth 2: pairs beyond two hops (t=5) vanish —
    // v2/v3 keep only their (s=1, t=4) path; v4 loses its only pair
    val trunc = Graphs.stressCentrality(e, "src", "dst", seeds, "seed",
        maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    assert(trunc === Map(2L -> 1L, 3L -> 1L))
    // a doubled edge row must not double σ — paths count in the SIMPLE
    // digraph
    val dup = Graphs.stressCentrality(
        e.union(Seq((1L, 2L)).toDF("src", "dst")), "src", "dst",
        seeds, "seed", maxDepth = 5)
      .as[(Long, Long)].collect().toMap
    assert(dup === got)
  }

  test("stressCentrality equals the brute-force model on a random digraph") {
    val rnd = new scala.util.Random(42)
    val n = 18
    val edges = (for {
      a <- 0 until n; b <- 0 until n
      if a != b && rnd.nextDouble() < 0.12
    } yield (a.toLong, b.toLong)).distinct
    val srcs = Seq(0L, 3L, 7L)
    val cap = 10 // > any eccentricity here: the exact regime
    // brute force: BFS dist/σ from EVERY node, then the definition
    def bfs(s: Int): (Array[Int], Array[Long]) = {
      val dist = Array.fill(n)(-1); val sig = Array.fill(n)(0L)
      dist(s) = 0; sig(s) = 1L
      var frontier = List(s)
      while (frontier.nonEmpty) {
        val nxt = scala.collection.mutable.ListBuffer[Int]()
        for (u <- frontier; (a, b) <- edges if a == u) {
          val w = b.toInt
          if (dist(w) == -1) { dist(w) = dist(u) + 1; nxt += w }
          if (dist(w) == dist(u) + 1) sig(w) += sig(u)
        }
        frontier = nxt.distinct.toList
      }
      (dist, sig)
    }
    val all = (0 until n).map(bfs)
    val want = (for {
      s <- srcs.map(_.toInt); v <- 0 until n; t <- 0 until n
      if v != s && v != t && t != s
      (ds, ss) = all(s); (dv, sv) = all(v)
      if ds(v) >= 0 && dv(t) >= 0 && ds(t) >= 0
      if ds(t) <= cap && ds(v) + dv(t) == ds(t)
    } yield (v.toLong, ss(v) * sv(t)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter(_._2 > 0L)
    val got = Graphs.stressCentrality(edges.toDF("src", "dst"),
        "src", "dst", srcs.toDF("seed"), "seed", maxDepth = cap)
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }
}
