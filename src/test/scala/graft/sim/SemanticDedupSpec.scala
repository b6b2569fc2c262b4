package graft.sim

import graft.SparkSpec

/** Randomized model check for [[Similarity.semanticDedup]]: cell
  * assignment, within-cell pair generation, component labels, and
  * survivor flags all against a straight-line union-find reference. */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  /** Replays NearestCentroid: float-rounded coefficients, raw-double
    * half-norms, sequential fold, strict > (ties to the lowest cell). */
  private def assignCell(v: Seq[Float], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    for (c <- cents.indices) {
      var acc = 0.0
      for (i <- v.indices) acc += cents(c)(i).toFloat.toDouble * v(i).toDouble
      val score = acc - cents(c).map(x => x * x).sum / 2.0
      if (score > bestScore) { bestScore = score; best = c }
    }
    best
  }

  test("cellStats matches brute-force occupancy and micro-cosine sums on a trained model") {
    val rnd = new scala.util.Random(97L)
    val dim = 8
    val vecs = (1L to 120L).map { i =>
      (i, Seq.fill(dim)((rnd.nextGaussian() * 2).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val model = Ivf.train(df, "embedding", "vec_id", nCells = 5, seed = 7L)
    val got = Ivf.cellStats(df, "embedding", model)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    // brute force with the SAME float-rounded coefficients the expression
    // scores with (cellStats joins float-cast centroids for the cosine)
    val cf = model.centroids.map(_.map(_.toFloat))
    def assignCell(v: Seq[Float]): Int = {
      var best = 0; var bestScore = Double.NegativeInfinity
      for (c <- model.centroids.indices) {
        var acc = 0.0
        for (i <- v.indices) acc += cf(c)(i).toDouble * v(i).toDouble
        val score = acc - model.centroids(c).map(x => x * x).sum / 2.0
        if (score > bestScore) { bestScore = score; best = c }
      }
      best
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val want = vecs.groupBy { case (_, v) => assignCell(v) }.toSeq.sortBy(_._1)
      .map { case (c, vs) =>
        (c, vs.size.toLong,
          vs.map { case (_, v) => math.round(cos(v, cf(c).toSeq) * 1000000.0) }.sum)
      }
    assert(got.toSeq == want)
    assert(got.map(_._2).sum == vecs.size)
    // coherence sanity: every mean cosine is a valid cosine
    got.foreach { case (c, n, micro) =>
      val mean = micro / 1e6 / n
      assert(mean >= -1.0 - 1e-6 && mean <= 1.0 + 1e-6, s"cell $c mean $mean")
    }
  }

  test("refine: the distributed Lloyd step matches the brute-force update exactly") {
    val rnd = new scala.util.Random(11L)
    val dim = 6
    val vecs = (1L to 150L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val m0 = Ivf.train(df, "embedding", "vec_id", nCells = 4, seed = 3L, maxIter = 1)
    val m1 = Ivf.refine(df, "embedding", m0)
    // brute force: float-rounded assignment replay, then the SAME
    // micro-unit quantized means (long sums are associative — exact)
    val byCell = vecs.groupBy { case (_, v) => assignCell(v, m0.centroids) }
    val expect = m0.centroids.zipWithIndex.map { case (old, c) =>
      byCell.get(c) match {
        case None => old
        case Some(vs) =>
          (0 until dim).map(p =>
            vs.map { case (_, v) => math.round(v(p).toDouble * 1000000L) }.sum
              .toDouble / 1e6 / vs.size).toArray
      }
    }
    m1.centroids.zip(expect).zipWithIndex.foreach { case ((got, want), c) =>
      assert(got.toSeq === want.toSeq, s"cell $c")
    }
    // an unreachable centroid (huge half-norm penalty) captures nothing
    // and must survive a refine untouched
    val far = Array.fill(dim)(1000.0)
    val mFar = Ivf.IvfModel(Array(Array.fill(dim)(0.0), far))
    val m2 = Ivf.refine(df, "embedding", mFar)
    assert(m2.centroids(1).toSeq === far.toSeq)
    assert(m2.centroids(0).toSeq !== mFar.centroids(0).toSeq)
    // refine is deterministic: same inputs, same model, bit for bit
    val m1b = Ivf.refine(df, "embedding", m0)
    assert(m1.centroids.map(_.toSeq).toSeq === m1b.centroids.map(_.toSeq).toSeq)
  }

  test("semanticDedup matches a union-find reference on random clustered vectors") {
    val rnd = new scala.util.Random(411L)
    for (round <- 1 to 3) {
      val dim = 6
      val nCells = 4
      val cents = Array.fill(nCells)(Array.fill(dim)(rnd.nextGaussian() * 3))
      // vectors hug a random centroid so near-dup pairs are dense in-cell
      val vecs = (1L to 80L).map { i =>
        val c = cents(rnd.nextInt(nCells))
        (i, c.map(x => (x + rnd.nextGaussian() * 0.4).toFloat).toSeq)
      }
      val model = Ivf.IvfModel(cents)
      val out = Similarity.semanticDedup(
          vecs.toDF("vec_id", "embedding"), "embedding", "vec_id", model, 0.9)
        .select("vec_id", "ivf_cell", "component", "keep")
        .as[(Long, Int, Long, Boolean)].collect().sortBy(_._1)

      // reference: assign, pair within cells, union-find, min-id survivor
      val cellOf = vecs.map { case (id, v) => id -> assignCell(v, cents) }.toMap
      val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for {
        (ia, va) <- vecs; (ib, vb) <- vecs
        if ia < ib && cellOf(ia) == cellOf(ib) && cos(va, vb) >= 0.9
      } {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = vecs.map { case (id, _) =>
        val comp = find(id)
        (id, cellOf(id), comp, comp == id)
      }
      assert(out.toSeq == want, s"round $round")
      // sanity: some rounds actually produce non-trivial groups
      if (round == 1) assert(out.exists(!_._4), "no duplicates generated")
    }
  }

  test("semanticDedupIncremental matches a batch-vs-history union-find reference") {
    val rnd = new scala.util.Random(1209L)
    val dim = 6
    val nCells = 3
    val cents = Array.fill(nCells)(Array.fill(dim)(rnd.nextGaussian() * 3))
    val vecs = (1L to 60L).map { i =>
      val c = cents(rnd.nextInt(nCells))
      (i, c.map(x => (x + rnd.nextGaussian() * 0.4).toFloat).toSeq)
    }
    val hist = vecs.filter(_._1 % 2 == 0)
    val batch = vecs.filter(_._1 % 2 == 1)
    val model = Ivf.IvfModel(cents)
    val out = Similarity.semanticDedupIncremental(
        batch.toDF("vec_id", "embedding"), hist.toDF("vec_id", "embedding"),
        "embedding", "vec_id", model, 0.9)
      .select("vec_id", "ivf_cell", "keep_vs_history", "component", "keep")
      .as[(Long, Int, Boolean, Long, Boolean)].collect().sortBy(_._1)

    val cellOf = vecs.map { case (id, v) => id -> assignCell(v, cents) }.toMap
    val vecOf = vecs.toMap
    val histDup = batch.collect { case (ib, vb)
      if hist.exists { case (ih, vh) =>
        cellOf(ib) == cellOf(ih) && cos(vb, vh) >= 0.9 } => ib
    }.toSet
    val surv = batch.filterNot(b => histDup(b._1))
    val parent = scala.collection.mutable.Map(batch.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      (ia, va) <- surv; (ib, vb) <- surv
      if ia < ib && cellOf(ia) == cellOf(ib) && cos(va, vb) >= 0.9
    } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = batch.map { case (id, _) =>
      val kvh = !histDup(id)
      val comp = if (kvh) find(id) else id
      (id, cellOf(id), kvh, comp, kvh && comp == id)
    }
    assert(out.toSeq == want)
    assert(out.exists(!_._3), "no history duplicates generated")
    assert(vecOf.size == 60) // split covers everything
  }

  test("dedupeByPairsBest keeps the highest-prefer member per cluster, ties to min id") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 7.0),   // cluster {1,2,3} → best is 2
      (4L, 1.0), (5L, 1.0),              // cluster {4,5}: tie → min id 4
      (6L, 0.0))                          // singleton keeps itself
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = graft.dedup.Dedup.dedupeByPairsBest(docs, "doc_id", pairs,
        prefer = col("score"))
      .select("doc_id", "component", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, true), (5L, 4L, false), (6L, 6L, true)))
  }

  test("semanticContamination: per-probe argmax, lowest-id tie break, " +
      "threshold count and verdict") {
    val probes = Seq(
      (1L, Seq(1f, 0f)),   // parallel to corpus 20/21 (cos 1.0 twice)
      (2L, Seq(0f, 1f))    // best is 22 at cos 1/sqrt(2); nothing >= 0.9
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (20L, Seq(2f, 0f)),  // cos 1.0 to probe 1 (scale-invariant)
      (21L, Seq(3f, 0f)),  // cos 1.0 to probe 1 — tie, HIGHER id loses
      (22L, Seq(1f, 1f)),  // cos 1/sqrt(2) to both probes
      (23L, Seq(1f, -1f))  // negative side for probe 2
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(
        probes, corpus, "embedding", "vec_id", threshold = 0.9)
      .select("probe_id", "best_id", "best_cos", "n_over", "contaminated")
      .as[(Long, Long, Double, Long, Boolean)].collect().sortBy(_._1)
    assert(out.length === 2)
    val p1 = out(0)
    assert(p1._1 === 1L && p1._2 === 20L && p1._4 === 2L && p1._5,
      s"probe 1: $p1")
    assert(math.abs(p1._3 - 1.0) < 1e-12)
    val p2 = out(1)
    assert(p2._1 === 2L && p2._2 === 22L && p2._4 === 0L && !p2._5,
      s"probe 2: $p2")
    assert(math.abs(p2._3 - math.sqrt(0.5)) < 1e-12)
    // model check on the driver-side cosine for the non-trivial cell
    assert(math.abs(p2._3 - cos(Seq(0f, 1f), Seq(1f, 1f))) < 1e-12)
  }

  test("semanticContaminationLsh: exact precision (subset of the " +
      "exhaustive verdicts), recall >= the banding bound, all probes kept") {
    // clustered synthetic embeddings: near-dups share a direction with
    // small noise, so over-threshold pairs exist; seeded -> deterministic
    val rnd = new scala.util.Random(97L)
    val dim = 16
    def base(k: Int): Array[Double] =
      Array.fill(dim)(rnd.nextGaussian()) // cluster direction k
    val dirs = (0 until 6).map(_ => base(0))
    def jitter(v: Array[Double], eps: Double): Seq[Float] =
      v.map(x => (x + eps * rnd.nextGaussian()).toFloat).toSeq
    // corpus: 60 vectors across 6 clusters; probes: 12, the first 8 near
    // a cluster (contaminated), the last 4 pure noise (clean)
    val corpus = (0 until 60).map(i =>
      (1000L + i, jitter(dirs(i % 6), 0.15))).toDF("vec_id", "embedding")
    val probes = ((0 until 8).map(i =>
      (i.toLong, jitter(dirs(i % 6), 0.15))) ++
      (8 until 12).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.semanticContamination(
        probes, corpus, "embedding", "vec_id", threshold = 0.8)
      .select("probe_id", "contaminated").as[(Long, Boolean)]
      .collect().toMap
    val lsh = Similarity.semanticContaminationLsh(
        probes, corpus, "embedding", "vec_id", threshold = 0.8, dim = dim)
      .select("probe_id", "contaminated").as[(Long, Boolean)]
      .collect().toMap
    // every probe present, even shortlist-empty ones
    assert(lsh.keySet === (0L until 12L).toSet)
    // exact precision: an LSH verdict is never a false positive
    lsh.foreach { case (id, c) =>
      if (c) assert(exact(id), s"probe $id flagged by LSH but not exact") }
    // recall over the contaminated set >= the 0.8 pin the q227 anchor uses
    val exactPos = exact.count(_._2)
    val lshPos = lsh.count(_._2)
    assert(exactPos >= 5, s"fixture must produce contamination: $exactPos")
    assert(lshPos * 10 >= exactPos * 8,
      s"shortlist recall $lshPos/$exactPos below the banding pin")
  }

  test("semanticContaminationLsh: overlapping probe/corpus id spaces " +
      "never conflate or drop rows (composite banding key)") {
    // corpus doc with id 1 = probe 1's near-copy; a bare union keyed on
    // the raw id would conflate them (or anti-join the corpus row away)
    val probes = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.99f, 0.1f, 0f, 0f)),  // same id as probe 1, cos ~0.995
      (9L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticContaminationLsh(
        probes, corpus, "embedding", "vec_id", threshold = 0.9, dim = 4)
      .select("probe_id", "best_id", "contaminated")
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1)
    assert(out.length === 2)
    assert(out(0) === ((1L, Some(1L), true)),
      s"corpus doc sharing the probe's id must still contaminate: ${out(0)}")
    assert(!out(1)._3, s"probe 2 is clean: ${out(1)}")
  }
}
