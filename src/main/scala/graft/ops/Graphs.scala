package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph centrality — the graph-based quality-weighting signal of
  * web-corpus pipelines (host/page centrality as a crawl-quality prior,
  * the role harmonic/PageRank centrality plays in Common-Crawl-derived
  * dataset curation). Complements [[graft.dedup.Dedup]]'s connected
  * components (cluster structure) with an IMPORTANCE ranking. Extension
  * beyond the reference (no graph analytics there).
  *
  * The iteration is PageRank in 64-bit FIXED POINT (micro units of a
  * 10¹² total mass): ranks and contributions are longs, every division
  * is a floor `div` of non-negative operands, and long sums are
  * order-independent — so the result is bit-replayable on any ANSI
  * engine (the same discipline as the odds-idf BM25 scorer; doubles
  * would make the fixture gate flake on summation order). Dangling-node
  * mass is dropped rather than redistributed — the standard simplified
  * variant; rank ORDERING of connected structure is unaffected, and
  * redistribution would cost one extra broadcast scalar per iteration
  * if a caller needs stochastic-matrix semantics.
  *
  * Scale shape: one edge-sized pass per iteration — contributions ride
  * a (ranks ⋈ outdeg) node-sized join fanned onto the edge list, then
  * one hash aggregate on `dst`; every exchange keys on node ids, so at
  * 100 TB the edges and rank table pre-bucket on the id
  * (`BatchView.writeBucketed`) and iterations plan exchange-free on
  * the edge side. Each iteration is `localCheckpoint`ed: k iterations
  * stay k linear jobs instead of one exponentially nested plan.
  *
  * Every edge-taking operator enters through `edgeIntake` (and source
  * ids through `sourceIntake`): one long cast, one checkpoint that
  * observes the null count, one error that names [[withNodeIds]]. The
  * shared derivations (simple graph, node set, degrees, symmetric
  * adjacency) sit beside them. */
object Graphs {

  /** PageRank damping in per mille: every PageRank here uses 0.85. */
  private val DampMilli = 850L

  /** Map STRING node keys (hosts, canonical URLs — the web-corpus graph
    * keys the centrality operators exist for) to stable long ids via a
    * collision-checked xxhash64 dictionary. Returns `(mappedEdges,
    * dict)`: the edge frame with `srcCol`/`dstCol` replaced by longs
    * (other columns pass through), and the `(node_id, node_key)`
    * mapping frame to join ranks back to keys.
    *
    * A hash dictionary (not a dense rank) is deliberate at scale: dense
    * ids need a GLOBAL row-number — a single-partition window or a
    * zipWithIndex seam — while the hash is a pure codegen projection
    * and the collision check is one vocab-sized aggregate. A collision
    * among node keys fails LOUDLY (at 10⁹ nodes the 64-bit birthday
    * bound is ~3·10⁻²; rerun with a salt suffix on the keys if one ever
    * fires). Null node keys fail loudly too — an inner-join mapping
    * would silently drop those edges. */
  def withNodeIds(edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) = {
    val (e, cE) = Ckpt.counts(edges // scanned for dict + mapping
      .withColumn(srcCol, col(srcCol).cast("string"))
      .withColumn(dstCol, col(dstCol).cast("string")),
      "bad" -> (col(srcCol).isNull || col(dstCol).isNull))
    val nullKeys = cE("bad")
    require(nullKeys == 0L,
      s"$nullKeys edge rows have null node keys — clean the edge list " +
        "before building the id dictionary")
    val dict = e.select(col(srcCol).as("node_key"))
      .union(e.select(col(dstCol).as("node_key")))
      .distinct()
      .select(xxhash64(col("node_key")).as("node_id"), col("node_key"))
      .localCheckpoint(eager = true)
    val collisions = dict.groupBy(col("node_id"))
      .agg(count(lit(1)).as("c")).where(col("c") > 1L).count()
    require(collisions == 0L,
      s"$collisions xxhash64 collisions among node keys — salt the keys " +
        "(e.g. prefix a constant) and rebuild the dictionary")
    val mapped = e
      .join(dict.select(col("node_key").as(srcCol), col("node_id").as("__src_id")), Seq(srcCol))
      .join(dict.select(col("node_key").as(dstCol), col("node_id").as("__dst_id")), Seq(dstCol))
      .drop(srcCol, dstCol)
      .withColumnRenamed("__src_id", srcCol)
      .withColumnRenamed("__dst_id", dstCol)
    (mapped, dict)
  }

  /** Fixed-point PageRank: `(node, rank_micro)` over the directed edge
    * list, `iterations` synchronous steps at damping 0.85 (`damp` =
    * 850 per mille).
    *
    * Per step, all integer:
    * {{{
    * base    = ((1000 − damp) · 10¹²) div 1000 div n
    * contrib = r(u) div outdeg(u)                  // per out-edge
    * r'(v)   = base + (damp · Σ_{u→v} contrib(u)) div 1000
    * }}} */
  def pageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
                    iterations: Int): DataFrame =
    pageRankFixedImpl(edges, srcCol, dstCol, None, iterations)

  /** `try_cast` (not `cast`): under ANSI a garbage id would throw a
    * generic CAST error mid-job; the null it yields here instead is
    * caught by the intake's guard with the actionable message (use
    * [[withNodeIds]]), and non-ANSI sessions behave identically. */
  private def tryLong(c: String) = expr(s"try_cast(`$c` as bigint)")

  private val idHint = "Graphs.withNodeIds first"

  /** The edge intake of every edge-taking operator: `srcCol`/`dstCol`
    * long-cast to the operator's own `ids` names (plus `w` when a
    * `weight` is given), eagerly checkpointed with the null count — and
    * any extra `flags` — observed in that same job, and a loud error on
    * a null id or weight. Without the guard every non-numeric id
    * (string hosts/URLs, the documented use) would collapse into one
    * null node and the result would be silently garbage. Returns the
    * checkpoint and the counts. */
  private def edgeIntake(edges: DataFrame, srcCol: String, dstCol: String,
                         ids: (String, String), weight: Option[Column] = None,
                         flags: Seq[(String, Column)] = Nil)
      : (DataFrame, Map[String, Long]) = {
    val (s, d) = ids
    val nullIds = col(s).isNull || col(d).isNull
    val (bad, what) =
      if (weight.isDefined) (nullIds || col("w").isNull, "ids/weights")
      else (nullIds, "ids")
    val (e, c) = Ckpt.counts(
      edges.select(Seq(tryLong(srcCol).as(s), tryLong(dstCol).as(d)) ++
        weight.map(_.as("w")): _*),
      ("bad" -> bad) +: flags: _*)
    val badIds = c("bad")
    require(badIds == 0L,
      s"$badIds edge rows have null node $what after the long cast " +
        s"— string node keys? map them through $idHint")
    (e, c)
  }

  /** The source-id intake of the multi-source operators: distinct
    * long-cast ids as `as`, followed by the `more` columns, eagerly
    * checkpointed, and a loud error on a null id. */
  private def sourceIntake(sources: DataFrame, sourceCol: String, as: String,
                           more: Column*): DataFrame = {
    val (out, c) = Ckpt.counts(
      sources.select(tryLong(sourceCol).as(as)).distinct()
        .select(col(as) +: more: _*),
      "badSrc" -> col(as).isNull)
    require(c("badSrc") == 0L,
      s"source ids must cast to non-null longs — map string keys through $idHint")
    out
  }

  /** Both endpoints of every edge as one `node` column, a row per side. */
  private def endpoints(e: DataFrame, s: String, d: String): DataFrame =
    e.select(col(s).as("node")).union(e.select(col(d).as("node")))

  /** The node set of a `(src, dst)` edge frame. */
  private def nodeSet(e: DataFrame): DataFrame =
    endpoints(e, "src", "dst").distinct()

  /** The canonical simple graph of an `(a, b)` edge frame: undirected
    * (`a < b`), deduped, no self-loops. */
  private def simpleGraph(raw: DataFrame): DataFrame =
    raw.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** `(node, degree)` of a canonical `(a, b)` graph. */
  private def degrees(und: DataFrame): DataFrame =
    endpoints(und, "a", "b").groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Both directions of a canonical `(a, b)` graph as `(u, v)`. */
  private def symmetric(und: DataFrame): DataFrame =
    und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))

  /** Edge-WEIGHTED fixed-point PageRank: a node splits its rank over
    * out-edges proportionally to weight — `contrib(u→v) = (r(u) · w)
    * div W(u)` with `W(u) = Σ out-weights` — the co-occurrence /
    * interaction-strength centrality. Weights must be positive longs;
    * keep them modest (r·w rides an int64: w ≤ ~10⁶ is safe at the
    * 10¹² mass scale). `pageRankFixed` is the all-weights-1 special
    * case of the same iteration. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int): DataFrame =
    pageRankFixedImpl(edges, srcCol, dstCol, Some(weightCol), iterations)

  /** PERSONALIZED PageRank: the teleport mass returns only to the SEED
    * set (uniformly), so ranks measure centrality RELATIVE to the seeds
    * — the trusted-seed quality-propagation shape of web-corpus
    * curation (rank hosts by proximity to a curated whitelist), and the
    * seeded variant of [[pageRankFixed]]'s global iteration. Same
    * 64-bit fixed-point discipline (floor `div`s, order-free long sums
    * ⇒ bit-replayable):
    * {{{
    * r₀(v)   = [v ∈ S] · 10¹² div |S|
    * r'(v)   = [v ∈ S] · ((1000 − damp) · 10¹² div 1000 div |S|)
    *           + (damp · Σ_{u→v} r(u) div outdeg(u)) div 1000
    * }}}
    * `seeds` is a one-column frame of node ids; ids outside the edge
    * list's node set are ignored (they can neither receive nor emit
    * mass), and an empty effective seed set fails loudly. Scale shape
    * is [[pageRankFixed]]'s plus one broadcast-sized membership flag
    * join on the node table — seed sets are whitelist-sized. */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    val (e, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"))
    val seedIds = seeds.select(tryLong(seedCol).as("node")).distinct()
    // membership flag rides the node table; seeds outside the graph
    // drop here (inner semi join), matching the documented semantics
    val (nodes, cN) = Ckpt.counts(nodeSet(e)
      .join(seedIds.select(col("node"), lit(1L).as("seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("seed"), lit(0L)).as("seed")),
      "seeds" -> (col("seed") === 1L))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outw"))
      .localCheckpoint(eager = true)
    val nSeeds = cN("seeds")
    require(nSeeds > 0L,
      "no seed id appears in the edge list's node set — personalized " +
        "rank is undefined without an effective seed")
    val init = 1000000000000L / nSeeds
    val base = (1000L - DampMilli) * 1000000000000L / 1000L / nSeeds
    var ranks = nodes.select(col("node"), (col("seed") * lit(init)).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = ranks
        .join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"), col("r"), col("outw"))
        .join(e, Seq("src"))
        .select(col("dst"), expr("r div outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (col("seed") * lit(base) +
            expr(s"($DampMilli * coalesce(s, cast(0 as bigint))) div 1000"))
            .as("r"))
        .localCheckpoint(eager = true)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) in integer fixed point —
    * the BIPARTITE-flavored centrality PageRank can't express: a good
    * HUB points at good authorities, a good AUTHORITY is pointed at by
    * good hubs (query→document, order→part, crawler→host). Returns
    * `(node, hub_nano, auth_nano)` over the deduped directed edge list.
    *
    * Per iteration, all integer (SCALE = 10⁹ nano units; the initial
    * hub mass is `SCALE div n` so total mass starts L1-normalized):
    * {{{
    * a_raw(v) = Σ_{u→v} h(u);  a(v) = a_raw(v)·10⁹ div Σ a_raw
    * h_raw(u) = Σ_{u→v} a(v);  h(u) = h_raw(u)·10⁹ div Σ h_raw
    * }}}
    * The L1 normalization replaces the classical L2 (a square root has
    * no exact integer form); it preserves the ranking and keeps every
    * step a floor `div` of non-negative longs — bit-replayable, the
    * [[pageRankFixed]] discipline. The normalizer AND the node count
    * are ONE-ROW frames broadcast back (no driver collect at all,
    * unlike PageRank's unavoidable n). Overflow headroom: normalized
    * mass keeps every raw score ≤ 10⁹, so `raw·SCALE ≤ 10¹⁸` always;
    * the normalizer sum is ≤ m·10⁹ — safe to ~9·10⁹ edges, shrink
    * SCALE for more. Assumes n < 10⁹ nodes (init floors to zero
    * beyond). Two edge-sized joins + two node-keyed aggregates per
    * iteration, exchanges keyed on node ids throughout (pre-bucketed
    * edges iterate exchange-free); each iteration `localCheckpoint`ed
    * — k linear jobs. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    val SCALE = 1000000000L
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"))
    val (e, cEdge) = Ckpt.counts(raw.distinct(), "n" -> lit(true))
    require(cEdge("n") > 0L, "edge list is empty — nothing to rank")
    val nodes = nodeSet(e).localCheckpoint(eager = true)
    val ncount = nodes.agg(count(lit(1)).as("n"))
    var hubs = nodes.crossJoin(broadcast(ncount))
      .select(col("node"), expr(s"${SCALE}L div n").as("h"))
    var auths = hubs.select(col("node"), col("h").as("a"))
    for (_ <- 1 to iterations) {
      // raw sums are LAZILY checkpointed (r17): each feeds BOTH its
      // normalizer aggregate and the node join — unpinned, the whole
      // hub⋈edges aggregate subtree executed twice per half-iteration
      // (once under the broadcast normalizer, once under the join)
      val araw = hubs.join(e, hubs("node") === e("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("v"))
        .localCheckpoint(eager = false)
      val asum = araw.agg(sum(col("v")).as("s"))
      auths = nodes.crossJoin(broadcast(asum))
        .join(araw, nodes("node") === araw("dst"), "left")
        .select(col("node"),
          coalesce(expr(s"(v * ${SCALE}L) div s"), lit(0L)).as("a"))
        .localCheckpoint(eager = true)
      // araw's consumers (asum's broadcast, the auths join) have now
      // materialized — release its blocks instead of pinning 2×iterations
      // node-sized RDDs for the job's lifetime (r18, the
      // connectedComponents unpersist discipline)
      Ckpt.release(araw)
      val hraw = auths.join(e, auths("node") === e("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("v"))
        .localCheckpoint(eager = false)
      val hsum = hraw.agg(sum(col("v")).as("s"))
      hubs = nodes.crossJoin(broadcast(hsum))
        .join(hraw, nodes("node") === hraw("src"), "left")
        .select(col("node"),
          coalesce(expr(s"(v * ${SCALE}L) div s"), lit(0L)).as("h"))
        .localCheckpoint(eager = true)
      Ckpt.release(hraw)
    }
    nodes
      .join(hubs, Seq("node")).join(auths, Seq("node"))
      .select(col("node"), col("h").as("hub_nano"), col("a").as("auth_nano"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simple graph induced by the edge list (direction,
    * duplicates and self-loops are normalized away) — the cohesion
    * signal of link/co-occurrence analysis (a host whose neighbors
    * interlink is a community; one whose neighbors don't is a hub or a
    * spam farm). Returns `(node, degree, triangles, cc_micro)` with
    * `cc_micro = (2 · triangles · 10⁶) div (degree · (degree − 1))` —
    * all integer, bit-replayable.
    *
    * Counting is COMPACT-FORWARD: every canonical edge is oriented from
    * the smaller to the larger endpoint under the total order
    * `(degree, id)`, so each triangle `a ≺ b ≺ c` materializes exactly
    * once as the wedge `(a→b, a→c)` closed by `a`'s higher-degree
    * neighbors' edge `b→c`. The orientation is the scale move: wedge
    * fan-out per node is bounded by its FORWARD degree (O(√m) on any
    * graph), so a 10⁸-follower hub generates zero wedges instead of
    * 10¹⁶ — a plain id-ordered wedge join has no such bound. Three
    * node-keyed hash joins + one aggregate; pre-bucketing the edge list
    * on the node id makes them exchange-free at 100 TB. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("a", "b"))
    val und = simpleGraph(raw)
    val deg = degrees(und).localCheckpoint(eager = true)
    // orient by (degree, id): struct comparison gives the total order
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("dstDeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("dstDeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dstDeg").as("dstDeg"))
      .localCheckpoint(eager = true) // walked three times below
    // wedges (u→v, u→w) with v ≺ w; closed iff v→w is an oriented edge
    val w1 = oriented.select(col("src"), col("dst").as("v"),
      col("dstDeg").as("vd"))
    val w2 = oriented.select(col("src"), col("dst").as("w"),
      col("dstDeg").as("wd"))
    val triangles = w1.join(w2, Seq("src"))
      .where(struct(col("vd"), col("v")) < struct(col("wd"), col("w")))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(triangles, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2L,
          expr("(2 * coalesce(triangles, cast(0 as bigint)) * 1000000) " +
            "div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_micro"))
  }

  /** Bipartite CO-OCCURRENCE projection with a HARD fan-out cap — the
    * graph CONSTRUCTION step five of this module's gates inline
    * (items sharing a basket, terms sharing a doc, pages sharing a
    * session), made safe for the hot-key regime: an uncapped
    * projection of a src with 10⁵ items emits 10¹⁰ pairs — one
    * pathological basket kills the job. Here each src contributes only
    * its `maxPerSrc` SMALLEST item ids (deterministic, id-ordered —
    * chosen over "first seen" because arrival order isn't replayable),
    * selected by the bounded [[graft.udafs.TopK]] aggregator: O(K)
    * task state at any group size, partial-aggregable, NO window (a
    * `row_number` cap would drag the hot src's rows into one task).
    * Pair fan-out is then ≤ K²/2 per src by construction. Returns
    * `(node_a, node_b, weight)`, `a < b`, weight = number of distinct
    * srcs whose capped item set contains both. */
  def cooccurrenceProject(edges: DataFrame, srcCol: String, dstCol: String,
                          maxPerSrc: Int): DataFrame = {
    require(maxPerSrc >= 2, s"maxPerSrc must be >= 2: $maxPerSrc")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("s", "i"))
    val capped = raw.distinct()
      .groupBy(col("s"))
      .agg(graft.udafs.TopK.smallestK(col("i"), maxPerSrc).as("items"))
      .select(col("s"), explode(col("items")).as("i"))
    capped.as("x").join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("node_a"), col("y.i").as("node_b"))
      .agg(count(lit(1)).as("weight"))
  }

  /** DETERMINISTIC random walks — the DeepWalk/node2vec sampling stage
    * (walk corpora feed skip-gram graph embeddings) with the randomness
    * derandomized the way all sampling here is ([[graft.ops.Sampling]]):
    * at step `i` from node `v`, the walk moves to the neighbor
    * minimizing `md5(v ⊕ i ⊕ nbr)` (ties toward the smaller id) — a
    * uniform-in-distribution choice that is a pure FUNCTION of the
    * graph, so walks are bit-replayable on any engine and stable across
    * reruns (re-training an embedding sees the same corpus). One walk
    * starts at every node; returns `(start, step, node)` for steps
    * `0..steps`, over the undirected simple graph.
    *
    * Scale shape: NO per-node adjacency arrays and NO ranked-neighbor
    * window (a 10⁸-degree hub would serialize through one task either
    * way) — each step is one frontier⋈adjacency hash join + one
    * `min_by` aggregate keyed on the walk, both partial-aggregable and
    * skew-splittable by AQE; steps are `localCheckpoint`ed linear
    * jobs. Frontier size stays exactly n rows per step. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be positive: $steps")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("a", "b"))
    val adj = symmetric(simpleGraph(raw)).localCheckpoint(eager = true)
    var frontier = adj.select(col("u").as("start")).distinct()
      .select(col("start"), col("start").as("node"))
      .localCheckpoint(eager = true)
    var out = frontier.withColumn("step", lit(0))
    for (i <- 1 to steps) {
      frontier = frontier
        .join(adj, frontier("node") === adj("u"))
        .select(col("start"),
          substring(md5(concat_ws("_",
            col("node"), lit(i), col("v"))), 1, 8).as("h"),
          col("v"))
        .groupBy(col("start"))
        .agg(min_by(col("v"), struct(col("h"), col("v"))).as("node"))
        .localCheckpoint(eager = true)
      out = out.unionByName(frontier.withColumn("step", lit(i)))
    }
    out.select(col("start"), col("step"), col("node"))
  }

  /** Synchronous LABEL PROPAGATION over the undirected simple graph —
    * community detection at linear cost (Raghavan et al. 2007), the
    * scale-out alternative to modularity optimization: labels start as
    * node ids and each round every node adopts its neighbors' most
    * frequent label. Returns `(node, label)` after exactly `rounds`
    * synchronous rounds.
    *
    * Classic LPA breaks frequency ties RANDOMLY, which is useless for
    * replay; this variant is fully DETERMINISTIC: ties break toward the
    * smallest label (`min_by` over `(-count, label)`), so the result is
    * a pure function of the edge list and bit-replayable in ANSI SQL
    * (`row_number() ORDER BY count DESC, label`). Synchronous updates
    * can oscillate on bipartite structure — `rounds` is an explicit
    * budget, not a convergence claim (the standard trade for the
    * deterministic synchronous form).
    *
    * Per round: one adjacency-sized join + one `(node, label)` count
    * aggregate + one `min_by` argmax per node, exchanges keyed on node
    * ids (pre-bucketed edges propagate exchange-free); rounds are
    * `localCheckpoint`ed linear jobs. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("a", "b"))
    val adj = symmetric(simpleGraph(raw)).localCheckpoint(eager = true)
    var labels = adj.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels, adj("v") === labels("node"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(min_by(col("lbl"),
          struct((col("c") * lit(-1L)).as("nc"), col("lbl"))).as("lbl"))
        .select(col("u").as("node"), col("lbl"))
        .localCheckpoint(eager = true)
    }
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** k-CORE decomposition by iterative peeling: repeatedly delete nodes
    * whose degree in the REMAINING undirected simple graph is < k, until
    * fixpoint (or `maxRounds` peels). Returns `(node, degree)` — the
    * surviving nodes with their within-core degree. The k-core is the
    * standard "dense kernel" extractor: spam-link detection (link farms
    * survive high k), community cores, and crawl-frontier priority all
    * peel the same way.
    *
    * Each round is one degree aggregate + two node-keyed semi-joins on
    * the shrinking edge list, `localCheckpoint`ed so r rounds stay r
    * linear jobs; the rounds-to-fixpoint is bounded by the degeneracy
    * ordering (tens, not thousands, on real web graphs — and `maxRounds`
    * caps it deterministically for replay). The only driver scalar per
    * round is the "did anything peel" count — same discipline as the
    * PageRank node count. Exchanges key on node ids throughout:
    * pre-bucketed edge tables peel exchange-free at 100 TB. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("a", "b"))
    var cur = simpleGraph(raw).localCheckpoint(eager = true)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val (deg, cD) = Ckpt.counts(degrees(cur), "low" -> (col("degree") < lit(k.toLong)))
      if (cD("low") == 0L) converged = true
      else {
        val good = deg.where(col("degree") >= k).select(col("node"))
        cur = cur
          .join(good.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(good.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .localCheckpoint(eager = true)
        round += 1
      }
    }
    degrees(cur)
  }

  /** Multi-source shortest paths (truncated Bellman–Ford): integer
    * distances from the nearest of the `sources` over the directed edge
    * list, `maxIter` synchronous relaxation rounds — so `dist(v)` is
    * the cheapest path of AT MOST `maxIter` edges (exact SSSP once
    * `maxIter` reaches the graph's hop diameter; the truncation is the
    * deterministic-replay cap, same role as k-core's `maxRounds`).
    * "How many hops is every page from the curated seed set" is the
    * crawl-frontier / quality-tier shape this exists for. Returns
    * `(node, dist)` for REACHED nodes only; unreached nodes are absent
    * (their distance is not 0 or ∞-as-sentinel — they have none). A
    * source id absent from the edge list still emits `(source, 0)` —
    * it is a component of its own.
    *
    * `weightCol` switches hop counts to positive integer edge weights
    * (latency, toll); all arithmetic stays in longs — bit-replayable.
    * Per round: one frontier⋈edges hash join + one min-aggregate on the
    * destination — both keyed on node ids, so pre-bucketed edges relax
    * exchange-free; each round `localCheckpoint`ed (k linear jobs). */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    sources: DataFrame, sourceCol: String, maxIter: Int,
                    weightCol: Option[String] = None): DataFrame = {
    require(maxIter >= 1, s"maxIter must be positive: $maxIter")
    val (e, cE) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"),
      Some(weightCol.map(tryLong).getOrElse(lit(1L))),
      Seq("badW" -> (col("w") <= 0L)))
    val badW = cE("badW")
    require(badW == 0L,
      s"$badW edge rows have non-positive weights — shortest paths over " +
        "zero/negative edges are not the truncated-relaxation semantics")
    var dist = sourceIntake(sources, sourceCol, "node", lit(0L).as("dist"))
    for (_ <- 1 to maxIter) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = true)
    }
    dist
  }

  /** Link prediction by common-neighbor evidence over the undirected
    * simple graph: for each NON-EDGE pair that shares at least one
    * neighbor, `(node_a, node_b, cn, deg_a, deg_b, jaccard_milli)` —
    * `cn` common neighbors and the integer-milli Jaccard
    * `cn·1000 div (deg_a + deg_b − cn)`. The "who should link next"
    * signal: co-purchase recommendation, crawl-link suggestion, missing
    * citation detection.
    *
    * Candidate pairs come from WEDGES (two-hop paths), so the pair
    * space is evidence-sized, never all-pairs. `maxWedgeDegree` is the
    * hub cap — the [[cooccurrenceProject]] fan-out bound: a node with
    * more neighbors than the cap CENTERS no wedges (its pair fan-out is
    * quadratic in its degree and its evidence is weak — everyone shares
    * the mega-hub), so `cn` counts common neighbors of degree ≤ cap —
    * EXACT when the cap clears the max degree, a documented lower bound
    * under it. Degrees in the Jaccard are always the full degrees.
    * One wedge self-join (bounded by the cap) + one pair aggregate +
    * one edge anti-join + two degree joins, all keyed on node/pair ids. */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
                  maxWedgeDegree: Int): DataFrame = {
    require(maxWedgeDegree >= 2,
      s"maxWedgeDegree must be at least 2 (a wedge needs 2 neighbors): " +
        s"$maxWedgeDegree")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("a", "b"))
    val und = simpleGraph(raw)
      .localCheckpoint(eager = true) // adjacency, degrees, and the anti-join
    val deg = degrees(und).localCheckpoint(eager = true)
    val adj = symmetric(und)
    val centers = deg.where(col("degree") <= maxWedgeDegree)
      .select(col("node").as("u"))
    val capped = adj.join(centers, Seq("u"), "left_semi")
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      .join(und, Seq("a", "b"), "left_anti") // existing edges are not predictions
    pairs
      .join(deg.select(col("node").as("a"), col("degree").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("deg_b")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"), col("cn"),
        col("deg_a"), col("deg_b"),
        expr("(cn * 1000) div (deg_a + deg_b - cn)").as("jaccard_milli"))
  }

  /** Modularity of a community assignment over the undirected simple
    * graph — the "is this clustering better than chance" score that
    * adjudicates [[labelPropagation]] round budgets and compares
    * clusterings. Newman's Q = Σ_c (L_c/m − (d_c/2m)²) where `L_c` =
    * intra-community edges, `d_c` = total degree in c, `m` = edge
    * count; returned EXACTLY as per-community integers — `(label,
    * size, intra_edges, degree_sum, q_num_part)` with
    * `q_num_part = 4m·L_c − d_c²` so `Q = Σ q_num_part / (4m²)` is a
    * ratio of longs (no doubles ⇒ bit-replayable, the PageRank
    * discipline). Nodes absent from `labels` fail loudly — a silent
    * inner join would drop their edges and skew every community's
    * score.
    *
    * Scale shape: two node-keyed label joins fanned onto the edge
    * list, one degree aggregate, one label aggregate — all exchanges
    * key on node ids or labels; pre-bucketed edges pay only the
    * label-sized final shuffle. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("a", "b"))
    val (und, cU) = Ckpt.counts(simpleGraph(raw), "m" -> lit(true))
    val (lbl, cL) = Ckpt.counts(labels.select(tryLong(nodeCol).as("node"),
        col(labelCol).as("lbl")),
      "badLbl" -> (col("node").isNull || col("lbl").isNull))
    require(cL("badLbl") == 0L,
      "labels frame has null node ids or labels")
    val m = cU("m")
    require(m > 0L, "edge list is empty — modularity is undefined")
    val (withLbls, cW) = Ckpt.counts(und
      .join(lbl.select(col("node").as("a"), col("lbl").as("la")), Seq("a"),
        "left")
      .join(lbl.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"),
        "left"),
      "unlabeled" -> (col("la").isNull || col("lb").isNull))
    val unlabeled = cW("unlabeled")
    require(unlabeled == 0L,
      s"$unlabeled edges touch nodes absent from the labels frame — " +
        "label every node in the edge list (or filter the edges first)")
    val intra = withLbls.where(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val degSum = endpoints(und, "a", "b")
      .join(lbl, Seq("node"))
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        count_distinct(col("node")).as("size"))
    degSum.join(intra, Seq("label"), "left")
      .select(col("label"), col("size"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4L * m) * coalesce(col("intra_edges"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_num_part"))
  }

  /** STRONGLY connected components of the directed graph — the directed
    * sibling of [[graft.dedup.Dedup]]'s undirected components: link-spam
    * ring detection, crawl-loop discovery, dependency-cycle audits.
    * Returns `(node, scc_id)` where `scc_id` is the LARGEST node id in
    * the component (a pure function of the graph ⇒ replayable).
    *
    * Algorithm: Orzan's coloring (the standard distributed SCC shape —
    * FW-BW without pivot selection), alternated with TRIM rounds that
    * settle in/out-degree-0 nodes as singletons in cheap degree-only
    * passes. Per peel: (1) propagate the MAX id
    * forward along edges to a fixed point, so `color(v)` = the largest
    * id that reaches v; (2) nodes with `color(v) = v` are roots, and the
    * SCC of root r is exactly the nodes of color r that reach r BACKWARD
    * through same-color nodes (grown to a fixed point along reversed
    * edges); (3) settled SCCs leave the graph, repeat. Every color class
    * sheds its root SCC each peel, so peels are bounded by the longest
    * root-SCC chain — tens on real graphs; `maxPeels` caps it and
    * non-convergence fails LOUDLY (never a silently partial result).
    *
    * Scale shape: both fixed points are node-keyed hash joins +
    * max/distinct aggregates over the shrinking edge list (pre-bucketed
    * edges iterate exchange-free); each step `localCheckpoint`ed so k
    * steps stay k linear jobs. The only driver scalars are the
    * convergence counts — the k-core discipline. */
  def scc(edges: DataFrame, srcCol: String, dstCol: String,
          maxPeels: Int = 64): DataFrame = {
    require(maxPeels >= 1, s"maxPeels must be positive: $maxPeels")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"))
    // self-loops don't change SCC membership; self-loop-only nodes stay
    // in the node set and settle as singletons
    var rem = raw.where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = true)
    var (nodes, cN) = Ckpt.counts(nodeSet(raw), "n" -> lit(true))
    Ckpt.release(raw)
    val spark = edges.sparkSession
    var result = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("scc_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var remaining = cN("n")
    // the settled-SCC accumulator is a LAZY union (r17 — consumed once at
    // the end), but on adversarial graphs up to 256 trim rounds × 64
    // peels would build a union of thousands of LogicalRDD branches and
    // driver analysis of the final plan blows up: COLLAPSE the
    // accumulator with one eager checkpoint every 16 unions (r18) — plan
    // width stays bounded while graphs that settle in a few unions (the
    // common case) never pay a collapse job. Once a collapse has
    // materialized, the previous collapse and every checkpoint the
    // unions since then read (`referenced`) are dead: release them.
    var unionsSinceCollapse = 0
    var collapsed: Option[DataFrame] = None
    var referenced = List.empty[DataFrame]
    def accumulate(settled: DataFrame): Unit = {
      result = result.union(settled)
      unionsSinceCollapse += 1
      if (unionsSinceCollapse >= 16) {
        result = result.localCheckpoint(eager = true)
        (collapsed.toList ++ referenced).foreach(Ckpt.release)
        collapsed = Some(result)
        referenced = Nil
        unionsSinceCollapse = 0
      }
    }
    // every other superseded step is released as soon as its successor
    // has materialized (all steps are eager checkpoints)
    def replace(old: DataFrame, next: DataFrame): DataFrame = {
      Ckpt.release(old)
      next
    }
    var peel = 0
    while (remaining > 0L && peel < maxPeels) {
      // (0) TRIM — the standard FW-BW companion: a node with in- or
      // out-degree 0 in the REMAINING graph is a singleton SCC; settling
      // those in cheap degree-only rounds keeps tree tendrils and
      // inter-cycle paths from costing one full coloring fixed point
      // per chain link. Capped as an optimization (leftovers settle via
      // peels — correctness never depends on the trim reaching fixpoint).
      var trimmed = true
      var trimRound = 0
      while (trimmed && trimRound < 256 && remaining > 0L) {
        val (keep, cK) = Ckpt.counts(nodes
          .join(rem.select(col("dst").as("node")).distinct(), Seq("node"),
            "left_semi")
          .join(rem.select(col("src").as("node")).distinct(), Seq("node"),
            "left_semi"),
          "n" -> lit(true))
        val keepN = cK("n")
        if (keepN == remaining) {
          trimmed = false
          Ckpt.release(keep)
        } else {
          val dropped = nodes.join(keep, Seq("node"), "left_anti")
          // result is consumed ONCE at the end — accumulate as a lazy
          // union of (checkpointed) member frames instead of paying an
          // eager checkpoint job per trim round (r17; the
          // neighborhoodExact accumulator discipline), width-bounded by
          // the periodic collapse above
          accumulate(dropped.select(col("node"), col("node").as("scc_id")))
          referenced ::= nodes
          nodes = keep
          rem = replace(rem, rem
            .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint(eager = true))
          remaining = keepN
        }
        trimRound += 1
      }
      if (remaining > 0L) {
      // (1) forward max-id propagation to fixed point
      var colors = nodes.select(col("node"), col("node").as("color"))
        .localCheckpoint(eager = true)
      var changedN = 1L
      while (changedN > 0L) {
        val pushed = colors.join(rem, colors("node") === rem("src"))
          .select(col("dst").as("node"), col("color"), lit(0).as("__o"))
        // the convergence count rides the round's own aggregate (r17):
        // colors holds exactly one row per node, so tagging it __o=1 and
        // taking max(color) WHERE __o=1 recovers the previous color in
        // the same groupBy — the old next⋈colors diff-join and its
        // separate count job are gone (2 jobs → 1 per round)
        val (next, cRound) = Ckpt.counts(
          colors.select(col("node"), col("color"), lit(1).as("__o"))
            .union(pushed)
            .groupBy(col("node"))
            .agg(max(col("color")).as("color"),
              max(when(col("__o") === 1, col("color"))).as("__old")),
          "changed" -> (col("color") =!= col("__old")))
        changedN = cRound("changed")
        // next keeps its __old column: every reader below selects by name
        colors = replace(colors, next)
      }
      // (2) backward membership sweep from the roots, same-color only
      val eCol = rem
        .join(colors.select(col("node").as("src"), col("color").as("csrc")),
          Seq("src"))
        .join(colors.select(col("node").as("dst"), col("color").as("cdst")),
          Seq("dst"))
        .where(col("csrc") === col("cdst"))
        .select(col("src"), col("dst"), col("csrc").as("color"))
        .localCheckpoint(eager = true)
      var (member, cM) = Ckpt.counts(colors.where(col("color") === col("node"))
        .select(col("node"), col("color")),
        "n" -> lit(true))
      Ckpt.release(colors)
      var memberN = cM("n")
      var grew = true
      while (grew) {
        val grown = eCol.as("e")
          .join(member.as("m"), col("e.dst") === col("m.node") &&
            col("e.color") === col("m.color"))
          .select(col("e.src").as("node"), col("e.color").as("color"))
        val (next, cNext) = Ckpt.counts(member.union(grown).distinct(),
          "n" -> lit(true))
        val nextN = cNext("n")
        grew = nextN > memberN
        member = replace(member, next)
        memberN = nextN
      }
      Ckpt.release(eCol)
      // (3) settle and peel (result stays a lazy union — see trim)
      accumulate(member.select(col("node"), col("color").as("scc_id")))
      val (nodesNext, cRem) = Ckpt.counts(
        nodes.join(member.select(col("node")), Seq("node"), "left_anti"),
        "n" -> lit(true))
      referenced = member :: nodes :: referenced
      nodes = nodesNext
      rem = replace(rem, rem
        .join(member.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(member.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .localCheckpoint(eager = true))
      remaining = cRem("n")
      }
      peel += 1
    }
    require(remaining == 0L,
      s"scc did not settle every node in $maxPeels peels ($remaining " +
        "left) — raise maxPeels (long chains of single-node components " +
        "peel one chain link per pass)")
    Ckpt.release(rem)
    result
  }

  /** EXACT neighborhood function: `(node, radius, reach)` — how many
    * nodes are within ≤ radius directed hops (self included), for
    * radius 0..`maxRadius`. The truth HyperBall approximates; its cost
    * is the materialized reachable-pair set (Σ ball sizes), so it's the
    * SMALL-graph / sampled-sources tool — fixture gates, per-seed
    * audits — while [[hyperBall]] carries the full-graph job at scale.
    * Each round: one pair⋈edges hash join + a distinct, node-keyed,
    * checkpointed. */
  def neighborhoodExact(edges: DataFrame, srcCol: String, dstCol: String,
                        maxRadius: Int): DataFrame = {
    require(maxRadius >= 1, s"maxRadius must be positive: $maxRadius")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"))
    val e = raw.where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = true)
    val nodes = nodeSet(raw).localCheckpoint(eager = true)
    var pairs = nodes.select(col("node"), col("node").as("reached"))
      .localCheckpoint(eager = true)
    var acc = nodes.select(col("node"), lit(0).as("radius"),
      lit(1L).as("reach"))
    for (k <- 1 to maxRadius) {
      pairs = pairs.union(
          pairs.join(e, pairs("reached") === e("src"))
            .select(pairs("node"), e("dst").as("reached")))
        .distinct()
        .localCheckpoint(eager = true)
      acc = acc.union(pairs.groupBy(col("node"))
        .agg(count(lit(1)).as("reach"))
        .select(col("node"), lit(k).as("radius"), col("reach")))
    }
    acc
  }

  /** Stress centrality from sampled sources (the INTEGER member of the
    * Brandes 1982/2001 family): `stress(v) = Σ_{s∈sources, t} σ_st(v)`,
    * the number of shortest s→t paths passing THROUGH v — the
    * load-bearing-junction signal betweenness normalizes, kept in exact
    * longs so the gate is bit-replayable (betweenness's σ_sv/σ_st
    * ratios are rationals; stress is the same two-pass algorithm
    * without the division). Two passes per the classic scheme:
    *
    *  1. forward BFS from all sources at once: `dist(s,v)` and the
    *     path counts `σ(s,v)` (sum of predecessor σ, level by level);
    *  2. backward over each source's shortest-path DAG:
    *     `p(v) = Σ_{v→w ∈ DAG} (1 + p(w))` — the number of DAG paths
    *     leaving v (each ends at some t≠v, all of them shortest-path
    *     segments) — then `stress(v) = Σ_s σ(s,v)·p_s(v)` over interior
    *     rows (v ≠ s).
    *
    * `maxDepth` truncates both passes (the deterministic-replay cap,
    * [[shortestPaths]]' `maxIter` role): pairs farther than `maxDepth`
    * hops from their source don't contribute — exact once it clears
    * the sampled eccentricities. Parallel edges are collapsed
    * (`distinct` — σ counts paths in the SIMPLE digraph; a doubled
    * edge row must not double the count) and self-loops never lie on a
    * shortest path. Sampled sources is the honest 100 TB shape
    * (Brandes–Pich 2007): exact all-sources stress is Θ(n·m); a seed
    * sample bounds the forward state to |S|·n rows keyed on (source,
    * node), every join node-keyed, each level checkpointed. Returns
    * `(node, stress)` for interior nodes only (stress ≥ 1). */
  def stressCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                       sources: DataFrame, sourceCol: String,
                       maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be positive: $maxDepth")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"))
    val e = raw.where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = true)
    var settled = sourceIntake(sources, sourceCol, "s", col("s").as("v"),
      lit(0).as("dist"), lit(1L).as("sigma"))
    for (l <- 0 until maxDepth) {
      val frontier = settled.where(col("dist") === l)
      val expanded = frontier.join(e, frontier("v") === e("src"))
        .groupBy(col("s"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("dst").as("v"), lit(l + 1).as("dist"),
          col("sigma"))
      val fresh = expanded
        .join(settled.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
      settled = settled.unionByName(fresh).localCheckpoint(eager = true)
    }
    // each source's shortest-path DAG: v at level d → w at level d+1
    val y = settled.select(col("s").as("ys"), col("v").as("yv"),
      col("dist").as("ydist"))
    val dagE = settled.join(e, settled("v") === e("src"))
      .join(y, col("ys") === col("s") && col("yv") === e("dst") &&
        col("ydist") === col("dist") + 1)
      .select(col("s"), col("v"), col("yv").as("w"), col("dist"))
      .localCheckpoint(eager = true)
    var pLevel = settled.select(col("s"), col("v"), lit(0L).as("p")).limit(0)
      .localCheckpoint(eager = true)
    var pAll = pLevel
    for (l <- (0 until maxDepth).reverse) {
      val pw = pLevel.select(col("s").as("ps"), col("v").as("pv"),
        col("p"))
      val pThis = dagE.where(col("dist") === l)
        .join(pw, col("ps") === col("s") && col("pv") === col("w"), "left")
        .groupBy(col("s"), col("v"))
        .agg(sum(lit(1L) + coalesce(col("p"), lit(0L))).as("p"))
        .localCheckpoint(eager = true)
      pAll = pAll.unionByName(pThis)
      pLevel = pThis
    }
    settled.join(pAll, Seq("s", "v"))
      .where(col("v") =!= col("s"))
      .groupBy(col("v"))
      .agg(sum(col("sigma") * col("p")).as("stress"))
      .select(col("v").as("node"), col("stress"))
  }

  /** HyperBall (Boldi & Vigna 2013): the neighborhood function by
    * HLL sketch — per node a ball sketch starts as {node} and each
    * round unions in the out-neighbors' balls, so after k rounds
    * `reach_est` estimates |{u : dist(v,u) ≤ k}| (±~1.6% at lgK 12).
    * THE way to compute closeness/harmonic centrality on a 10⁹-node
    * graph: state is O(n · 2^lgK) bytes — node-sized, never pair-sized
    * — where [[neighborhoodExact]]'s pair frame would be the
    * transitive closure. Deterministic (DataSketches HLL is a pure
    * function of the value set), so reruns replay. Per round: one
    * edges⋈balls hash join + one node-keyed `hll_union_agg`,
    * checkpointed; pre-bucketed edges gather exchange-free. Returns
    * `(node, radius, reach_est)` for radius 0..`maxRadius`, estimates
    * as longs. */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
                maxRadius: Int): DataFrame = {
    require(maxRadius >= 1, s"maxRadius must be positive: $maxRadius")
    val (raw, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"))
    val e = raw.where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = true)
    var balls = nodeSet(raw).groupBy(col("node"))
      .agg(hll_sketch_agg(col("node"), lit(12)).as("ball"))
      .localCheckpoint(eager = true)
    def emit(k: Int) = balls.select(col("node"), lit(k).as("radius"),
      hll_sketch_estimate(col("ball")).cast("long").as("reach_est"))
    var acc = emit(0)
    for (k <- 1 to maxRadius) {
      val gathered = e.join(balls, e("dst") === balls("node"))
        .select(e("src").as("node"), col("ball"))
      balls = balls.select(col("node"), col("ball")).union(gathered)
        .groupBy(col("node"))
        .agg(hll_union_agg(col("ball"), lit(false)).as("ball"))
        .localCheckpoint(eager = true)
      acc = acc.union(emit(k))
    }
    acc
  }

  /** Effective diameter from a ball table ([[neighborhoodExact]] or
    * [[hyperBall]] output): the smallest radius whose cumulative
    * reachable-pair count covers ≥ `permille`/1000 of the pairs
    * reachable at the table's maximum radius — the "90% of connected
    * pairs sit within k hops" summary (the HyperBall paper's headline
    * statistic). One radius-keyed aggregate over the ball table + a
    * 1-row broadcast of the total — integer throughout. Returns one
    * row `(eff_diameter, covered_pairs, total_pairs)`. */
  def effectiveDiameter(balls: DataFrame, permille: Long = 900L): DataFrame = {
    require(permille >= 1L && permille <= 1000L,
      s"permille must be in [1, 1000]: $permille")
    val reachCol = if (balls.columns.contains("reach")) "reach"
      else "reach_est"
    val per = balls.groupBy(col("radius").cast("int").as("radius"))
      .agg(sum(col(reachCol).cast("long")).as("covered"))
    val total = per.select(max_by(col("covered"), col("radius"))
      .as("total"))
    per.crossJoin(broadcast(total)) // total is one row by construction
      .where(col("covered") * lit(1000L) >= lit(permille) * col("total"))
      .agg(min(col("radius")).as("eff_diameter"),
        min_by(col("covered"), col("radius")).as("covered_pairs"),
        first(col("total")).as("total_pairs"))
  }

  /** Truncated harmonic centrality from a ball table
    * (`(node, radius, reach*)` — [[neighborhoodExact]] output for the
    * exact form, [[hyperBall]] for the estimated one):
    * `harmonic_milli = Σ_{k=1..R} (N_k − N_{k−1}) · 1000 div k` — each
    * newly reached node contributes 1/d(v,u), integer-milli. The
    * per-node window is ≤ R+1 rows by construction (radius values), so
    * the sort is bounded — never a data-sized window partition. */
  def harmonicFromBalls(balls: DataFrame): DataFrame = {
    val reachCol = if (balls.columns.contains("reach")) "reach"
      else "reach_est"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("radius")
    balls.select(col("node"), col("radius"),
        col(reachCol).cast("long").as("n"))
      .withColumn("prev", lag(col("n"), 1).over(w))
      .where(col("radius") >= 1)
      .groupBy(col("node"))
      .agg(sum(expr("((n - prev) * 1000) div radius"))
        .as("harmonic_milli"))
  }

  private def pageRankFixedImpl(edges: DataFrame, srcCol: String,
                                dstCol: String, weightCol: Option[String],
                                iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    val weighted = weightCol.isDefined
    val (eAll, _) = edgeIntake(edges, srcCol, dstCol, ("src", "dst"), // walked every iteration
      Some(weightCol.map(tryLong).getOrElse(lit(1L))))
    val e = if (weighted) eAll.where(col("w") > 0L) else eAll
    val (nodes, cN) = Ckpt.counts(nodeSet(e), "n" -> lit(true))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
      .localCheckpoint(eager = true)
    // n is a driver scalar by necessity (it seeds every rank literal);
    // observed during the node-table checkpoint, not a second pass
    val n = cN("n")
    require(n > 0L, "edge list is empty" +
      (if (weighted) " (or all weights are non-positive)" else "") +
      " — nothing to rank")
    val init = 1000000000000L / n
    val base = (1000L - DampMilli) * 1000000000000L / 1000L / n
    var ranks = nodes.select(col("node"), lit(init).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = ranks
        .join(outw, ranks("node") === outw("src"))
        .select(col("src"), col("r"), col("outw"))
        .join(e, Seq("src"))
        .select(col("dst"), expr("(r * w) div outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($DampMilli * coalesce(s, cast(0 as bigint))) div 1000"))
            .as("r"))
        .localCheckpoint(eager = true)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }
}
