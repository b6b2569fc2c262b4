package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity operators over an `Array[Float]` embedding column:
  * exact cosine, brute-force top-k, LSH-bucketed ANN, and cosine near-dup
  * pairs.
  *
  * Numeric discipline: all arithmetic is float→double cast then a
  * LEFT-TO-RIGHT sequential fold (`aggregate` over `zip_with`), which makes
  * results bit-deterministic and reproducible against any engine that sums
  * in list order. No BLAS, no reassociation.
  *
  * Scale design: brute-force is a broadcast of the (tiny) query vector over
  * a narrow scan — embarrassingly parallel, no shuffle until the final
  * top-k (which is `orderBy.limit` = per-partition partial top-k then a
  * single reduce). The LSH variant buckets by random-hyperplane signs so
  * candidate generation is a bucket-key shuffle instead of all-pairs.
  */
object Similarity {

  /** Salt values of every salted shuffle-hash join here: a hot block or
    * probe stream splits this many ways. */
  private val SaltBuckets = 8

  /** Sequential dot product of two float arrays (double accumulate) — the
    * native codegen expression; same left-to-right fold as the HOF form
    * (`aggregate(zip_with(...))`), ~100× faster in pair joins. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.fdot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force exact top-k by cosine against a literal query vector.
    * `orderBy.limit(k)` plans as TakeOrderedAndProject — per-partition
    * top-k, no full sort, no full shuffle. */
  def bruteForceTopK(embeddings: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    embeddings
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine of a DRIVER-SIDE probe suite against every corpus
    * vector: `(query_id, idCol, cos)`. The suite rides the plan as ONE
    * array-of-structs literal exploded per corpus row — a generator
    * fan-out, not a join, so no cartesian enters the plan; output is
    * |queries| × corpus by construction, which is why the suite must be
    * evaluation-sized (the q30 collected-query pattern). Production
    * multi-query retrieval probes [[annTopK]] / [[Ivf.topK]] per query
    * instead; this is the exact-ranking arm for gates and fusion
    * ([[graft.text.Retrieval.rrfFuse]]). */
  def bruteForceScores(embeddings: DataFrame, vecCol: String, idCol: String,
                       queries: Seq[(Long, Seq[Float])]): DataFrame = {
    require(queries.nonEmpty, "probe suite must be non-empty")
    val qLit = array(queries.map { case (qid, v) =>
      struct(lit(qid).as("query_id"), array(v.map(lit): _*).as("qe"))
    }: _*)
    embeddings
      .select(col(idCol), col(vecCol), explode(qLit).as("__q"))
      .select(col("__q.query_id").as("query_id"), col(idCol),
        cosine(col(vecCol), col("__q.qe")).as("cos"))
  }

  /** The seeded plane family shared by signature generation and the
    * driver-side probe computation: `numPlanes` rows of `dim` gaussians,
    * flattened plane-major. */
  private[graft] def planeFamily(dim: Int, numPlanes: Int, seed: Long): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian())).flatten
  }

  /** Random-hyperplane LSH signature: sign bits of `numPlanes` projections,
    * packed into a Long. Deterministic via seeded plane generation. One
    * codegen pass over a referenced plane matrix — see
    * [[graft.functions.HyperplaneSignatures]] for why this is an
    * expression, not `numPlanes` composed dot products. */
  def hyperplaneSignature(vec: Column, dim: Int, numPlanes: Int, seed: Long = 42L): Column =
    element_at(graft.functions.VectorExpressions.hyperplaneSigs(
      vec, planeFamily(dim, numPlanes, seed), numPlanes, dim), 1)

  /** The query's probe buckets for multi-probe LSH (Lv et al., "Multi-Probe
    * LSH", VLDB'07): the query signature itself, then signatures reached by
    * flipping the sign bits whose hyperplane projections have the SMALLEST
    * |margin| — those are the planes a true neighbor most plausibly sits on
    * the other side of. Subsets are ranked by total flipped margin;
    * driver-side, O(2^min(numPlanes,16)) over a handful of doubles. */
  def probeSignatures(query: Seq[Float], numPlanes: Int,
                      probes: Int, seed: Long = 42L): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(numPlanes)(Seq.fill(query.size)(rnd.nextGaussian()))
    val projs = planes.map(_.zip(query).map { case (p, x) => p * x.toDouble }.sum)
    val qSig = projs.zipWithIndex.map { case (d, i) => if (d > 0) 1L << i else 0L }.reduce(_ | _)
    val flippable = projs.map(math.abs).zipWithIndex.sortBy(_._1).take(16)
    (0 until (1 << flippable.size)).map { mask =>
      val chosen = flippable.zipWithIndex.filter { case (_, j) => (mask & (1 << j)) != 0 }
      val cost = chosen.map(_._1._1).sum
      val sig = chosen.foldLeft(qSig) { case (s, ((_, bit), _)) => s ^ (1L << bit) }
      (cost, sig)
    }.sortBy(_._1).take(probes).map(_._2)
  }

  /** ANN top-k: restrict candidates to vectors in the query's LSH bucket,
    * then exact cosine within. `probes` > 1 turns on multi-probe: the
    * lowest-margin neighboring buckets are searched too, recovering most
    * of the recall lost to quantization at `probes`× the candidate cost —
    * far cheaper than re-hashing with more tables. Candidate generation
    * stays one narrow scan pass (`sig IN (...)` on a computed column; with
    * a pre-materialized signature column it becomes a pushed-down IN). */
  def annTopK(embeddings: DataFrame, vecCol: String, idCol: String,
              query: Seq[Float], k: Int, numPlanes: Int = 8,
              probes: Int = 1): DataFrame = {
    val dim = query.size
    val sigs = probeSignatures(query, numPlanes, probes, 42L)
    val q = array(query.map(lit): _*)
    embeddings
      .withColumn("sig", hyperplaneSignature(col(vecCol), dim, numPlanes, 42L))
      .where(col("sig").isin(sigs: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-dup pairs, blocked by a key column (e.g. label
    * or LSH signature) to avoid the quadratic cross join.
    *
    * Norms are computed ONCE per vector before the pair join (an attribute
    * through the shuffle), so each pair evaluates a single codegen dot —
    * not dot + two norms. The result is bit-identical: cosine =
    * dot / (norm_a * norm_b) with the same fold order.
    *
    * Scale design: a SHUFFLE hash join on a salted block key — never a
    * broadcast of the embedding table (which dies at corpus scale). Block
    * cardinality can be far below the cluster's core count (e.g. 10
    * labels), so the left side is salted by `xxhash64(id)` and the right
    * side replicated across the 8 salt values: each (a, b)
    * pair meets exactly once (at a's salt), parallelism rises 8
    * × block-count, and skewed blocks are split the same way AQE's
    * skew-join duplication would split them, but deterministically. */
  def cosinePairs(embeddings: DataFrame, vecCol: String, idCol: String,
                  blockCol: String, threshold: Double): DataFrame = {
    val withNorm = embeddings.select(col(blockCol).as("blk"), col(idCol),
      col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val l = withNorm.toDF("blk", "id_a", "v_a", "n_a")
      .withColumn("salt", pmod(xxhash64(col("id_a")), lit(SaltBuckets)))
    val r = withNorm.toDF("blk", "id_b", "v_b", "n_b")
      .withColumn("salt", explode(array((0 until SaltBuckets).map(lit): _*)))
    // The hint goes on the LEFT (salted) side so IT becomes the hash-BUILD
    // side: each (blk, salt) task's in-memory map holds only ~1/8
    // of the block, while the replicated right side streams through as the
    // probe. Hinting the right side would build the map over the FULL block
    // per task — inverting the memory win the salting buys (SHJ build maps
    // can't spill the way sort-merge does).
    l.hint("shuffle_hash").join(r, Seq("blk", "salt"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Cross-corpus embedding near-dup join: pairs (id_l, id_r, cos ≥
    * threshold) between two DIFFERENT corpora — the incremental form of
    * [[cosinePairs]], for deduping a new batch of embeddings against the
    * accumulated corpus without re-pairing the corpus against itself.
    *
    * Orientation is sized for `right` ≫ `left` (history vs batch): the
    * HUGE right side takes ONE salt per row (`hash(id) % 8`) and
    * STREAMS through the join exactly once — never replicated, never
    * broadcast, never self-joined — while the (small-by-contract) LEFT
    * side replicates across all salt values and, via the shuffle-hash
    * hint, becomes the per-task build map (one block's worth of batch
    * rows — batch-bounded memory, the size contract that licenses SHJ's
    * unspillable build). The salt here splits each block's PROBE stream
    * 8 ways, so a hot cell gets that much task parallelism
    * instead of one straggler. Norms are computed once per vector before
    * the join; id spaces may overlap (pairs are (left id, right id),
    * both orders meaningful to the caller). */
  def cosineJoin(left: DataFrame, right: DataFrame, vecCol: String,
                 idCol: String, blockCol: String, threshold: Double): DataFrame = {
    val l = left.select(col(blockCol).as("blk"), col(idCol).as("id_l"),
        col(vecCol).as("v_l"), norm(col(vecCol)).as("n_l"))
      .withColumn("salt", explode(array((0 until SaltBuckets).map(lit): _*)))
    val r = right.select(col(blockCol).as("blk"), col(idCol).as("id_r"),
        col(vecCol).as("v_r"), norm(col(vecCol)).as("n_r"))
      .withColumn("salt", pmod(xxhash64(col("id_r")), lit(SaltBuckets)))
    l.hint("shuffle_hash").join(r, Seq("blk", "salt"))
      .select(col("id_l"), col("id_r"),
        (dot(col("v_l"), col("v_r")) / (col("n_l") * col("n_r"))).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Benchmark-contamination screen in EMBEDDING space — the paraphrase
    * leak detector (stage 1 of the LLM-decontaminator recipe, Yang et
    * al. 2023: embedding similarity shortlists rephrased benchmark
    * copies that n-gram containment misses; [[graft.dedup.Dedup
    * .contaminationReport]] is the verbatim-leak complement). For every
    * probe (benchmark item): the best-matching corpus document by
    * cosine (ties to the lowest corpus id — deterministic), how many
    * corpus docs clear `threshold`, and the verdict.
    *
    * Exhaustive by design — an audit must not miss a leak to banding
    * recall, and probe sets are benchmark-sized (10³–10⁵), not
    * corpus-sized. Shape: the probe side fans out over 8 salt values,
    * the corpus salts by id hash, and the shuffle-hash equi-join on
    * salt streams every (probe, corpus) cosine straight into a
    * partial-aggregable per-probe max/count — P·N cosines flow through
    * the aggregate but only P rows ever materialize, and the hot probe
    * rows split across 8 tasks (the [[cosineJoin]]
    * discipline; never a cartesian operator). For probe sets too big
    * for brute force use [[semanticContaminationLsh]] — the
    * [[cosinePairsLsh]]-shortlist composition of exactly this screen. */
  def semanticContamination(probe: DataFrame, corpus: DataFrame,
                            vecCol: String, idCol: String, threshold: Double): DataFrame = {
    val p = probe.select(col(idCol).as("probe_id"), col(vecCol).as("v_p"),
        norm(col(vecCol)).as("n_p"))
      .withColumn("salt", explode(array((0 until SaltBuckets).map(lit): _*)))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("v_c"),
        norm(col(vecCol)).as("n_c"))
      .withColumn("salt", pmod(xxhash64(col("corpus_id")), lit(SaltBuckets)))
    p.hint("shuffle_hash").join(c, Seq("salt"))
      .select(col("probe_id"), col("corpus_id"),
        (dot(col("v_p"), col("v_c")) / (col("n_p") * col("n_c"))).as("cos"))
      .groupBy(col("probe_id"))
      .agg(
        max(struct(col("cos").as("cos"), (-col("corpus_id")).as("nid")))
          .as("__b"),
        sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_over"))
      .select(col("probe_id"),
        (-col("__b.nid")).as("best_id"),
        col("__b.cos").as("best_cos"),
        col("n_over"),
        (col("__b.cos") >= threshold).as("contaminated"))
  }

  /** [[semanticContamination]] for probe sets too big for the exhaustive
    * P·N screen — the documented big-probe path, now a first-class
    * operator: [[cosinePairsLsh]] SHORTLISTS the corpus (banded
    * hyperplane signatures over probe ∪ corpus — sub-quadratic candidate
    * generation, exact-cosine verified), then the exhaustive screen
    * re-runs over only the shortlisted corpus docs. Same output shape as
    * [[semanticContamination]], every probe present (shortlist-empty
    * probes report best_cos null / n_over 0 / contaminated false).
    *
    * Semantics vs the exhaustive screen: PRECISION is exact (every
    * flagged pair was verified with exact cosine), `n_over` and the
    * verdict have banding RECALL — a contaminated probe is missed only
    * if EVERY over-threshold pair of it misses all 16 bands of 4 planes
    * (per-pair miss (1−(1−θ/π)^4)^16).
    * `best_id`/`best_cos` are exact for the pairs found.
    * Probe and corpus id spaces MAY overlap: the banding runs over
    * their union keyed by a composite (side, id) struct, so a corpus
    * doc sharing an id with a probe is still its own row — never
    * conflated, never filtered away.
    *
    * Scale shape: banding rows are (id, band, bucket-long) — vectors
    * never ride the banding shuffle; the shortlist semi-join keys on the
    * corpus id; the re-screen is the salted [[semanticContamination]]
    * stream over P·|shortlist| ≪ P·N. */
  def semanticContaminationLsh(probe: DataFrame, corpus: DataFrame,
                               vecCol: String, idCol: String,
                               threshold: Double, dim: Int): DataFrame = {
    val p = probe.select(col(idCol), col(vecCol))
    val c = corpus.select(col(idCol), col(vecCol))
    // composite banding key: (side, id) — orderable, and keeps a corpus
    // row distinct from a probe row with the SAME id
    def sided(df: DataFrame, side: Int) = df.select(
      struct(lit(side).as("s"), col(idCol).as("i")).as("__sid"),
      col(vecCol))
    val pairs = cosinePairsLsh(sided(p, 0).unionByName(sided(c, 1)),
      vecCol, "__sid", threshold, dim, bands = 16, planesPerBand = 4)
    // corpus members of probe↔corpus candidate pairs; side 0 (probe)
    // always orders before side 1 (corpus) in the id_a < id_b pair
    val shortlist = pairs
      .where(col("id_a.s") === 0 && col("id_b.s") === 1)
      .select(col("id_b.i").as(idCol)).distinct()
    val screened = semanticContamination(p,
      c.join(shortlist, Seq(idCol), "left_semi"),
      vecCol, idCol, threshold)
    p.select(col(idCol).as("probe_id")).distinct()
      .join(screened, Seq("probe_id"), "left")
      .select(col("probe_id"), col("best_id"), col("best_cos"),
        coalesce(col("n_over"), lit(0L)).as("n_over"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Embedding-cosine near-dup pairs WITHOUT a natural block key: LSH
    * banding over random-hyperplane signatures (the minhashLshPairs shape
    * for the cosine metric). Each of `bands` independent plane families
    * packs `planesPerBand` sign bits into a bucket key; near-parallel
    * vectors collide in ≥1 band with high probability (per-band collision
    * = (1 − θ/π)^planesPerBand). Candidates are de-duplicated across
    * bands, then verified with exact cosine — precision is exact, recall
    * is the banding probability (raise `bands` to push it up).
    *
    * Scale shape: banding rows are (id, band, long-bucket) — vectors never
    * ride the banding shuffle; verification joins the (small) candidate
    * pair set back to the normed vectors by id. */
  def cosinePairsLsh(embeddings: DataFrame, vecCol: String, idCol: String,
                     threshold: Double, dim: Int, bands: Int = 8,
                     planesPerBand: Int = 8): DataFrame = {
    // all bands' signatures in ONE expression pass (band b keeps its own
    // seeded family, identical to composing per-band signatures)
    val allPlanes = (0 until bands).flatMap(b => planeFamily(dim, planesPerBand, 42L + b))
    val sigs = graft.functions.VectorExpressions.hyperplaneSigs(
      col(vecCol), allPlanes, planesPerBand, dim)
    val banded = embeddings.select(col(idCol),
      posexplode(sigs).as(Seq("band", "sig")))
    val cand = banded.select(col("band"), col("sig"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("sig"), col(idCol).as("id_b")),
        Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val withNorm = embeddings.select(col(idCol),
      col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    cand
      .join(withNorm.toDF("id_a", "v_a", "n_a"), "id_a")
      .join(withNorm.toDF("id_b", "v_b", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Semantic dedup (the SemDeDup pattern: cluster embeddings with
    * k-means, prune within-cluster cosine near-dups): assign every vector
    * to its nearest `model` centroid, find within-cell pairs with
    * cosine ≥ `threshold`, connect them into semantic groups, and flag
    * one canonical survivor (min id) per group. Returns the input +
    * `ivf_cell`, `component`, `keep` — filter `keep` for the pruned
    * corpus, or keep the labels for cluster-aware curation.
    *
    * Scale shape: cell assignment is one codegen expression pass (the
    * [[graft.functions.NearestCentroid]] referenced-matrix loop — no
    * join against a centroid table); the pairwise stage is
    * [[cosinePairs]] blocked by cell, so the quadratic work is bounded
    * per cluster and the salted shuffle-hash join splits hot cells
    * deterministically; components and the survivor flag-back are
    * [[graft.dedup.Dedup.dedupeByPairs]] (the pair graph is tiny next to
    * the corpus — AQE broadcasts the component map). Assignment is
    * recomputed per consumer rather than materialized (vectors are the
    * dominant payload; persisting them per-job costs more than the
    * expression pass) — for a recurring pipeline, persist the assigned
    * table cell-partitioned once via [[Ivf.build]] + [[BatchView]] and
    * feed it straight to [[cosinePairs]]. Train the model on the corpus
    * ([[Ivf.train]]) or supply domain centroids; more cells = less
    * pairwise work but more boundary misses (near-dups straddling a cell
    * boundary are not compared — the SemDeDup trade). */
  def semanticDedup(embeddings: DataFrame, vecCol: String, idCol: String,
                    model: Ivf.IvfModel, threshold: Double): DataFrame = {
    val assigned = Ivf.assign(embeddings, vecCol, model)
    val pairs = cosinePairs(assigned, vecCol, idCol, "ivf_cell", threshold)
    graft.dedup.Dedup.dedupeByPairs(assigned, idCol, pairs)
  }

  /** Incremental [[semanticDedup]] — the daily-ingest form: dedupe a NEW
    * batch of embeddings against an accumulated (already semantically
    * deduped) history, then within itself, without ever re-pairing
    * history against history. Per batch row:
    *
    *   `keep_vs_history` — no history embedding in the same cell has
    *                       cosine ≥ threshold ([[cosineJoin]]: history
    *                       streams once as the probe side, batch is the
    *                       salted build side);
    *   `component`       — in-batch semantic group over the history
    *                       survivors (docs dropped vs history keep their
    *                       own id);
    *   `keep`            — `keep_vs_history` AND the group's min-id
    *                       survivor.
    *
    * Scale shape mirrors the other incremental operators: cell assignment
    * is the codegen [[graft.functions.NearestCentroid]] pass on BOTH
    * sides (history's assignment is recomputed in stream — or persist the
    * assigned table cell-partitioned and skip it), state is batch-sized
    * only, and cell blocking bounds the cross-join exactly as in the
    * batch form. Same boundary-miss trade as SemDeDup: near-dups
    * straddling a cell boundary are not compared. */
  def semanticDedupIncremental(batch: DataFrame, history: DataFrame,
                               vecCol: String, idCol: String,
                               model: Ivf.IvfModel, threshold: Double): DataFrame =
    semanticDedupIncrementalAssigned(batch,
      Ivf.assign(history.select(col(idCol), col(vecCol)), vecCol, model),
      vecCol, idCol, model, threshold)

  /** [[semanticDedupIncremental]] with a PRE-ASSIGNED history — rows of
    * (idCol, vecCol, ivf_cell) as persisted by
    * [[graft.jobs.HistoryStateJob]]. This is the daily-ingest fast path
    * the incremental form's Scaladoc promises: the history's cell
    * assignment is a per-row k×dim dot-product pass, and recomputing it
    * over an EVER-GROWING history every day is the one cost in the
    * incremental shape that scales with the accumulated corpus instead
    * of the batch — persisting the assigned table amortizes it to zero.
    * The model must be the SAME one the history was assigned with
    * (HistoryStateJob stores one model per state home). */
  def semanticDedupIncrementalAssigned(batch: DataFrame, historyAssigned: DataFrame,
                                       vecCol: String, idCol: String,
                                       model: Ivf.IvfModel, threshold: Double): DataFrame = {
    val bAssigned = Ivf.assign(batch, vecCol, model)
    val hAssigned = historyAssigned.select(col(idCol), col(vecCol), col("ivf_cell"))
    val histDup = cosineJoin(bAssigned, hAssigned, vecCol, idCol, "ivf_cell",
        threshold)
      .select(col("id_l").as(idCol)).distinct()
      .withColumn("__hist_dup", lit(true))
    val withH = bAssigned.join(histDup, Seq(idCol), "left")
      .withColumn("keep_vs_history", col("__hist_dup").isNull)
      .drop("__hist_dup")
    val pairs = cosinePairs(withH.where(col("keep_vs_history")), vecCol, idCol,
      "ivf_cell", threshold)
    val cc = graft.dedup.Dedup.connectedComponents(pairs)
    withH.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("keep", col("keep_vs_history") && col("component") === col(idCol))
  }
}
