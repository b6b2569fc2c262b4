package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{BatchView, Comparator}
import graft.time.TimeNorm
import graft.multimodal.BinaryOps
import OracleSql.toks

/** Query surface for the pipeline layers added in batch 4: JSON
  * extraction, date normalization, hash bucketing, the dataset
  * comparator, the day-partitioned batch-view writer (exercised
  * end-to-end through a temp dir), and the multimodal binary plumbing.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** One directory per JVM for q134's Z-ordered copies, deleted with
    * everything in it when the JVM exits: the copy must outlive the
    * build (the returned frame reads it lazily), not the process. */
  private lazy val zreadRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_zread")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  val queries: Map[String, Q] = Map[String, Q](
    // ───── F15: JSON path extraction + coercion on events.props —
    // try_cast, not cast: LENIENT coercion means a junk value nulls
    // (and drops out of sum/count), never an ANSI cast error killing
    // the query; the oracle mirrors with TRY_CAST ─────
    "q31_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").try_cast("long").as("k"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
        .orderBy(col("user_id"))
    }),

    // ───── F4/F5/F7: date normalization family ─────
    "q32_date_norm" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyyMMdd").as("day"),
          TimeNorm.epochMillisToDay((unix_timestamp(col("o_orderdate")) * 1000L)).as("day_from_millis"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"))
        .where(col("o_orderkey") <= 1000)
        .orderBy(col("o_orderkey"))
    }),

    // ───── F10: deterministic hash bucketing (md5-based, oracle-checkable) ─────
    "q33_hash_block" -> ((s, d) => {
      Tables.customer(s, d)
        .select(TimeNorm.md5Block(col("c_name"), 10).as("block"))
        .groupBy(col("block"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("block"))
    }),

    // ───── Comparator: full diff verdict as a 1-row report ─────
    "q34_comparator" -> ((s, d) => {
      val left = Tables.customer(s, d)
      val right = left.where(col("c_acctbal") > 0)
      Comparator.compareToDF(s, left, right)
    }),

    // ───── K1-K3: day-partitioned batch-view write → read-back (dynamic
    // partition overwrite, versioned path, partition pruning on read) ─────
    "q35_batchview" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_views"
      val withDay = Tables.orders(s, d)
        .withColumn("day", date_format(col("o_orderdate"), "yyyy"))
      BatchView.write(withDay, base, "orders_by_year", 1, Seq("day"))
      // partition-dir values are type-inferred on read (numeric here) —
      // cast back to the written string form
      BatchView.read(s, base, "orders_by_year", 1)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("day"))
    }),

    // ───── multimodal: binary payload + stub decode metadata plumbing ─────
    "q36_media_meta" -> ((s, d) => {
      val bin = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      BinaryOps.withMediaMeta(bin, "doc_id", "content")
        .select(col("doc_id"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"))
        .orderBy(col("doc_id"))
    }),

    // ───── multimodal: every-k frame sampling over decoded frame counts ─────
    "q38_frame_sample" -> ((s, d) => {
      val bin = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      BinaryOps.sampleFrames(BinaryOps.withMediaMeta(bin, "doc_id", "content"), everyK = 10)
        .groupBy(col("doc_id"))
        .agg(max(col("media_meta.n_frames")).as("n_frames"),
          count(lit(1)).as("n_sampled"))
        .orderBy(col("doc_id"))
    }),

    // ───── multimodal: batched feature extraction (md5-stub encoder,
    // replicated in the oracle SQL — same oracle-able-stub pattern as q36) ─────
    "q43_media_features" -> ((s, d) => {
      val bin = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      BinaryOps.extractFeatures(bin, "content", dim = 4)
        .select(col("doc_id"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          element_at(col("features"), 3).as("f2"),
          element_at(col("features"), 4).as("f3"))
        .orderBy(col("doc_id"))
    }),

    // ───── the Z-order layout end-to-end: cluster → parquet → filtered
    // read-back. The aggregate is layout-independent, so the oracle
    // proves the re-layout preserved content exactly; the layout's
    // pruning value is footer-verified in ZOrderSpec ─────
    "q134_zorder_readback" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory(zreadRoot, "q134").toString
      graft.ops.ZOrder.cluster(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
            col("l_quantity")),
          "l_orderkey", "l_partkey", numPartitions = 16)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .where(col("l_orderkey").between(100, 999) &&
          col("l_partkey").between(100, 499))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_orderkey") * col("l_partkey")).as("key_checksum"))
    }),

    // ───── Morton (Z-order) key: the two-dimensional data-skipping
    // layout key — pure bit arithmetic, exactly replayable ─────
    "q129_zorder_key" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          graft.ops.ZOrder.zorderKey(col("l_orderkey"), col("l_partkey"))
            .as("zkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ───── multimodal REAL-codec round-trip: synthesize a deterministic
    // 8×8 grayscale PNG per doc (synthRaster — lossless, so decode is
    // exact on any JVM), bilinear-resize it with the real Graphics2D
    // path, and header-decode the RESIZED bytes with the real
    // javax.imageio reader. Pixel values after bilinear interpolation
    // are implementation-shaded (raster-level checks live in ScalaTest);
    // the decoded container format/dims/frame-count are deterministic —
    // the oracle-able surface of the real resize→decode pipeline ─────
    "q148_media_real_roundtrip" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id"))
      BinaryOps.withImageMeta(
          BinaryOps.resizeImage(
            BinaryOps.synthRaster(ids, "doc_id", 8, 8), "content", 4, 4),
          "doc_id", "resized")
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // ───── multimodal REAL feature extraction, oracle-gated: the real
    // decode→luminance-grid→average-hash path over synthRaster's ramp
    // rasters. The ramp is built so the grid mean is 126 with every
    // cell value ≥ 4 away — ahash bits are ulp-robust and replay as
    // pure integer SQL (bit i set iff (4·((doc_id mod 7)+1) + 4i) mod
    // 256 ≥ 128) ─────
    "q149_image_ahash" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id"))
      BinaryOps.withImageFeatures(
          BinaryOps.synthRaster(ids, "doc_id", 8, 8), "content", grid = 8)
        .select(col("doc_id"), col("ahash"))
        .orderBy(col("doc_id"))
    }),

    // ───── link-graph centrality: fixed-point PageRank over the
    // order→part bipartite graph (the corpus-quality-weighting shape:
    // popular parts accrue rank from the orders referencing them) — 3
    // synchronous integer iterations, top-100 by rank then node. The
    // oracle unrolls the same three iterations; all-integer arithmetic
    // makes the replay bit-exact ─────
    "q152_pagerank" -> ((s, d) => {
      graft.ops.Graphs.pageRankFixed(
          Tables.lineitem(s, d).select(col("l_orderkey").as("src"),
            (col("l_partkey") + lit(1000000000L)).as("dst")),
          "src", "dst", iterations = 3)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(100)
    }),

    // ───── q152's WEIGHTED form: rank splits over out-edges
    // proportionally to l_quantity (interaction-strength centrality) —
    // same three unrolled integer iterations, contrib = (r·w) div
    // Σ out-weights ─────
    "q157_pagerank_weighted" -> ((s, d) => {
      graft.ops.Graphs.pageRankWeighted(
          Tables.lineitem(s, d).select(col("l_orderkey").as("src"),
            (col("l_partkey") + lit(1000000000L)).as("dst"),
            col("l_quantity").cast("long").as("w")),
          "src", "dst", "w", iterations = 3)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(100)
    }),

    // ───── PageRank over a STRING-keyed edge list — the operator's
    // primary documented use (host/URL centrality): node keys go
    // through the collision-checked xxhash64 dictionary
    // (Graphs.withNodeIds), ranks join back to keys through it. The
    // oracle runs the SAME unrolled integer iterations directly on the
    // string keys — the dictionary must be semantics-free, which is
    // exactly what this gate proves. Every-4th order keeps the gate at
    // a quarter of q152's edge volume (same code path) ─────
    "q158_pagerank_string_ids" -> ((s, d) => {
      val e = Tables.lineitem(s, d)
        .where(col("l_orderkey") % 4 === 0)
        .select(concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst"))
      val (mapped, dict) = graft.ops.Graphs.withNodeIds(e, "src", "dst")
      graft.ops.Graphs.pageRankFixed(mapped, "src", "dst", iterations = 3)
        .join(dict, col("node") === col("node_id"))
        .select(col("node_key"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("node_key"))
        .limit(100)
    }),

    // ───── PERSONALIZED PageRank: teleport mass returns only to the
    // urgent-order seed set, so ranks measure proximity to the seeds —
    // the trusted-whitelist quality-propagation shape. Bidirectional
    // order↔part edges (the bipartite graph walked both ways) so seed
    // mass actually circulates; same three unrolled integer
    // iterations, seed membership as a 0/1 factor on init and base ─────
    "q162_pagerank_personalized" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("o"),
          (col("l_partkey") + lit(1000000000L)).as("p"))
      val e = li.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(li.select(col("p").as("src"), col("o").as("dst")))
      val seeds = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("seed"))
      graft.ops.Graphs.pageRankPersonalized(e, "src", "dst",
          seeds, "seed", iterations = 3)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(100)
    }),

    // ───── triangle counting + clustering coefficient over the part
    // co-occurrence graph (parts sharing an order interlink — the
    // co-purchase community signal). The operator orients edges by
    // (degree, id) — compact-forward — so the oracle's simpler
    // id-ordered wedge join agreeing proves the orientation is a pure
    // execution strategy, not a semantics change ─────
    "q163_triangles" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.ops.Graphs.triangleCounts(e, "src", "dst")
        .orderBy(col("triangles").desc, col("node"))
        .limit(100)
    }),

    // ───── 3-core of the same co-occurrence graph: peel nodes with
    // fewer than 3 surviving co-purchase partners until fixpoint
    // (capped at 6 peels; the oracle unrolls the same 6 rounds, which
    // coincide with fixpoint whenever peeling converges earlier) ─────
    "q164_kcore" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.ops.Graphs.kCore(e, "src", "dst", k = 3, maxRounds = 6)
        .orderBy(col("node"))
    }),

    // ───── HITS over the DIRECTED order→part graph: orders that gather
    // popular parts become hubs, parts gathered by strong orders become
    // authorities — the mutually-recursive centrality PageRank can't
    // express; two integer iterations unrolled in the oracle ─────
    "q169_hits" -> ((s, d) => {
      val e = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("src"),
          (col("l_partkey") + lit(1000000000L)).as("dst"))
      graft.ops.Graphs.hits(e, "src", "dst", iterations = 2)
        .orderBy(col("auth_nano").desc, col("node"))
        .limit(100)
    }),

    // ───── deterministic label propagation: three synchronous rounds of
    // most-frequent-neighbor-label (ties to the smallest) over the part
    // co-occurrence graph — community detection at linear cost, the
    // oracle replays the argmax as row_number ─────
    "q170_label_propagation" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.ops.Graphs.labelPropagation(e, "src", "dst", rounds = 3)
        .orderBy(col("node"))
    }),

    // ───── deterministic random walks (the DeepWalk sampling stage):
    // three hash-chosen steps from every node of the co-occurrence
    // graph; the oracle replays each argmin step as row_number ─────
    "q171_random_walks" -> ((s, d) => {
      // every-4th order (the q158 quarter-volume precedent — same code
      // path, cheaper gate; residue 1 keeps it independent of q163/164)
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.ops.Graphs.randomWalks(e, "src", "dst", steps = 3)
        .orderBy(col("start"), col("step"))
    }),

    // ───── COMPOSITION gate: community exemplars = label propagation
    // (who clusters together) ∘ PageRank (who matters) over the same
    // deduped co-occurrence graph — per community: size, total rank
    // mass, and the top-ranked member (ties to the smaller id). Both
    // stages are independently gated (q170, q152); this pins their
    // JOIN composition, the report a curation pipeline actually ships ─────
    "q173_community_exemplars" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      // checkpoint: BOTH stages walk this edge list — build it once
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .distinct()
        .localCheckpoint(eager = true)
      val labels = graft.ops.Graphs.labelPropagation(e, "src", "dst",
        rounds = 3)
      val ranks = graft.ops.Graphs.pageRankFixed(e, "src", "dst",
        iterations = 3)
      labels.join(ranks, Seq("node"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("size"),
          sum(col("rank_micro")).as("mass_micro"),
          min_by(col("node"),
            struct((col("rank_micro") * lit(-1L)).as("nr"), col("node")))
            .as("exemplar"))
        .orderBy(col("size").desc, col("label"))
        .limit(100)
    }),

    // ───── multi-source shortest paths: hop distance from the %97
    // seed parts over the symmetrized co-occurrence graph, 3
    // relaxation rounds — the crawl-frontier "how far from the curated
    // seeds" shape; the oracle unrolls the same 3 min-relaxations ─────
    "q181_shortest_paths" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e0 = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val sources = li.where(col("p") % 97 === 0)
        .select(col("p").as("seed")).distinct()
      graft.ops.Graphs.shortestPaths(e, "src", "dst", sources, "seed",
          maxIter = 3)
        .orderBy(col("node"))
    }),

    // ───── WEIGHTED shortest paths: same seeds, but each co-occurrence
    // edge carries a deterministic integer toll — cheapest-cost tiering
    // where a longer hop path can beat a heavy direct edge ─────
    "q189_weighted_paths" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e0 = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 3L)
      val e = e0.union(e0.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      val sources = li.where(col("p") % 97 === 0)
        .select(col("p").as("seed")).distinct()
      graft.ops.Graphs.shortestPaths(e, "src", "dst", sources, "seed",
          maxIter = 3, weightCol = Some("w"))
        .orderBy(col("node"))
    }),

    // ───── link prediction: non-edge part pairs ranked by common
    // co-purchase neighbors (wedge-generated, hub cap 30) with the
    // integer-milli Jaccard — "which parts should co-occur next" ─────
    "q182_link_predict" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.ops.Graphs.linkPredict(e, "src", "dst", maxWedgeDegree = 30)
        .orderBy(col("cn").desc, col("node_a"), col("node_b"))
        .limit(300)
    }),

    // ───── capped co-occurrence projection: the co-purchase graph
    // builder with the hot-basket fan-out bound (each order contributes
    // only its 5 smallest part ids — deterministic, selected by the
    // bounded TopK aggregator, no window) ─────
    "q175_cooccurrence_project" -> ((s, d) =>
      graft.ops.Graphs.cooccurrenceProject(
          Tables.lineitem(s, d).select(col("l_orderkey").as("src"),
            col("l_partkey").as("dst")),
          "src", "dst", maxPerSrc = 5)
        .orderBy(col("weight").desc, col("node_a"), col("node_b"))
        .limit(500)),

    // ───── COMPOSITION gate: modularity of the 3-round LPA communities
    // over the q170 co-occurrence graph — per community, the exact
    // integer parts (4m·L_c − d_c², denominator 4m²) of Newman's Q.
    // The oracle chains q170's unrolled rounds into the formula ─────
    "q191_modularity" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = li.as("x").join(li.as("y"), col("x.o") === col("y.o") &&
          col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .localCheckpoint(eager = true) // both stages walk it
      val labels = graft.ops.Graphs.labelPropagation(e, "src", "dst",
        rounds = 3)
      graft.ops.Graphs.modularity(e, "src", "dst", labels, "node", "label")
        .orderBy(col("label"))
    }),

    // ───── strongly connected components over a deterministic directed
    // graph derived from the order keys (doubling map + two coupling
    // edge families — short cycles merged into multi-node SCCs, tree
    // tendrils for the trim phase). The oracle computes MUTUAL
    // REACHABILITY from the definition via a recursive CTE — the
    // algorithm (trim + forward-max coloring + backward sweep) must
    // reproduce the semantics exactly ─────
    "q192_scc" -> ((s, d) => {
      val v = Tables.orders(s, d)
        .select((col("o_orderkey") % 60).cast("long").as("v")).distinct()
      val e = v.select(col("v").as("src"), ((col("v") * 2 + 1) % 60).as("dst"))
        .union(v.where(col("v") % 3 === 0)
          .select(col("v").as("src"), ((col("v") + 37) % 60).as("dst")))
        .union(v.where(col("v") % 5 === 0)
          .select(col("v").as("src"), expr("v div 5").as("dst")))
      graft.ops.Graphs.scc(e, "src", "dst").orderBy(col("node"))
    }),

    // ───── zone-map pruned read: range-layout a copy of events, build
    // the per-file min/max manifest (ONE scan), then answer a value
    // range scan through manifest pruning — identical rows to the plain
    // filtered read of the ORIGINAL table, which is what the oracle
    // runs (the multi-file skip-count proof lives in PipelineSpec) ─────
    "q193_zonemap_read" -> ((s, d) => {
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_zonemap_gate").getAbsolutePath
      Tables.events(s, d).repartitionByRange(8, col("value"))
        .write.mode("overwrite").parquet(dir)
      val manifest = graft.sources.ZoneMaps.build(s, dir, Seq("value"))
        .localCheckpoint(eager = true)
      graft.sources.ZoneMaps.prunedRead(s, dir, manifest,
          "value", 100.0, 250.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("users"))
        .orderBy(col("event_type"))
    }),

    // ───── k-anonymity suppression after numeric generalization:
    // account balances floor to 2000-wide buckets (exact integer
    // arithmetic — truncate-toward-zero then floor-bucket, replayed
    // verbatim in SQL), quasi key = (nation, balance bucket), under-k
    // combinations suppressed ─────
    "q194_k_anonymize" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .withColumn("bal_b", col("c_acctbal").cast("long"))
      val g = graft.ops.Privacy.generalizeNum(cust, "bal_b", 2000L)
      graft.ops.Privacy.kAnonymize(g, Seq("c_nationkey", "bal_b"), k = 4)
        .select(col("c_custkey"), col("c_nationkey"), col("bal_b"))
        .orderBy(col("c_custkey"))
    }),

    // ───── the release-review report: per nation, row count and
    // distinct market segments with both k- and l-verdicts ─────
    "q195_anonymity_report" -> ((s, d) =>
      graft.ops.Privacy.anonymityReport(Tables.customer(s, d),
          Seq("c_nationkey"), "c_mktsegment", k = 50, l = 5)
        .withColumnRenamed("rows", "n_rows") // `rows` is reserved in DuckDB
        .orderBy(col("c_nationkey")))
  ) ++ graphBallQueries ++ Map[String, (SparkSession, String) => DataFrame](

    // ───── TextRank keyword extraction (Mihalcea & Tarau 2004):
    // adjacent-token co-occurrence MULTIGRAPH (window 2, both
    // directions — repeat co-occurrences keep their weight as parallel
    // edges) → the SAME string-keyed integer PageRank q158 gates
    // (withNodeIds dictionary + three unrolled iterations). Keyword
    // salience for document tagging, composed entirely from gated
    // operators; the oracle replays the pair construction and the
    // iterations directly on the token strings ─────
    "q202_textrank_keywords" -> ((s, d) => {
      // adjacent pairs via the compiled BigramArray kernel + spread
      // (r17): identical pair stream to the old interpreted
      // transform/slice HOF — tokens never contain whitespace, so the
      // single joining space splits each bigram back unambiguously
      val pairs = graft.text.TextOps.spreadByKey(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(explode(graft.functions.TextExpressions.bigramArray(
          graft.text.TextOps.tokens(col("text")))).as("g"))
        .select(substring_index(col("g"), " ", 1).as("a"),
          substring_index(col("g"), " ", -1).as("b"))
      val e = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      val (mapped, dict) = graft.ops.Graphs.withNodeIds(e, "src", "dst")
      graft.ops.Graphs.pageRankFixed(mapped, "src", "dst", iterations = 3)
        .join(dict, col("node") === col("node_id"))
        .select(col("node_key").as("token"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("token"))
        .limit(50)
    }),

    // ───── stress centrality from sampled sources over the q192
    // doubling-map digraph: the integer Brandes two-pass (forward
    // BFS path counts, backward DAG-path counts) — which junctions
    // carry the shortest-path load. maxDepth 3 is the deterministic
    // truncation cap the oracle replays level by level ─────
    "q204_stress_centrality" -> ((s, d) => {
      val g = ballGraph(s, d)
      val seeds = g.select(col("src").as("seed"))
        .where(col("seed") % 7 === 0).distinct()
      graft.ops.Graphs.stressCentrality(g, "src", "dst", seeds, "seed",
          maxDepth = 3)
        .orderBy(col("node"))
    }),

    // ───── IMAGE near-duplicate detection: the q149 real-codec ahash
    // (decode → luminance grid → 64-bit average hash) fed through the
    // SAME pigeonhole banding the text SimHash path gates (ahash IS a
    // 64-bit locality signature — one dedup engine, two modalities).
    // Sub-quadratic banded candidates, per-doc rollup; the oracle
    // brute-forces every pair with bit_count(xor) and replays the
    // closed-form ahash of the synthetic ramp ─────
    "q209_image_neardup" -> ((s, d) => {
      // every-5th doc: the synthetic ramp yields only 7 distinct
      // hashes, so the WHOLE corpus is one big duplicate class and the
      // candidate set is inherently quadratic per class — the gate
      // keeps that semantics at a fifth of the id volume (1/25 the
      // pairs), the honest bound for an all-duplicates fixture
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .where(col("doc_id") % 5 === 0)
      val sigs = BinaryOps.withImageFeatures(
          BinaryOps.synthRaster(ids, "doc_id", 8, 8), "content", grid = 8)
        .select(col("doc_id"), col("ahash"))
      val pairs = graft.dedup.Dedup.simhashPairsFromSigs(
        sigs, "doc_id", "ahash", maxDist = 6, tables = 8)
      pairs.select(col("id_a").as("doc_id"), col("id_b").as("p"))
        .unionByName(
          pairs.select(col("id_b").as("doc_id"), col("id_a").as("p")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_near"), min(col("p")).as("min_partner"))
        .orderBy(col("doc_id"))
    })
  )

  /** The q192 doubling-map digraph — shared by the SCC and
    * neighborhood/centrality gates (built once per caller). */
  private def ballGraph(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    val v = Tables.orders(s, d)
      .select((col("o_orderkey") % 60).cast("long").as("v")).distinct()
    v.select(col("v").as("src"), ((col("v") * 2 + 1) % 60).as("dst"))
      .union(v.where(col("v") % 3 === 0)
        .select(col("v").as("src"), ((col("v") + 37) % 60).as("dst")))
      .union(v.where(col("v") % 5 === 0)
        .select(col("v").as("src"), expr("v div 5").as("dst")))
  }

  // defs, not vals: `queries`/`oracles` above reference these during
  // object init — a later-declared val would still be null there
  private def graphBallQueries: Map[String, Q] = Map(
    // ───── exact neighborhood function on the q192 digraph: how many
    // nodes lie within ≤k hops, k=0..3 — the truth HyperBall
    // approximates; oracle unrolls the same pair-growth rounds ─────
    "q196_neighborhood_exact" -> ((s, d) =>
      graft.ops.Graphs.neighborhoodExact(ballGraph(s, d), "src", "dst",
          maxRadius = 3)
        .orderBy(col("node"), col("radius"))),

    // ───── HyperBall: the same neighborhood function by HLL ball
    // sketches — node-sized state instead of the transitive closure.
    // Rows-only (estimates); q196 is the exact anchor on the SAME
    // graph and GraphsSpec pins the estimate band ─────
    "q197_hyperball" -> ((s, d) =>
      graft.ops.Graphs.hyperBall(ballGraph(s, d), "src", "dst",
          maxRadius = 3)
        .orderBy(col("node"), col("radius"))),

    // ───── truncated harmonic centrality from the EXACT balls —
    // integer-milli Σ (N_k − N_{k−1})/k, fully SQL-replayable ─────
    "q198_harmonic" -> ((s, d) =>
      graft.ops.Graphs.harmonicFromBalls(
          graft.ops.Graphs.neighborhoodExact(ballGraph(s, d), "src", "dst",
            maxRadius = 3))
        .orderBy(col("node"))),

    // ───── effective diameter from the same exact ball table: the
    // smallest radius covering ≥60% of the radius-3 reachable pairs
    // (60‰·3 keeps the verdict radius strictly inside the truncation
    // at both SFs — a 900‰ cut of a radius-3 table would just echo 3) ─────
    "q199_eff_diameter" -> ((s, d) =>
      graft.ops.Graphs.effectiveDiameter(
        graft.ops.Graphs.neighborhoodExact(ballGraph(s, d), "src", "dst",
          maxRadius = 3), permille = 600L))
  )

  /** One 31-bit Morton spread step chain for column `c` → alias `o`,
    * as DuckDB SQL (mirrors ZOrder.spreadBits). */
  private def spreadSql(c: String): String = {
    val steps = Seq(
      (16, "281470681808895"), (8, "71777214294589695"),
      (4, "1085102592571150095"), (2, "3689348814741910323"),
      (1, "6148914691236517205"))
    steps.foldLeft(s"($c & 2147483647)") { case (acc, (sh, mask)) =>
      s"(($acc | ($acc << $sh)) & $mask)"
    }
  }

  /** Three label-propagation rounds over the symmetric adjacency
    * `adj(u, v)` from labels `l0(node, lbl)`: each node takes its
    * neighbours' most frequent label (count desc, then label — the
    * operator's deterministic argmax, as row_number); labels `l1`..`l3`. */
  private val lpaRoundsSql =
    (1 to 3).map { o =>
      s"""c$o AS MATERIALIZED (
            SELECT adj.u, l${o - 1}.lbl, count(*) AS c
            FROM adj JOIN l${o - 1} ON l${o - 1}.node = adj.v GROUP BY 1, 2),
          l$o AS MATERIALIZED (
            SELECT u AS node, lbl FROM (
              SELECT u, lbl, row_number() OVER (
                PARTITION BY u ORDER BY c DESC, lbl) AS rn FROM c$o)
            WHERE rn = 1)"""
    }.mkString(",\n          ")

  /** Three min-relaxation rounds from distances `d0(node, dist)` over
    * edges `e(src, dst, …)`, each hop costing `hop`: `d1`..`d3`
    * (duplicate edges are harmless under min, as in the operator). */
  private def relaxRoundsSql(hop: String): String =
    (1 to 3).map { o =>
      s"""d$o AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM d${o - 1}
              UNION ALL
              SELECT e.dst, d${o - 1}.dist + $hop FROM d${o - 1}
              JOIN e ON e.src = d${o - 1}.node) GROUP BY node)"""
    }.mkString(",\n          ")

  /** Exact balls of radius 0..3 over `ballGraphSql`'s nodes `n` and edges
    * `e`: `p_k(node, reached)` = p_{k-1} ∪ (p_{k-1} ⋈ e). */
  private val ballGrowthCtes =
    ("p0 AS (SELECT node, node AS reached FROM n)" +: (1 to 3).map { o =>
      s"""p$o AS MATERIALIZED (
            SELECT node, reached FROM p${o - 1}
            UNION
            SELECT p${o - 1}.node, e.dst FROM p${o - 1}
            JOIN e ON e.src = p${o - 1}.reached)"""
    }).mkString(",\n          ")

  /** Each node's rank split evenly over its out-edges (`od.outdeg`);
    * `r` is the previous iteration's rank column. */
  private val outdegShare = (r: String) => s"$r // od.outdeg"

  /** Three unrolled PageRank iterations `s1/r1 … s3/r3` (damping 0.85,
    * micro-unit integers; `//` == Spark's `div` on these non-negative
    * operands) over edge CTE `e(src, dst)`, nodes `nodes(node)`, CTE `od`
    * and initial ranks `r0`: step i sums `contrib(r<i-1>.r)` into each
    * destination and adds `teleport`, whose size column comes from the
    * one-row CTE `size`. */
  private def pageRankSteps(contrib: String => String, teleport: String,
      size: String): String =
    (1 to 3).map { o =>
      s"""s$o AS (
            SELECT e.dst, sum(${contrib(s"r${o - 1}.r")}) AS s
            FROM r${o - 1} JOIN od ON od.src = r${o - 1}.node
            JOIN e ON e.src = od.src GROUP BY e.dst),
          r$o AS (
            SELECT node,
              CAST($teleport
                + (850 * COALESCE(s, 0)) // 1000 AS BIGINT) AS r
            FROM nodes CROSS JOIN $size
            LEFT JOIN s$o ON s$o.dst = nodes.node)"""
    }.mkString(",\n          ")

  /** q152's PageRank mirror over edge CTE `e(src, dst)`: node set, node
    * count `nn`, per-source `outWeight` column in `od`, uniform `r0`,
    * then [[pageRankSteps]] with the uniform teleport (1 − d)/N. */
  private def pageRankCtes(outWeight: String = "CAST(count(*) AS BIGINT) AS outdeg",
      contrib: String => String = outdegShare): String =
    s"""nodes AS (
          SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
        nn AS (SELECT count(*) AS n FROM nodes),
        od AS (SELECT src, $outWeight
               FROM e GROUP BY 1),
        r0 AS (SELECT node, 1000000000000 // n AS r
               FROM nodes CROSS JOIN nn),
        ${pageRankSteps(contrib, "((1000 - 850) * 1000000000000) // 1000 // n", "nn")}"""

  val oracles: Map[String, String] = Map(
    "q134_zorder_readback" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(l_orderkey * l_partkey) AS BIGINT) AS key_checksum
         FROM lineitem
         WHERE l_orderkey BETWEEN 100 AND 999
           AND l_partkey BETWEEN 100 AND 499""",
    "q129_zorder_key" ->
      s"""SELECT l_orderkey, l_partkey, l_linenumber,
          (${spreadSql("l_orderkey")} | (${spreadSql("l_partkey")} << 1))
            AS zkey
          FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q31_json_extract" ->
      """SELECT user_id, CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q32_date_norm" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS day,
         strftime(o_orderdate, '%Y%m%d') AS day_from_millis,
         strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso
         FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""",
    "q33_hash_block" ->
      """SELECT CAST('0x' || substr(md5(c_name), 1, 8) AS BIGINT) % 10 AS block, COUNT(*) AS n
         FROM customer GROUP BY 1 ORDER BY block""",
    "q34_comparator" ->
      """SELECT (SELECT COUNT(*) FROM customer) AS left_count,
         (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0) AS right_count,
         '' AS cols_only_left, '' AS cols_only_right,
         '' AS nulls_left, '' AS nulls_right,
         (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM customer EXCEPT
            SELECT DISTINCT * FROM customer WHERE c_acctbal > 0)) AS rows_only_left,
         (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM customer WHERE c_acctbal > 0
            EXCEPT SELECT DISTINCT * FROM customer)) AS rows_only_right,
         ((SELECT COUNT(*) FROM customer) = (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
          AND (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM customer EXCEPT
               SELECT DISTINCT * FROM customer WHERE c_acctbal > 0)) = 0
          AND (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM customer WHERE c_acctbal > 0
               EXCEPT SELECT DISTINCT * FROM customer)) = 0) AS same""",
    "q35_batchview" ->
      """SELECT strftime(o_orderdate, '%Y') AS day, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1 ORDER BY day""",
    "q36_media_meta" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len,
         ['png','jpeg','webp'][CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 3 AS INT) + 1] AS format,
         CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 1920 AS INT) + 1 AS width
         FROM documents ORDER BY doc_id""",
    "q38_frame_sample" ->
      """SELECT doc_id,
         CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 240 AS INT) + 1 AS n_frames,
         CAST(CEIL((CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 240 AS INT) + 1) / 10.0) AS BIGINT) AS n_sampled
         FROM documents ORDER BY doc_id""",
    // the weighted iterations unrolled: contrib = (r·w) // Σ out-w
    "q157_pagerank_weighted" ->
      s"""WITH e AS (
            SELECT l_orderkey AS src, l_partkey + 1000000000 AS dst,
              CAST(l_quantity AS BIGINT) AS w
            FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 0),
          ${pageRankCtes("CAST(sum(w) AS BIGINT) AS outw",
            r => s"($r * e.w) // od.outw")}
          SELECT node, r AS rank_micro FROM r3
          ORDER BY rank_micro DESC, node LIMIT 100""",
    // the three iterations unrolled; `//` == Spark `div` on these
    // non-negative operands, long sums are order-free, so bit-exact
    "q152_pagerank" ->
      s"""WITH e AS (
            SELECT l_orderkey AS src, l_partkey + 1000000000 AS dst
            FROM lineitem),
          ${pageRankCtes()}
          SELECT node, r AS rank_micro FROM r3
          ORDER BY rank_micro DESC, node LIMIT 100""",
    "q148_media_real_roundtrip" ->
      """SELECT doc_id, 'png' AS format, 4 AS width, 4 AS height,
         1 AS n_frames FROM documents ORDER BY doc_id""",
    // q152's unrolled iterations on STRING node keys directly — no
    // dictionary in the oracle; agreement proves the Spark-side hash
    // dictionary is semantics-free
    "q158_pagerank_string_ids" ->
      s"""WITH e AS (
            SELECT concat('o', l_orderkey) AS src,
              concat('p', l_partkey) AS dst
            FROM lineitem WHERE l_orderkey % 4 = 0),
          ${pageRankCtes()}
          SELECT node AS node_key, r AS rank_micro FROM r3
          ORDER BY rank_micro DESC, node LIMIT 100""",
    // the personalized iterations unrolled: seed ∈ {0,1} scales init and
    // the teleport base; |S| counts only seeds present in the node set
    "q162_pagerank_personalized" ->
      s"""WITH li AS (
            SELECT l_orderkey AS o, l_partkey + 1000000000 AS p
            FROM lineitem WHERE l_orderkey % 4 = 0),
          e AS (SELECT o AS src, p AS dst FROM li
                UNION ALL SELECT p, o FROM li),
          nodes0 AS (
            SELECT DISTINCT src AS node FROM e
            UNION SELECT DISTINCT dst FROM e),
          sd AS (SELECT DISTINCT o_orderkey AS node FROM orders
                 WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 4 = 0),
          nodes AS (
            SELECT n.node,
              CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS seed
            FROM nodes0 n LEFT JOIN sd s ON s.node = n.node),
          ns AS (SELECT count(*) AS k FROM nodes WHERE seed = 1),
          od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                 FROM e GROUP BY 1),
          r0 AS (SELECT node, seed * (1000000000000 // k) AS r
                 FROM nodes CROSS JOIN ns),
          ${pageRankSteps(outdegShare,
            "seed * (((1000 - 850) * 1000000000000) // 1000 // k)", "ns")}
          SELECT node, r AS rank_micro FROM r3
          ORDER BY rank_micro DESC, node LIMIT 100""",
    // triangles by the plain id-ordered wedge join (a<b<c appears exactly
    // once) — agreement proves the operator's degree orientation is pure
    // execution strategy
    "q163_triangles" ->
      """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_orderkey % 3 = 0),
          e AS (SELECT DISTINCT x.p AS a, y.p AS b
                FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                  GROUP BY 1),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM e e1
                  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
          pernode AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
                      FROM (SELECT x AS node FROM tri
                            UNION ALL SELECT y FROM tri
                            UNION ALL SELECT z FROM tri) GROUP BY 1)
          SELECT d.node, d.degree,
            COALESCE(p.triangles, 0) AS triangles,
            CAST(CASE WHEN d.degree >= 2
              THEN (2 * COALESCE(p.triangles, 0) * 1000000)
                   // (d.degree * (d.degree - 1))
              ELSE 0 END AS BIGINT) AS cc_micro
          FROM deg d LEFT JOIN pernode p ON p.node = d.node
          ORDER BY triangles DESC, d.node LIMIT 100""",
    // six peeling rounds unrolled; rounds past fixpoint are identity, so
    // the cap and fixpoint coincide whenever peeling converges early
    "q164_kcore" -> {
      // MATERIALIZED: inlined, each round re-expands its predecessor
      // three times (3^6 scans of the base table — fd exhaustion)
      def peel(prev: String, out: String): String =
        s"""d$out AS MATERIALIZED (SELECT node FROM (
                SELECT a AS node FROM e$prev UNION ALL SELECT b FROM e$prev)
              GROUP BY node HAVING count(*) >= 3),
            e$out AS MATERIALIZED (SELECT a, b FROM e$prev
              WHERE a IN (SELECT node FROM d$out)
                AND b IN (SELECT node FROM d$out))"""
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 3 = 0),
          e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          ${peel("0", "1")},
          ${peel("1", "2")},
          ${peel("2", "3")},
          ${peel("3", "4")},
          ${peel("4", "5")},
          ${peel("5", "6")}
          SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6)
          GROUP BY node ORDER BY node"""
    },
    // three LPA rounds unrolled: the deterministic argmax (count desc,
    // label asc) replayed as row_number — bit-exact
    "q170_label_propagation" ->
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 3 = 0),
          e AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          adj AS MATERIALIZED (
            SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
          l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
          $lpaRoundsSql
          SELECT node, lbl AS label FROM l3 ORDER BY node""",
    // the id-ordered cap replayed as row_number (same selection the
    // bounded aggregator makes), then the within-src pair join
    "q175_cooccurrence_project" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS s, l_partkey AS i
                    FROM lineitem),
          cap AS (SELECT s, i FROM (
                    SELECT s, i, row_number() OVER (
                      PARTITION BY s ORDER BY i) AS rn FROM e)
                  WHERE rn <= 5),
          pairs AS (SELECT x.i AS node_a, y.i AS node_b
                    FROM cap x JOIN cap y ON x.s = y.s AND x.i < y.i)
          SELECT node_a, node_b, CAST(count(*) AS BIGINT) AS weight
          FROM pairs GROUP BY 1, 2
          ORDER BY weight DESC, node_a, node_b LIMIT 500""",
    // the 3 min-relaxation rounds unrolled (duplicate edges are
    // harmless under min, matching the operator)
    "q181_shortest_paths" ->
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 4 = 1),
          e0 AS (SELECT x.p AS src, y.p AS dst
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          e AS MATERIALIZED (
            SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
          d0 AS (SELECT DISTINCT p AS node, CAST(0 AS BIGINT) AS dist
                 FROM li WHERE p % 97 = 0),
          ${relaxRoundsSql("1")}
          SELECT node, dist FROM d3 ORDER BY node""",
    // the weighted relaxations unrolled — dist + per-edge toll
    "q189_weighted_paths" ->
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 4 = 1),
          e0 AS (SELECT x.p AS src, y.p AS dst,
                   1 + (x.p + y.p) % 3 AS w
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          e AS MATERIALIZED (
            SELECT src, dst, w FROM e0
            UNION ALL SELECT dst, src, w FROM e0),
          d0 AS (SELECT DISTINCT p AS node, CAST(0 AS BIGINT) AS dist
                 FROM li WHERE p % 97 = 0),
          ${relaxRoundsSql("e.w")}
          SELECT node, dist FROM d3 ORDER BY node""",
    // wedge generation under the same hub cap, anti-join against the
    // edge set, full degrees in the Jaccard — the operator replayed
    "q182_link_predict" ->
      """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_orderkey % 4 = 1),
          e0 AS (SELECT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          und AS MATERIALIZED (
            SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
            FROM e0 WHERE a <> b),
          deg AS MATERIALIZED (
            SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
              SELECT a AS node FROM und UNION ALL SELECT b FROM und)
            GROUP BY 1),
          adj AS (SELECT a AS u, b AS v FROM und
                  UNION ALL SELECT b, a FROM und),
          capped AS (SELECT adj.u, adj.v FROM adj
                     JOIN deg ON deg.node = adj.u WHERE deg.degree <= 30),
          pairs AS (SELECT x.v AS a, y.v AS b,
                      CAST(count(*) AS BIGINT) AS cn
                    FROM capped x JOIN capped y
                      ON x.u = y.u AND x.v < y.v GROUP BY 1, 2),
          np AS (SELECT p.* FROM pairs p
                 ANTI JOIN und ON und.a = p.a AND und.b = p.b)
          SELECT np.a AS node_a, np.b AS node_b, np.cn,
            da.degree AS deg_a, db.degree AS deg_b,
            (np.cn * 1000) // (da.degree + db.degree - np.cn)
              AS jaccard_milli
          FROM np JOIN deg da ON da.node = np.a
          JOIN deg db ON db.node = np.b
          ORDER BY cn DESC, node_a, node_b LIMIT 300""",
    // the LPA rounds (q170's chain) and PageRank iterations (q152's
    // chain) concatenated over the same deduped edge list, joined and
    // rolled up — the exemplar argmax replayed as row_number
    "q173_community_exemplars" -> {
      def prStep(p: String, o: String): String =
        s"""s$o AS (
              SELECT e0.dst, sum(r$p.r // od.outdeg) AS s
              FROM r$p JOIN od ON od.src = r$p.node
              JOIN e0 ON e0.src = od.src GROUP BY e0.dst),
            r$o AS MATERIALIZED (
              SELECT nodes.node,
                CAST(((1000 - 850) * 1000000000000) // 1000 // n
                  + (850 * COALESCE(s, 0)) // 1000 AS BIGINT) AS r
              FROM nodes CROSS JOIN nn
              LEFT JOIN s$o ON s$o.dst = nodes.node)"""
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 4 = 1),
          e0 AS MATERIALIZED (SELECT DISTINCT x.p AS src, y.p AS dst
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          adj AS MATERIALIZED (
            SELECT src AS u, dst AS v FROM e0
            UNION ALL SELECT dst, src FROM e0),
          l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
          $lpaRoundsSql,
          nodes AS (SELECT DISTINCT src AS node FROM e0
                    UNION SELECT DISTINCT dst FROM e0),
          nn AS (SELECT count(*) AS n FROM nodes),
          od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                 FROM e0 GROUP BY 1),
          r0 AS (SELECT node, 1000000000000 // n AS r
                 FROM nodes CROSS JOIN nn),
          ${prStep("0", "1")},
          ${prStep("1", "2")},
          ${prStep("2", "3")},
          j AS MATERIALIZED (
            SELECT l3.node, l3.lbl, r3.r
            FROM l3 JOIN r3 ON r3.node = l3.node),
          ex AS (SELECT lbl, node AS exemplar FROM (
                   SELECT lbl, node, row_number() OVER (
                     PARTITION BY lbl ORDER BY r DESC, node) AS rn FROM j)
                 WHERE rn = 1),
          ag AS (SELECT lbl, CAST(count(*) AS BIGINT) AS size,
                   CAST(sum(r) AS BIGINT) AS mass_micro
                 FROM j GROUP BY lbl)
          SELECT ag.lbl AS label, ag.size, ag.mass_micro, ex.exemplar
          FROM ag JOIN ex ON ex.lbl = ag.lbl
          ORDER BY ag.size DESC, label LIMIT 100"""
    },
    // three hash-greedy walk steps unrolled: each argmin replayed as
    // row_number over (md5 prefix, neighbor id) — bit-exact
    "q171_random_walks" -> {
      def step(p: String, o: String): String =
        s"""s$o AS (SELECT f$p.start, adj.v,
              substr(md5(CAST(f$p.node AS VARCHAR) || '_${o}_'
                || CAST(adj.v AS VARCHAR)), 1, 8) AS h
            FROM f$p JOIN adj ON adj.u = f$p.node),
            f$o AS MATERIALIZED (
              SELECT start, v AS node FROM (
                SELECT start, v, row_number() OVER (
                  PARTITION BY start ORDER BY h, v) AS rn FROM s$o)
              WHERE rn = 1)"""
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 4 = 1),
          e AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          adj AS MATERIALIZED (
            SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
          f0 AS (SELECT DISTINCT u AS start, u AS node FROM adj),
          ${step("0", "1")},
          ${step("1", "2")},
          ${step("2", "3")}
          SELECT start, 0 AS step, node FROM f0
          UNION ALL SELECT start, 1, node FROM f1
          UNION ALL SELECT start, 2, node FROM f2
          UNION ALL SELECT start, 3, node FROM f3
          ORDER BY start, step"""
    },
    // the two HITS iterations unrolled: L1-normalized integer
    // hub/authority mass, floor divs throughout — bit-exact
    "q169_hits" -> {
      def iter(p: String, o: String): String =
        s"""ar$o AS (SELECT li.dst AS node, sum(h$p.h) AS v
              FROM li JOIN h$p ON h$p.node = li.src GROUP BY li.dst),
            as$o AS (SELECT sum(v) AS s FROM ar$o),
            a$o AS (SELECT n.node,
                CAST(COALESCE((ar$o.v * 1000000000) // s, 0) AS BIGINT) AS a
              FROM nodes n CROSS JOIN as$o
              LEFT JOIN ar$o ON ar$o.node = n.node),
            hr$o AS (SELECT li.src AS node, sum(a$o.a) AS v
              FROM li JOIN a$o ON a$o.node = li.dst GROUP BY li.src),
            hs$o AS (SELECT sum(v) AS s FROM hr$o),
            h$o AS (SELECT n.node,
                CAST(COALESCE((hr$o.v * 1000000000) // s, 0) AS BIGINT) AS h
              FROM nodes n CROSS JOIN hs$o
              LEFT JOIN hr$o ON hr$o.node = n.node)"""
      s"""WITH li AS (
            SELECT DISTINCT l_orderkey AS src, l_partkey + 1000000000 AS dst
            FROM lineitem WHERE l_orderkey % 3 = 0),
          nodes AS (SELECT src AS node FROM li UNION SELECT dst FROM li),
          nc AS (SELECT count(*) AS n FROM nodes),
          h0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS h
                 FROM nodes CROSS JOIN nc),
          ${iter("0", "1")},
          ${iter("1", "2")}
          SELECT n.node, h2.h AS hub_nano, a2.a AS auth_nano
          FROM nodes n
          JOIN h2 ON h2.node = n.node
          JOIN a2 ON a2.node = n.node
          ORDER BY auth_nano DESC, n.node LIMIT 100"""
    },
    "q149_image_ahash" ->
      """SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 64),
           i -> CASE WHEN (4 * ((doc_id % 7) + 1) + 4 * i) % 256 >= 128
                THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
           AS BIGINT) AS ahash
         FROM documents ORDER BY doc_id""",
    "q43_media_features" ->
      """SELECT doc_id,
         CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) / 4294967296.0 AS FLOAT) AS f0,
         CAST(CAST('0x' || substr(md5(text), 9, 8) AS BIGINT) / 4294967296.0 AS FLOAT) AS f1,
         CAST(CAST('0x' || substr(md5(text), 17, 8) AS BIGINT) / 4294967296.0 AS FLOAT) AS f2,
         CAST(CAST('0x' || substr(md5(text), 25, 8) AS BIGINT) / 4294967296.0 AS FLOAT) AS f3
         FROM documents ORDER BY doc_id""",
    // q170's unrolled LPA rounds chained into Newman's Q: per label,
    // intra-edge count and degree sum over the DISTINCT undirected edge
    // set, exact integer numerator parts 4m·L_c − d_c²
    "q191_modularity" ->
      s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 3 = 0),
          e AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                 FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          adj AS MATERIALIZED (
            SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
          l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
          $lpaRoundsSql,
          m AS (SELECT count(*) AS m FROM e),
          intra AS (SELECT la.lbl AS label, count(*) AS intra_edges
                    FROM e JOIN l3 la ON la.node = e.a
                           JOIN l3 lb ON lb.node = e.b
                    WHERE la.lbl = lb.lbl GROUP BY 1),
          degs AS (SELECT l3.lbl AS label, count(*) AS degree_sum,
                          count(DISTINCT adj.u) AS size
                   FROM adj JOIN l3 ON l3.node = adj.u GROUP BY 1)
          SELECT d.label, CAST(d.size AS BIGINT) AS size,
                 CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
                 CAST(d.degree_sum AS BIGINT) AS degree_sum,
                 CAST(4 * m.m * coalesce(i.intra_edges, 0)
                      - d.degree_sum * d.degree_sum AS BIGINT) AS q_num_part
          FROM degs d LEFT JOIN intra i ON i.label = d.label CROSS JOIN m
          ORDER BY d.label""",
    // SCC from the DEFINITION: recursive-CTE reachability, then
    // scc_id(v) = max over {v} ∪ {u : v→*u ∧ u→*v} — the operator's
    // trim/color/sweep pipeline must land on exactly this
    "q192_scc" ->
      """WITH RECURSIVE
          v AS (SELECT DISTINCT CAST(o_orderkey % 60 AS BIGINT) AS v
                FROM orders),
          e0 AS (SELECT v AS src, (v * 2 + 1) % 60 AS dst FROM v
                 UNION ALL
                 SELECT v, (v + 37) % 60 FROM v WHERE v % 3 = 0
                 UNION ALL
                 SELECT v, v // 5 FROM v WHERE v % 5 = 0),
          n AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
          e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
          r(a, b) AS (SELECT src, dst FROM e
                      UNION
                      SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b),
          mutual AS (SELECT r1.a AS node, r1.b AS other
                     FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a)
          SELECT n.node,
                 CAST(greatest(n.node, coalesce(max(m.other), n.node))
                   AS BIGINT) AS scc_id
          FROM n LEFT JOIN mutual m ON m.node = n.node
          GROUP BY n.node ORDER BY n.node""",
    // the pruned read is provably the plain filtered read — the oracle
    // filters the ORIGINAL table directly
    "q193_zonemap_read" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS users
         FROM events WHERE value >= 100.0 AND value <= 250.0
         GROUP BY event_type ORDER BY event_type""",
    // truncate-toward-zero then floor-bucket (v − ((v % w + w) % w)),
    // keep combinations with ≥ k rows
    "q194_k_anonymize" ->
      """WITH g AS (SELECT c_custkey, c_nationkey,
                 CAST(trunc(c_acctbal) AS BIGINT)
                   - ((CAST(trunc(c_acctbal) AS BIGINT) % 2000 + 2000)
                      % 2000) AS bal_b
               FROM customer),
          ok AS (SELECT c_nationkey, bal_b FROM g
                 GROUP BY 1, 2 HAVING count(*) >= 4)
          SELECT g.c_custkey, g.c_nationkey, g.bal_b
          FROM g JOIN ok USING (c_nationkey, bal_b)
          ORDER BY g.c_custkey""",
    "q195_anonymity_report" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT c_mktsegment) AS BIGINT)
                  AS sensitive_distinct,
                count(*) >= 50 AS k_ok,
                count(DISTINCT c_mktsegment) >= 5 AS l_ok
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    // the pair-growth rounds unrolled: p_k = p_{k-1} ∪ (p_{k-1} ⋈ e),
    // reach = per-node pair count at each radius
    "q196_neighborhood_exact" ->
      s"""WITH $ballGraphSql,
          $ballGrowthCtes
          SELECT node, radius, reach FROM (
            SELECT node, 0 AS radius, CAST(1 AS BIGINT) AS reach FROM n
            UNION ALL SELECT node, 1, count(*) FROM p1 GROUP BY node
            UNION ALL SELECT node, 2, count(*) FROM p2 GROUP BY node
            UNION ALL SELECT node, 3, count(*) FROM p3 GROUP BY node)
          ORDER BY node, radius""",
    // harmonic_milli = Σ_k (N_k − N_{k−1})·1000 // k over the same
    // unrolled exact balls
    "q198_harmonic" ->
      s"""WITH $ballGraphSql,
          $ballGrowthCtes,
          c AS (SELECT node, 0 AS radius, CAST(1 AS BIGINT) AS reach FROM n
                UNION ALL SELECT node, 1, count(*) FROM p1 GROUP BY node
                UNION ALL SELECT node, 2, count(*) FROM p2 GROUP BY node
                UNION ALL SELECT node, 3, count(*) FROM p3 GROUP BY node),
          lagd AS (SELECT node, radius, reach,
                     lag(reach) OVER (PARTITION BY node ORDER BY radius)
                       AS prev
                   FROM c)
          SELECT node,
                 CAST(sum(((reach - prev) * 1000) // radius) AS BIGINT)
                   AS harmonic_milli
          FROM lagd WHERE radius >= 1 GROUP BY node ORDER BY node""",
    // per-radius covered pairs are just |p_k|; smallest radius with
    // covered·1000 ≥ permille·total(= covered at max radius)
    "q199_eff_diameter" ->
      s"""WITH $ballGraphSql,
          $ballGrowthCtes,
          per AS (SELECT 0 AS radius, count(*) AS covered FROM p0
                  UNION ALL SELECT 1, count(*) FROM p1
                  UNION ALL SELECT 2, count(*) FROM p2
                  UNION ALL SELECT 3, count(*) FROM p3),
          t AS (SELECT covered AS total FROM per
                ORDER BY radius DESC LIMIT 1)
          SELECT CAST(min(per.radius) AS INT) AS eff_diameter,
                 CAST(arg_min(per.covered, per.radius) AS BIGINT)
                   AS covered_pairs,
                 CAST(min(t.total) AS BIGINT) AS total_pairs
          FROM per, t WHERE per.covered * 1000 >= 600 * t.total""",
    // the q158 unrolled iterations over the adjacent-token multigraph,
    // directly on token strings — agreement proves both the pair
    // construction and (again) that the hash dictionary is
    // semantics-free
    "q202_textrank_keywords" ->
      s"""WITH tk AS (
            SELECT $toks AS ts
            FROM documents),
          ad AS (
            SELECT unnest(list_transform(range(1, len(ts)),
              i -> {'a': ts[i], 'b': ts[i + 1]})) AS p
            FROM tk WHERE len(ts) >= 2),
          e0 AS (SELECT p['a'] AS src, p['b'] AS dst FROM ad),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0),
          ${pageRankCtes()}
          SELECT node AS token, r AS rank_micro FROM r3
          ORDER BY rank_micro DESC, node LIMIT 50""",
    // the Brandes two-pass unrolled: three forward BFS levels with path
    // counts (anti-joins keep first-reached levels), the shortest-path
    // DAG, then backward DAG-path counts p2→p1→p0; stress = Σ σ·p over
    // interior rows. MATERIALIZED where a CTE is referenced repeatedly
    // (DuckDB inlines by default — the q164 fd-exhaustion lesson)
    "q204_stress_centrality" -> {
      s"""WITH ${ballGraphSql},
          sd AS (SELECT DISTINCT src AS s FROM e0 WHERE src % 7 = 0),
          d0 AS MATERIALIZED (
            SELECT s, s AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma
            FROM sd),
          x1 AS MATERIALIZED (
            SELECT d0.s, e.dst AS v, CAST(sum(d0.sigma) AS BIGINT) AS sigma
            FROM d0 JOIN e ON e.src = d0.v GROUP BY 1, 2),
          d1 AS MATERIALIZED (
            SELECT x1.s, x1.v, 1 AS dist, x1.sigma
            FROM x1 ANTI JOIN d0 ON d0.s = x1.s AND d0.v = x1.v),
          x2 AS MATERIALIZED (
            SELECT d1.s, e.dst AS v, CAST(sum(d1.sigma) AS BIGINT) AS sigma
            FROM d1 JOIN e ON e.src = d1.v GROUP BY 1, 2),
          s01 AS MATERIALIZED (
            SELECT s, v FROM d0 UNION ALL SELECT s, v FROM d1),
          d2 AS MATERIALIZED (
            SELECT x2.s, x2.v, 2 AS dist, x2.sigma
            FROM x2 ANTI JOIN s01 ON s01.s = x2.s AND s01.v = x2.v),
          x3 AS MATERIALIZED (
            SELECT d2.s, e.dst AS v, CAST(sum(d2.sigma) AS BIGINT) AS sigma
            FROM d2 JOIN e ON e.src = d2.v GROUP BY 1, 2),
          s012 AS MATERIALIZED (
            SELECT s, v FROM s01 UNION ALL SELECT s, v FROM d2),
          d3 AS MATERIALIZED (
            SELECT x3.s, x3.v, 3 AS dist, x3.sigma
            FROM x3 ANTI JOIN s012 ON s012.s = x3.s AND s012.v = x3.v),
          alld AS MATERIALIZED (
            SELECT * FROM d0 UNION ALL SELECT * FROM d1
            UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3),
          dage AS MATERIALIZED (
            SELECT a.s, a.v, b.v AS w, a.dist
            FROM alld a JOIN e ON e.src = a.v
            JOIN alld b ON b.s = a.s AND b.v = e.dst
              AND b.dist = a.dist + 1),
          p2 AS MATERIALIZED (
            SELECT s, v, CAST(count(*) AS BIGINT) AS p
            FROM dage WHERE dist = 2 GROUP BY 1, 2),
          p1 AS MATERIALIZED (
            SELECT g.s, g.v,
              CAST(sum(1 + COALESCE(p2.p, 0)) AS BIGINT) AS p
            FROM dage g LEFT JOIN p2 ON p2.s = g.s AND p2.v = g.w
            WHERE g.dist = 1 GROUP BY 1, 2),
          p0 AS MATERIALIZED (
            SELECT g.s, g.v,
              CAST(sum(1 + COALESCE(p1.p, 0)) AS BIGINT) AS p
            FROM dage g LEFT JOIN p1 ON p1.s = g.s AND p1.v = g.w
            WHERE g.dist = 0 GROUP BY 1, 2),
          pp AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1
                 UNION ALL SELECT * FROM p2)
          SELECT a.v AS node, CAST(sum(a.sigma * pp.p) AS BIGINT) AS stress
          FROM alld a JOIN pp ON pp.s = a.s AND pp.v = a.v
          WHERE a.v <> a.s GROUP BY 1 ORDER BY node"""
    },
    // q149's closed-form ahash + brute-force hamming pairs — agreement
    // proves the banded candidate generation finds EVERY pair
    "q209_image_neardup" ->
      """WITH h AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 64),
               i -> CASE WHEN (4 * ((doc_id % 7) + 1) + 4 * i) % 256 >= 128
                    THEN (CAST(1 AS BIGINT) << i)
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ahash
           FROM documents WHERE doc_id % 5 = 0),
         p AS (SELECT a.doc_id AS x, b.doc_id AS y
               FROM h a JOIN h b ON a.doc_id < b.doc_id
                 AND bit_count(xor(a.ahash, b.ahash)) <= 6),
         sym AS (SELECT x AS doc_id, y AS p FROM p
                 UNION ALL SELECT y, x FROM p)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near,
           CAST(min(p) AS BIGINT) AS min_partner
         FROM sym GROUP BY 1 ORDER BY doc_id"""
  )

  /** Shared SQL for the q192/q196/q198 doubling-map digraph: CTEs
    * `v`, `e0`, `n` (all endpoint nodes), `e` (distinct, no loops). */
  private def ballGraphSql: String =
    """v AS (SELECT DISTINCT CAST(o_orderkey % 60 AS BIGINT) AS v
            FROM orders),
       e0 AS (SELECT v AS src, (v * 2 + 1) % 60 AS dst FROM v
              UNION ALL
              SELECT v, (v + 37) % 60 FROM v WHERE v % 3 = 0
              UNION ALL
              SELECT v, v // 5 FROM v WHERE v % 5 = 0),
       n AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0
                          WHERE src <> dst)"""
}
