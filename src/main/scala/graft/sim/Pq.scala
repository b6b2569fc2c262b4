package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-side half of large-scale ANN
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; the faiss `IndexPQ`/`IndexIVFPQ` recipe).
  *
  * The vector is split into `m` subspaces of `dsub = dim/m` coefficients;
  * each subspace gets its own k-means codebook of `k` centroids, and a
  * vector is stored as its `m` nearest-centroid code ids — `m log₂k` bits
  * instead of `32·dim`. At dim=64 / m=8 / k=16 that is 4 bytes per vector
  * vs 256: a 100 TB embedding corpus becomes a ~1.6 TB code table that
  * fits hot storage, and query-time scoring never touches the raw vectors.
  *
  * Spark-first shape (mirrors [[Ivf]]):
  *  - codebooks train DRIVER-SIDE over a deterministic hash-ordered sample
  *    (per-subspace k-means over ≤ a few thousand dsub-dim points is
  *    microseconds; the corpus is never iterated);
  *  - ENCODING is the one distributed pass: a single codegen projection
  *    ([[graft.functions.PqEncode]] — the codebook tensor rides as one
  *    referenced double[], never literal leaves). One scan, no shuffle;
  *  - query-time scoring is ASYMMETRIC (ADC): the query stays exact, the
  *    corpus side is its reconstruction. The driver builds the m×k lookup
  *    table of `q̂_sub · centroid` inner products, and scoring an encoded
  *    row is `m` array reads inside whole-stage codegen
  *    ([[graft.functions.PqAdcScore]]) — no per-row dot product at all;
  *  - the honest accuracy contract: the ADC score EQUALS the exact inner
  *    product of the normalized query with the decoded vector (asserted in
  *    ScalaTest); ranking quality then depends only on quantization error,
  *    which the shortlist+rerank form ([[topKRefined]]) repairs by exact
  *    re-scoring of a small candidate set — the standard production
  *    topology (codes are scanned; full vectors are fetched for ~4·k ids).
  *
  * Vectors are L2-normalized before training/encoding by default, so
  * ADC inner products approximate COSINE — the metric every other
  * graft.sim operator ranks by. */
object Pq {

  /** Trained codebooks: `books` is the flattened (m × k × dsub) tensor,
    * subspace-major (fully serializable — ship it, store it, rebuild
    * encode/score plans anywhere; [[save]]/[[load]] persist it as a
    * one-row parquet beside the code table). */
  final case class PqModel(dim: Int, m: Int, k: Int, books: Array[Double],
                           normalized: Boolean) {
    def dsub: Int = dim / m
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(books.length == m * k * dsub,
      s"codebook tensor has ${books.length} coefficients, want ${m * k * dsub}")
  }

  /** Persist a model as a one-row parquet (schema: dim, m, k, books,
    * normalized) — the durable artifact a daily encode job loads. */
  def save(model: PqModel, path: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    Seq((model.dim, model.m, model.k, model.books.toSeq, model.normalized))
      .toDF("dim", "m", "k", "books", "normalized")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[save]]d model. */
  def load(path: String, spark: org.apache.spark.sql.SparkSession): PqModel = {
    val r = spark.read.parquet(path).head()
    PqModel(r.getAs[Int]("dim"), r.getAs[Int]("m"), r.getAs[Int]("k"),
      r.getAs[Seq[Double]]("books").toArray, r.getAs[Boolean]("normalized"))
  }

  private def kmeans(pts: Array[Array[Double]], k: Int, seed: Long,
                     maxIter: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    val kk = math.min(k, pts.length)
    val rnd = new scala.util.Random(seed)
    // k-means++ seeding, Lloyd's refinement — same recipe as Ivf.train
    val cents = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(pts.length)))
    while (cents.length < kk) {
      val d2 = pts.map { p =>
        var d = Double.MaxValue
        cents.foreach { c =>
          var s = 0.0; var i = 0
          while (i < dim) { val t = p(i) - c(i); s += t * t; i += 1 }
          d = math.min(d, s)
        }
        d
      }
      val total = d2.sum
      if (total == 0) cents += pts(rnd.nextInt(pts.length))
      else {
        var r = rnd.nextDouble() * total; var i = 0
        while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        cents += pts(i)
      }
    }
    var centroids = cents.toArray
    def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < centroids.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = p(i) - centroids(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      pts.foreach { p =>
        val c = nearest(p)
        var i = 0; while (i < dim) { sums(c)(i) += p(i); i += 1 }
        counts(c) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    // pad degenerate codebooks (fewer distinct points than k) by repeating
    // the first centroid — harmless: a never-nearest duplicate code
    if (centroids.length < k)
      centroids ++ Array.fill(k - centroids.length)(centroids.head.clone())
    else centroids
  }

  /** Train per-subspace codebooks on a 4096-row hash-ordered sample
    * (seed 42, 20 Lloyd iterations — deterministic for a given dataset).
    * `dim` must divide by `m`. */
  def train(embeddings: DataFrame, vecCol: String, idCol: String, dim: Int,
            m: Int = 8, k: Int = 16): PqModel = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val raw = embeddings
      .orderBy(xxhash64(col(idCol), lit(42L)), col(idCol))
      .limit(4096)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(raw.nonEmpty, "cannot train PQ on an empty dataset")
    val pts = raw.map { p0 =>
      val p = if (p0.length >= dim) p0 else p0 ++ new Array[Double](dim - p0.length)
      var acc = 0.0; var i = 0
      while (i < dim) { acc += p(i) * p(i); i += 1 }
      val inv = if (acc > 0) 1.0 / math.sqrt(acc) else 1.0
      p.map(_ * inv)
    }
    val books = new Array[Double](m * k * dsub)
    var s = 0
    while (s < m) {
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, s * dsub, (s + 1) * dsub))
      val cents = kmeans(sub, k, 42L + s, 20)
      var c = 0
      while (c < k) {
        System.arraycopy(cents(c), 0, books, (s * k + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    PqModel(dim, m, k, books, normalized = true)
  }

  /** PQ code column (`array<int>`, one codegen pass). */
  def codesColumn(vec: Column, model: PqModel): Column =
    graft.functions.VectorExpressions.pqEncode(
      vec, model.books.toSeq, model.m, model.k, model.normalized)

  /** One-pass distributed encoding: input + `pq_codes` column. The encoded
    * frame (id + codes, 4–16 bytes/row) is what persists at scale — the
    * raw vectors are only ever re-read by [[topKRefined]]'s rerank. */
  def encode(embeddings: DataFrame, vecCol: String, model: PqModel): DataFrame =
    embeddings.withColumn("pq_codes", codesColumn(col(vecCol), model))

  /** Train + encode in one call. */
  def build(embeddings: DataFrame, vecCol: String, idCol: String, dim: Int,
            m: Int = 8, k: Int = 16): (PqModel, DataFrame) = {
    val model = train(embeddings, vecCol, idCol, dim, m, k)
    (model, encode(embeddings, vecCol, model))
  }

  /** Query-specific ADC lookup table: `table[s*k+c] = q̂_sub(s) · book(s,c)`
    * — driver-side over m×k×dsub multiplies (microseconds). */
  def adcTable(query: Seq[Float], model: PqModel): Array[Double] = {
    val dim = model.dim
    val q0 = query.map(_.toDouble).toArray
    val q = if (q0.length >= dim) q0 else q0 ++ new Array[Double](dim - q0.length)
    val qn = if (!model.normalized) q
    else {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += q(i) * q(i); i += 1 }
      val inv = if (acc > 0) 1.0 / math.sqrt(acc) else 1.0
      q.map(_ * inv)
    }
    val table = new Array[Double](model.m * model.k)
    var s = 0
    while (s < model.m) {
      var c = 0
      while (c < model.k) {
        val base = (s * model.k + c) * model.dsub
        var acc = 0.0; var i = 0
        while (i < model.dsub) { acc += model.books(base + i) * qn(s * model.dsub + i); i += 1 }
        table(s * model.k + c) = acc
        c += 1
      }
      s += 1
    }
    table
  }

  /** ADC score column for `query` over a `pq_codes` column: the exact
    * inner product of the normalized query with the DECODED vector. */
  def adcScore(codes: Column, query: Seq[Float], model: PqModel): Column =
    graft.functions.VectorExpressions.pqAdcScore(
      codes, adcTable(query, model).toSeq, model.k)

  /** ANN top-k over codes only — never touches the raw vectors. Scores are
    * approximate (quantized corpus side); use [[topKRefined]] when exact
    * ranking matters. */
  def topK(encoded: DataFrame, model: PqModel, idCol: String,
           query: Seq[Float], k: Int): DataFrame =
    encoded
      .select(col(idCol), adcScore(col("pq_codes"), query, model).as("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(k)

  /** Shortlist-then-rerank: ADC selects `shortlist` candidates from the
    * code table, then ONLY those ids fetch their raw vectors for exact
    * cosine — the production topology (full vectors behind a
    * broadcast-able id set, scanned table is the 4-byte/row code table).
    * With `shortlist >= |corpus|` the shortlist is structurally exhaustive
    * and the result EQUALS exact brute-force top-k — the derived-oracle
    * anchor for the whole encode→ADC→rerank path. */
  def topKRefined(encoded: DataFrame, model: PqModel, vecCol: String,
                  idCol: String, query: Seq[Float], k: Int, shortlist: Int): DataFrame =
    topKRefinedSplit(encoded, encoded, model, vecCol, idCol, query, k,
      shortlist)

  /** [[topKRefined]] with the code table and the raw-vector store as
    * SEPARATE frames — the persisted production layout: `codes` is the
    * slim (id, codes[, cell]) index read back from parquet, `vectors` the
    * full-width embedding table fetched only for the broadcast shortlist
    * ids. This is the form that actually realizes the "scan low-TB codes,
    * touch the 100 TB vectors for ~4·k rows" topology. */
  def topKRefinedSplit(codes: DataFrame, vectors: DataFrame, model: PqModel,
                       vecCol: String, idCol: String, query: Seq[Float],
                       k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cand = topK(codes, model, idCol, query, shortlist)
      .select(col(idCol))
    val q = array(query.map(lit): _*)
    vectors.join(broadcast(cand), idCol)
      .select(col(idCol), Similarity.cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF+PQ: ADC scoring restricted to the probed cells of `ivfModel` —
    * `assignedEncoded` carries both `ivf_cell` (from [[Ivf.assign]]) and
    * `pq_codes` (from [[encode]]); persisted partitioned by cell, the
    * probe prunes partitions AND reads only 4-byte codes: the faiss
    * IndexIVFPQ topology on parquet. */
  def topKCells(assignedEncoded: DataFrame, ivfModel: Ivf.IvfModel,
                model: PqModel, idCol: String, query: Seq[Float], k: Int,
                nProbe: Int = 4): DataFrame = {
    val cells = Ivf.probeCells(ivfModel, query, nProbe)
    topK(assignedEncoded.where(col("ivf_cell").isin(cells: _*)),
      model, idCol, query, k)
  }
}
