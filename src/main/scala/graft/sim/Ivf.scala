package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: k-means partitions the
  * corpus into `nCells` Voronoi cells; a query searches only the `nProbe`
  * cells whose centroids are nearest. The standard scale path when
  * hyperplane LSH recall plateaus (cells adapt to the data distribution;
  * random hyperplanes don't).
  *
  * Spark-first shape (the faiss training recipe, distributed):
  *  - centroids train DRIVER-SIDE over a deterministic hash-ordered sample
  *    (k-means needs ~10²–10³ points per cell, never the corpus — sampling
  *    is how IVF indexes are built at any scale). Lloyd's over ≤ a few
  *    thousand small vectors is microseconds per iteration; running it on
  *    the cluster would pay 2 Spark jobs of scheduling latency PER
  *    ITERATION to move kilobytes;
  *  - cell ASSIGNMENT is the distributed pass: one codegen projection —
  *    argmax over per-cell `x·c − |c|²/2` scores (the monotone form of
  *    nearest-euclidean-centroid), each score a native FloatVectorDot
  *    against a literal centroid. One scan, no shuffle, no iteration;
  *  - the assigned frame is meant to be PERSISTED PARTITIONED BY CELL
  *    (`.write.partitionBy("ivf_cell")`): probing then becomes partition
  *    pruning — a 100-cell index with nProbe=4 reads 4% of a 100 TB corpus
  *    from the scan on down, no custom source needed;
  *  - query-time centroid ranking is driver-side over nCells small vectors
  *    (the same economics as [[Similarity.probeSignatures]]).
  */
object Ivf {

  /** Trained cell partitioner: just the centroids (fully serializable —
    * ship it, store it, rebuild probe plans anywhere; [[save]]/[[load]]
    * persist it as parquet beside the cell-partitioned table). */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nCells: Int = centroids.length
  }

  /** Persist a model as parquet (one row per cell: cell, centroid). */
  def save(model: IvfModel, path: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[save]]d model (cells re-ordered by id — the ids encoded in
    * any persisted `ivf_cell` column stay valid). */
  def load(path: String, spark: org.apache.spark.sql.SparkSession): IvfModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("cell"), col("centroid")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
    IvfModel(rows.map(_._2.toArray))
  }

  private def nearestCell(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < p.length) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Train centroids on a hash-ordered sample (deterministic for a given
    * dataset + seed). k-means++ seeding, Lloyd's to `maxIter`; empty cells
    * keep their previous centroid. */
  def train(embeddings: DataFrame, vecCol: String, idCol: String, nCells: Int,
            seed: Long = 42L, maxIter: Int = 20): IvfModel = {
    val pts = embeddings
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(4096)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(pts.nonEmpty, "cannot train IVF on an empty dataset")
    val k = math.min(nCells, pts.length)
    val rnd = new scala.util.Random(seed)
    // k-means++ seeding: next centroid ∝ squared distance to nearest chosen
    val cents = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(pts.length)))
    while (cents.length < k) {
      val d2 = pts.map { p =>
        var d = Double.MaxValue
        cents.foreach { c =>
          var s = 0.0; var i = 0
          while (i < p.length) { val t = p(i) - c(i); s += t * t; i += 1 }
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
    for (_ <- 0 until maxIter) {
      val dim = pts.head.length
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val c = nearestCell(p, centroids)
        var i = 0; while (i < dim) { sums(c)(i) += p(i); i += 1 }
        counts(c) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    IvfModel(centroids)
  }

  /** One (or more) DISTRIBUTED Lloyd iterations from an existing model
    * over the full corpus — the production retrain [[cellStats]]' drift
    * signal asks for. [[train]] seeds from a 4096-row driver sample;
    * refine then walks every vector: assign via the codegen
    * [[cellColumn]], per-cell means via ONE hash aggregate per iteration
    * (exact micro-unit integer sums — [[VectorAgg.vectorSumElements]] —
    * so the result is bit-reproducible under any partitioning), empty
    * cells keep their centroid. Per iteration: one scan + one narrow
    * shuffle of cells × dim longs; the collect is the nCells × dim model
    * update, a driver-side model object like train's. */
  def refine(embeddings: DataFrame, vecCol: String, model: IvfModel,
             iters: Int = 1): IvfModel = {
    require(iters >= 1, s"iters must be positive: $iters")
    var m = model
    for (_ <- 0 until iters) {
      val dim = m.centroids.head.length
      val assigned = embeddings.where(col(vecCol).isNotNull)
        .select(col(vecCol).as("__vec"), cellColumn(col(vecCol), m).as("__cell"))
      val next = m.centroids.map(_.clone())
      VectorAgg.vectorSumElements(assigned, "__vec", Seq("__cell"))
        .collect()
        .groupBy(_.getAs[Int]("__cell"))
        .foreach { case (cell, rows) =>
          val n = rows.head.getAs[Long]("n_vectors")
          val c = new Array[Double](dim)
          rows.foreach(r =>
            c(r.getAs[Int]("pos")) =
              r.getAs[Long]("elem_sum_micro").toDouble / 1e6 / n)
          next(cell) = c
        }
      m = IvfModel(next)
    }
    m
  }

  /** Nearest-centroid cell id as a pure codegen expression: argmax of
    * `x·c − |c|²/2`, ties → lowest cell id. One referenced-matrix loop
    * (see [[graft.functions.NearestCentroid]]); centroid coefficients are
    * float-rounded exactly like the stored-as-float literal form, so cell
    * assignments are bit-identical to composing per-cell dot products. */
  def cellColumn(vec: Column, model: IvfModel): Column =
    graft.functions.VectorExpressions.nearestCentroid(vec,
      model.centroids.toSeq.flatMap(_.map(_.toFloat.toDouble)),
      model.centroids.toSeq.map(c => c.map(v => v * v).sum / 2.0))

  /** One-pass distributed assignment: input + `ivf_cell` int column. */
  def assign(embeddings: DataFrame, vecCol: String, model: IvfModel): DataFrame =
    embeddings.withColumn("ivf_cell", cellColumn(col(vecCol), model))

  /** Per-cell occupancy and coherence — the index-health signal that says
    * when to retrain: occupancy skew means hot cells dominate probe cost,
    * falling mean vector↔centroid cosine means the corpus drifted off the
    * trained partition. One row per NON-EMPTY cell:
    *
    *   (ivf_cell, n_vectors, cos_sum_micro)
    *
    * with mean coherence = `cos_sum_micro / 1e6 / n_vectors`. The cosine
    * sum is fixed-point micro-units (round(cos·10⁶) per vector, integer
    * sum) — associative, so engine-internal aggregation order cannot
    * change it and an external engine replays it exactly (the
    * [[VectorAgg.vectorSumElements]] discipline; a double mean would
    * differ by fold order).
    *
    * Plan: one assignment expression pass, a broadcast join against the
    * nCells-row centroid table (float-rounded coefficients — the same
    * values [[cellColumn]] scores with), one hash aggregate. */
  def cellStats(embeddings: DataFrame, vecCol: String, model: IvfModel): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = model.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }
    val centDf = cents.toDF("ivf_cell", "__cent")
    assign(embeddings, vecCol, model)
      .join(broadcast(centDf), Seq("ivf_cell"))
      .groupBy(col("ivf_cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(round(Similarity.cosine(col(vecCol), col("__cent")) * 1000000L)
          .cast("long")).as("cos_sum_micro"))
  }

  /** Train + assign in one call. */
  def build(embeddings: DataFrame, vecCol: String, idCol: String,
            nCells: Int): (IvfModel, DataFrame) = {
    val model = train(embeddings, vecCol, idCol, nCells)
    (model, assign(embeddings, vecCol, model))
  }

  /** Cells to probe for `query`, nearest centroid first (euclidean — the
    * metric k-means optimized). Driver-side over nCells centroids. */
  def probeCells(model: IvfModel, query: Seq[Float], nProbe: Int): Seq[Int] = {
    val q = query.map(_.toDouble).toArray
    model.centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < q.length) { val t = c(j) - q(j); d += t * t; j += 1 }
        (d, i)
      }
      .sortBy(_._1).take(nProbe).map(_._2).toSeq
  }

  /** ANN top-k by cosine within the probed cells. `assigned` is the frame
    * from [[build]] (or read back from a cell-partitioned table, where the
    * isin filter prunes whole partitions). */
  def topK(assigned: DataFrame, model: IvfModel, vecCol: String, idCol: String,
           query: Seq[Float], k: Int, nProbe: Int = 4): DataFrame = {
    val cells = probeCells(model, query, nProbe)
    val q = array(query.map(lit): _*)
    assigned
      .where(col("ivf_cell").isin(cells: _*))
      .select(col(idCol), Similarity.cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
