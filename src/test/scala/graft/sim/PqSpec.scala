package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private def exactIds(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id").as[Long].collect().toSet

  test("PqEncode/PqAdcScore: ADC score equals dot(normalized query, decoded vector)") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select("embedding").head().getSeq[Float](0).size
    val (model, encoded) = Pq.build(emb, "embedding", "vec_id", dim, m = 8, k = 16)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val scored = encoded
      .select(col("vec_id"), col("pq_codes"), Pq.adcScore(col("pq_codes"), q, model).as("adc"))
      .as[(Long, Seq[Int], Double)].collect()
    // reference model: decode codes -> concat centroids, dot with q-hat
    val qd = q.map(_.toDouble).toArray
    val qn = { var a = 0.0; qd.foreach(v => a += v * v)
      val inv = if (a > 0) 1.0 / math.sqrt(a) else 1.0; qd.map(_ * inv) }
    scored.foreach { case (_, codes, adc) =>
      var expect = 0.0
      codes.zipWithIndex.foreach { case (c, s) =>
        val base = (s * model.k + c) * model.dsub
        var i = 0
        while (i < model.dsub) {
          expect += model.books(base + i) * qn(s * model.dsub + i); i += 1
        }
      }
      assert(math.abs(adc - expect) < 1e-9)
      assert(codes.size === model.m && codes.forall(c => c >= 0 && c < model.k))
    }
  }

  test("PQ is lossless when every distinct subvector has its own code: topK == brute force") {
    // 8 distinct 2-dim patterns per subspace, k = 8: k-means++ seeds the
    // distinct points (duplicates carry zero seeding mass) and Lloyd's
    // keeps them, so decode(encode(x)) == x-hat and ADC == exact cosine
    val rnd = new scala.util.Random(7L)
    // unit-norm halves: every composed vector has norm sqrt(2), so the
    // full-vector normalization scales all rows uniformly and each
    // subspace still holds exactly 8 distinct points
    val patterns = Array.fill(8) {
      val p = Array.fill(4)(rnd.nextGaussian())
      val inv = 1.0 / math.sqrt(p.map(v => v * v).sum)
      p.map(v => (v * inv).toFloat)
    }
    val vecs = (1L to 60L).map { i =>
      val p = patterns(rnd.nextInt(8)) ++ patterns(rnd.nextInt(8))
      (i, p.toSeq)
    }.toDF("vec_id", "embedding")
    val (model, encoded) = Pq.build(vecs, "embedding", "vec_id", dim = 8, m = 2, k = 8)
    val q = patterns(3) ++ patterns(5)
    // per-id: the ADC score of every row equals its exact cosine (the
    // decoded vector IS the normalized vector) — modulo the last-ulp
    // difference of the two summation orders, which can flip the order of
    // mathematically-tied duplicates but never a genuine ranking
    val qc = array(q.map(lit).toSeq: _*)
    val both = Pq.encode(vecs, "embedding", model)
      .select(col("vec_id"), Pq.adcScore(col("pq_codes"), q.toSeq, model).as("adc"),
        Similarity.cosine(col("embedding"), qc).as("cos"))
      .as[(Long, Double, Double)].collect()
    assert(both.length === 60)
    // 1e-6, not 1e-9: the two paths normalize float32 inputs through
    // different arithmetic (divide-at-the-end vs multiply-by-inverse per
    // coefficient), which rounds apart at ~1e-9 on unit-scale values
    both.foreach { case (id, adc, cos) =>
      assert(math.abs(adc - cos) < 1e-6, s"vec $id: adc $adc != cos $cos") }
  }

  test("exhaustive shortlist rerank == exact brute-force top-k, row for row") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select("embedding").head().getSeq[Float](0).size
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    val (model, encoded) = Pq.build(others, "embedding", "vec_id", dim, m = 8, k = 16)
    val exact = Similarity.bruteForceTopK(others, "embedding", "vec_id", q, 10)
      .as[(Long, Double)].collect().toSeq
    val refined = Pq.topKRefined(encoded, model, "embedding", "vec_id", q,
        k = 10, shortlist = 1000)
      .as[(Long, Double)].collect().toSeq
    assert(refined === exact)
  }

  test("ADC shortlist recall on real embeddings: rises with shortlist, high at 4k") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select("embedding").head().getSeq[Float](0).size
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    val (model, encoded) = Pq.build(others, "embedding", "vec_id", dim, m = 8, k = 16)
    val truth = exactIds(Similarity.bruteForceTopK(others, "embedding", "vec_id", q, 10))
    def recallAt(shortlist: Int): Double = {
      val got = exactIds(Pq.topKRefined(encoded, model, "embedding", "vec_id", q,
        k = 10, shortlist = shortlist))
      (got & truth).size.toDouble / truth.size
    }
    val r10 = recallAt(10)
    val r40 = recallAt(40)
    val r100 = recallAt(100)
    info(s"PQ m=8 k=16 recall@10: shortlist=10 -> $r10, 40 -> $r40, 100 -> $r100")
    // finer codebooks must discriminate better on the same data
    val (m16, enc16) = Pq.build(others, "embedding", "vec_id", dim, m = 16, k = 16)
    def recall16(shortlist: Int): Double = {
      val got = exactIds(Pq.topKRefined(enc16, m16, "embedding", "vec_id", q,
        k = 10, shortlist = shortlist))
      (got & truth).size.toDouble / truth.size
    }
    val f40 = recall16(40)
    val f100 = recall16(100)
    info(s"PQ m=16 k=16 recall@10: shortlist=40 -> $f40, 100 -> $f100")
    // honest measured values at pin time (near-random embeddings, true
    // neighbors at cos≈0.3 — the hard case for any quantizer):
    // m=8: 0.1/0.3/0.6; m=16: 0.9/1.0. Gates sit well under the measures.
    assert(r40 >= r10)
    assert(r100 >= 0.3, s"m=8 recall@shortlist=100 collapsed: $r100 (measured 0.6)")
    assert(f40 >= 0.6, s"m=16 recall@shortlist=40 collapsed: $f40 (measured 0.9)")
    assert(f100 >= 0.8, s"m=16 recall@shortlist=100 collapsed: $f100 (measured 1.0)")
  }

  test("IVF+PQ: all-cell probe == codes-only topK; codes survive cell filters") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select("embedding").head().getSeq[Float](0).size
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    val (ivfModel, assigned) = Ivf.build(others, "embedding", "vec_id", nCells = 8)
    val pqModel = Pq.train(others, "embedding", "vec_id", dim, m = 8, k = 16)
    val both = Pq.encode(assigned, "embedding", pqModel)
    val all = Pq.topKCells(both, ivfModel, pqModel, "vec_id", q, k = 10, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    val codesOnly = Pq.topK(both, pqModel, "vec_id", q, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(all === codesOnly)
    val one = Pq.topKCells(both, ivfModel, pqModel, "vec_id", q, k = 10, nProbe = 1)
      .as[(Long, Double)].collect().toSeq
    // nProbe=1 results must come from the probed cell only, carry the
    // same ADC scores as the global scoring, and rank descending
    val cell1 = Ivf.probeCells(ivfModel, q, 1).toSet
    val cellOf = both.select($"vec_id", $"ivf_cell").as[(Long, Int)].collect().toMap
    val globalAdc = Pq.topK(both, pqModel, "vec_id", q, k = both.count().toInt)
      .as[(Long, Double)].collect().toMap
    assert(one.nonEmpty)
    one.foreach { case (id, adc) =>
      assert(cell1.contains(cellOf(id)), s"id $id outside the probed cell")
      assert(adc === globalAdc(id), s"id $id: cell-pruned ADC differs")
    }
    assert(one.map(_._2) === one.map(_._2).sorted.reverse)
  }

  test("IVF+PQ persisted layout: probes prune partitions AND never scan the vectors") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val others = emb.where(col("vec_id") =!= 0)
    val (ivfModel, assigned) = Ivf.build(others, "embedding", "vec_id", nCells = 8)
    val pqModel = Pq.train(others, "embedding", "vec_id", dim, m = 8, k = 16)
    val dir = SparkSpec.tempDir("graft_ivfpq").toString
    // the persisted index carries ONLY (id, codes) inside cell partitions
    Pq.encode(assigned, "embedding", pqModel)
      .select(col("vec_id"), col("ivf_cell"), col("pq_codes"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(dir)
    val back = spark.read.parquet(dir)
    val probed = Pq.topKCells(back, ivfModel, pqModel, "vec_id", q, k = 10, nProbe = 2)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    // the cell filter prunes partitions at the scan…
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"probe filter did not prune partitions:\n$plan")
    // …and the scan reads only id + codes — the embedding column never
    // exists in the index, so the probe I/O is ~8 bytes of codes per row
    assert(!plan.contains("embedding"), s"probe plan touched raw vectors:\n$plan")
    // same result as probing the in-memory frame
    val direct = Pq.topKCells(Pq.encode(assigned, "embedding", pqModel),
        ivfModel, pqModel, "vec_id", q, k = 10, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed.select("vec_id").as[Long].collect().toSeq === direct)
    // the split rerank runs against this codes-only table + the separate
    // vector store — and with an exhaustive shortlist equals exact top-k
    val refined = Pq.topKRefinedSplit(back, others, pqModel, "embedding",
        "vec_id", q, k = 10, shortlist = 1000)
      .as[(Long, Double)].collect().toSeq
    val exact = Similarity.bruteForceTopK(others, "embedding", "vec_id", q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(refined === exact)
  }

  test("model save/load round-trips: an encode job in another session scores identically") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select(col("embedding")).head().getSeq[Float](0).size
    val q = emb.where(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    val pq = Pq.train(emb, "embedding", "vec_id", dim, m = 8, k = 16)
    val ivf = Ivf.train(emb, "embedding", "vec_id", nCells = 8)
    val dir = SparkSpec.tempDir("graft_models").toString
    Pq.save(pq, s"$dir/pq", spark)
    Ivf.save(ivf, s"$dir/ivf", spark)
    val pq2 = Pq.load(s"$dir/pq", spark)
    val ivf2 = Ivf.load(s"$dir/ivf", spark)
    assert(pq2 === pq.copy(books = pq2.books) && pq2.books.toSeq === pq.books.toSeq)
    assert(ivf2.centroids.map(_.toSeq).toSeq === ivf.centroids.map(_.toSeq).toSeq)
    // loaded models produce identical codes, cells, and ADC scores
    val a = Pq.encode(Ivf.assign(emb, "embedding", ivf), "embedding", pq)
      .select(col("vec_id"), col("ivf_cell"), col("pq_codes"),
        Pq.adcScore(col("pq_codes"), q, pq).as("adc"))
      .as[(Long, Int, Seq[Int], Double)].collect().sortBy(_._1).toSeq
    val b = Pq.encode(Ivf.assign(emb, "embedding", ivf2), "embedding", pq2)
      .select(col("vec_id"), col("ivf_cell"), col("pq_codes"),
        Pq.adcScore(col("pq_codes"), q, pq2).as("adc"))
      .as[(Long, Int, Seq[Int], Double)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("degenerate training inputs: zero vectors and oversized k") {
    val vecs = Seq((1L, Seq(0f, 0f, 0f, 0f)), (2L, Seq(0f, 0f, 0f, 0f)),
      (3L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    // zero-norm vectors encode without NaNs (inv falls back to 1.0) and
    // k far beyond the distinct-subvector count pads codebooks safely
    val model = Pq.train(vecs, "embedding", "vec_id", dim = 4, m = 2, k = 16)
    val codes = Pq.encode(vecs, "embedding", model)
      .select("pq_codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.size == 2 && c.forall(x => x >= 0 && x < 16)))
    val adc = Pq.topK(Pq.encode(vecs, "embedding", model), model, "vec_id",
      Seq(0f, 0f, 0f, 0f), k = 3).as[(Long, Double)].collect()
    assert(adc.length === 3 && adc.forall(r => !r._2.isNaN))
  }

  test("training is deterministic for a fixed seed; degenerate inputs guarded") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select("embedding").head().getSeq[Float](0).size
    val m1 = Pq.train(emb, "embedding", "vec_id", dim, m = 4, k = 8)
    val m2 = Pq.train(emb, "embedding", "vec_id", dim, m = 4, k = 8)
    assert(m1.books.toSeq === m2.books.toSeq)
    intercept[IllegalArgumentException] {
      Pq.train(emb, "embedding", "vec_id", dim, m = 7) // 64 % 7 != 0
    }
  }

  test("PqEncode/PqAdcScore: generated code compiles and matches interpreted eval") {
    // the HOF-fallback pitfall is silent (correct results, interpreted
    // speed) — so force BOTH paths explicitly and compare
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
    import graft.functions.{PqAdcScore, PqEncode}
    val books = Seq(0.1, 0.2, 0.3, 0.4, -0.5, 0.6, 0.7, -0.8) // m=2 k=2 dsub=2
    val enc = PqEncode(BoundReference(0, ArrayType(FloatType, containsNull = false),
      nullable = false), books, m = 2, k = 2, normalize = true)
    val vecRow = InternalRow(new GenericArrayData(Array(0.3f, -0.2f, 0.9f, 0.1f)))
    val encGen = UnsafeProjection.create(Seq(enc)) // throws if doGenCode is invalid
    val gCodes = encGen(vecRow).getArray(0).toIntArray().toSeq
    val iCodes = enc.eval(vecRow).asInstanceOf[ArrayData].toIntArray().toSeq
    assert(gCodes === iCodes)
    val adc = PqAdcScore(BoundReference(0, ArrayType(IntegerType, containsNull = false),
      nullable = false), Seq(0.5, 0.25, 0.125, 0.0625), k = 2)
    val codeRow = InternalRow(new GenericArrayData(Array(1, 0)))
    val adcGen = UnsafeProjection.create(Seq(adc))
    assert(adcGen(codeRow).getDouble(0) === adc.eval(codeRow).asInstanceOf[Double])
    assert(adc.eval(codeRow) === 0.25 + 0.125)
  }

  test("short rows zero-pad; out-of-range codes score 0") {
    val vecs = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val model = Pq.train(vecs, "embedding", "vec_id", dim = 4, m = 2, k = 2)
    // row 2 is row 1 with a zero tail: identical normalized prefix -> the
    // first-subspace code matches, and encoding never reads out of bounds
    val codes = Pq.encode(vecs, "embedding", model)
      .select("vec_id", "pq_codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes(1L).size === 2 && codes(2L).size === 2)
    // corrupt code: contributes nothing instead of reading out of bounds
    val corrupt = Seq((1L, Seq(0, 99))).toDF("vec_id", "pq_codes")
    val adc = corrupt.select(
        graft.functions.VectorExpressions.pqAdcScore(col("pq_codes"),
          Seq(0.5, 0.25, 0.125, 0.0625), k = 2).as("adc"))
      .as[Double].head()
    assert(adc === 0.5) // only subspace 0 (code 0) contributes
  }
}
