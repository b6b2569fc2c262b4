package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.{int8Codes, int8Dot, int8QueryDot, int8Scale}

/** Int8 scalar quantization of embedding columns — the storage-side
  * companion to [[Pq]]: 4× smaller vectors with NO codebook training, so
  * it applies to a fresh corpus in one embarrassingly-parallel pass.
  *
  * Scheme (symmetric per-vector absmax):
  *   scale   = max|v_i| / 127                     (one double per vector)
  *   code_i  = clamp(round(v_i / scale), ±127)    (array<tinyint>)
  * and quantized cosine needs no scales at all — they cancel:
  *   cos8(a, b) = dot(qa, qb) / (‖qa‖ · ‖qb‖)
  * with the dot an EXACT integer sum ([[graft.functions.Int8Dot]]), so
  * scores are deterministic and replay bit-for-bit in an ANSI-SQL oracle
  * (unlike float-sum kernels, where fold order matters).
  *
  * Scale shape: every stage is a projection — no shuffle, no corpus
  * statistics, no training. At 100 TB the quantized table is 25 TB and
  * the per-row cost is two codegen loops; brute-force serving over int8
  * codes reads 4× less and multiplies 8-bit integers. Per-VECTOR scales
  * (not per-corpus min/max) are what make this one-pass; the recall cost
  * vs float cosine is bounded by the per-element error ≤ scale/2
  * (asserted against the fixture in QuantSpec).
  *
  * Reference scope note: the reference engine has no vector/ANN surface
  * at all (SURVEY.md §2.11) — this is part of the LLM-pipeline extension
  * suite alongside [[Similarity]]/[[Ivf]]/[[Pq]].
  */
object Quant {

  /** Add `q8_scale` (double) and `q8` (array<tinyint>) next to
    * `vecCol`. Null vectors get null scale/codes (null-safe expressions);
    * the all-zero vector gets scale 0 and all-zero codes. */
  def quantizeInt8(vecs: DataFrame, vecCol: String): DataFrame =
    vecs
      .withColumn("q8_scale", int8Scale(col(vecCol)))
      .withColumn("q8", int8Codes(col(vecCol), col("q8_scale")))

  /** Driver-side mirror of [[quantizeInt8]]'s arithmetic for a single
    * query vector — same widening, same half-away-from-zero rounding,
    * same clamp, so a query quantized here scores identically to one
    * quantized in-plan. */
  def quantizeVec(v: Seq[Float]): (Double, Array[Byte]) = {
    var m = 0.0
    v.foreach { x => val a = math.abs(x.toDouble); if (a > m) m = a }
    val scale = m / 127.0
    val codes = new Array[Byte](v.size)
    if (scale != 0.0) {
      var i = 0
      v.foreach { x =>
        val r = x.toDouble / scale
        val rr = if (r >= 0) math.floor(r + 0.5) else math.ceil(r - 0.5)
        codes(i) = math.max(-127.0, math.min(127.0, rr)).toByte
        i += 1
      }
    }
    (scale, codes)
  }

  /** Cosine of two QUANTIZED vectors from their code columns alone (the
    * per-vector scales cancel). 0.0 when either side is the zero vector
    * (cosine undefined; zero ranks last in any top-k). */
  def cosineInt8(a: Column, b: Column): Column = {
    val d = int8Dot(a, b).cast("double")
    val na = sqrt(int8Dot(a, a).cast("double"))
    val nb = sqrt(int8Dot(b, b).cast("double"))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  /** Blocked embedding near-dup pairs over QUANTIZED vectors — the int8
    * variant of [[Similarity.cosinePairs]] and the operator where the
    * 4× compression actually pays: the bytes riding the salted shuffle
    * are `array<tinyint>` codes, not floats, so the pairwise join moves
    * a quarter of the data for the same candidate set. Same salted
    * shuffle-hash-join shape (left side salted + hinted as the build
    * map, right side replicated across 8 salt values; every (a, b) pair
    * meets exactly once at a's salt); the kernel is the exact integer
    * dot over code norms, so scores replay bit-for-bit in SQL. Zero
    * vectors (scale 0) are excluded — quantized cosine is undefined.
    * Returns `(id_a, id_b, cos8)` with id_a < id_b and cos8 ≥
    * `threshold`. Precision/recall vs the float kernel is bounded by
    * the per-element quantization error (asserted in QuantSpec). */
  def cosinePairsInt8(embeddings: DataFrame, vecCol: String, idCol: String,
                      blockCol: String, threshold: Double): DataFrame = {
    val q = quantizeInt8(embeddings, vecCol)
      .where(col("q8_scale") > 0)
      .select(col(blockCol).as("blk"), col(idCol), col("q8").as("v"),
        sqrt(int8Dot(col("q8"), col("q8")).cast("double")).as("nrm"))
    val l = q.toDF("blk", "id_a", "v_a", "n_a")
      .withColumn("salt", pmod(xxhash64(col("id_a")), lit(8)))
    val r = q.toDF("blk", "id_b", "v_b", "n_b")
      .withColumn("salt", explode(array((0 until 8).map(lit): _*)))
    l.hint("shuffle_hash").join(r, Seq("blk", "salt"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (int8Dot(col("v_a"), col("v_b")).cast("double") /
          (col("n_a") * col("n_b"))).as("cos8"))
      .where(col("cos8") >= threshold)
  }

  /** Brute-force top-k by int8-quantized cosine: quantize the corpus
    * in-plan, the query driver-side, and rank by
    * `dot8 / (‖corpus codes‖ · ‖query codes‖)`. Returns
    * `(idCol, cos8)`, ties broken by ascending id. Zero vectors are
    * excluded (scale 0 ⇒ cosine undefined).
    *
    * Scale shape: one projection + TakeOrdered(k) — the same shape as
    * [[Similarity.bruteForceTopK]] but reading 4× fewer bytes per row
    * once the quantized table is the one persisted; the candidate-list
    * pattern for IVF/LSH composes unchanged on top. */
  def topKInt8(vecs: DataFrame, vecCol: String, idCol: String,
               query: Seq[Float], k: Int): DataFrame = {
    val (_, qCodes) = quantizeVec(query)
    val qNorm = math.sqrt(qCodes.foldLeft(0L)((s, c) => s + c.toLong * c.toLong).toDouble)
    require(qNorm > 0, "topKInt8: zero query vector")
    val q = quantizeInt8(vecs, vecCol)
      .where(col("q8_scale") > 0)
    q.select(col(idCol),
        (int8QueryDot(col("q8"), qCodes.toSeq).cast("double") /
          (sqrt(int8Dot(col("q8"), col("q8")).cast("double")) * lit(qNorm))).as("cos8"))
      .orderBy(col("cos8").desc, col(idCol))
      .limit(k)
  }
}
