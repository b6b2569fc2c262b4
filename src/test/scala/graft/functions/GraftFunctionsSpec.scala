package graft.functions

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {

  test("register exposes native vector expressions to pure SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_fdot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same,
                graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth""")
      .head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 1.0)
    assert(r.getDouble(2) === 0.0)
  }

  test("graft_kll_rank: per-row non-foldable probe, inclusive, codegen==eval") {
    GraftFunctions.register(spark)
    // n=10 ≤ k: the sketch retains everything, ranks are exact — and the
    // probe is a per-ROW column, which the built-in get_rank (literal-only
    // argument) rejects at analysis time
    val got = spark.sql(
      """WITH d AS (SELECT CAST(v AS DOUBLE) v FROM range(1, 11) t(v)),
               s AS (SELECT kll_sketch_agg_double(v, 200) sk FROM d)
         SELECT v, graft_kll_rank(sk, v) r FROM d CROSS JOIN s ORDER BY v""")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    got.foreach { case (v, r) => assert(r === v / 10.0, s"inclusive rank of $v") }
    // interpreted eval agrees with the codegen'd path
    val interp = KllRank.rank(
      spark.sql("""SELECT kll_sketch_agg_double(CAST(v AS DOUBLE), 200)
                   FROM range(1, 11) t(v)""").head().getAs[Array[Byte]](0), 3.0)
    assert(interp === 0.3)
  }

  test("graft_bigrams / graft_dsir_buckets expose the DSIR featurizers to SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_bigrams(array('a', 'b', 'c')) AS bg,
                graft_bigrams(array('solo')) AS one,
                graft_dsir_buckets(array('a', 'b', 'c'), 16) AS bk""")
      .head()
    assert(r.getSeq[String](0) === Seq("a b", "b c"))
    assert(r.getSeq[String](1) === Seq.empty)
    // buckets replay the md5-prefix model: first 8 hex digits mod dim
    def bucket(g: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      (v % 16).toInt
    }
    assert(r.getSeq[Int](2) === Seq(bucket("a b"), bucket("b c")))
  }

  test("graft_lcs exposes the ROUGE-L DP to SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_lcs(array('a', 'b', 'c', 'd', 'e'),
                          array('a', 'x', 'b', 'y', 'c')) AS l1,
                graft_lcs(array('c', 'a', 'b'), array('a', 'b', 'c')) AS l2,
                graft_lcs(CAST(array() AS array<string>), array('a')) AS l3,
                graft_lcs(CAST(NULL AS array<string>), array('a')) AS l4""")
      .head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 2L && r.getLong(2) === 0L)
    assert(r.isNullAt(3))
  }

  test("graft_clipped_overlap exposes the ROUGE/BLEU/chrF numerator to SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_clipped_overlap(array('a', 'a', 'a', 'b'),
                                      array('a', 'b', 'b')) AS o1,
                graft_clipped_overlap(CAST(array() AS array<string>),
                                      array('a')) AS o2,
                graft_clipped_overlap(CAST(NULL AS array<string>),
                                      array('a')) AS o3""")
      .head()
    assert(r.getLong(0) === 2L) // min(3,1) + min(1,2)
    assert(r.getLong(1) === 0L)
    assert(r.isNullAt(2)) // bare expression: null in, null out
  }

  test("graft_clipped_overlap_max exposes the multi-reference clip to SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_clipped_overlap_max(array('a', 'a', 'b', 'b'),
                  array(array('a', 'a'), array('b', 'b'))) AS m1,
                graft_clipped_overlap_max(array('a'),
                  CAST(array() AS array<array<string>>)) AS m2,
                graft_clipped_overlap_max(array('a'),
                  CAST(NULL AS array<array<string>>)) AS m3""")
      .head()
    assert(r.getLong(0) === 4L) // maxima from different references
    assert(r.getLong(1) === 0L)
    assert(r.isNullAt(2)) // bare expression: null in, null out
  }

  test("graft_token_edit exposes the WER Levenshtein DP to SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_token_edit(array('the', 'cat', 'sat'),
                                 array('the', 'dog', 'sat')) AS d1,
                graft_token_edit(array('c', 'a', 'b'),
                                 array('a', 'b', 'c')) AS d2,
                graft_token_edit(CAST(array() AS array<string>),
                                 array('a', 'b')) AS d3,
                graft_token_edit(CAST(NULL AS array<string>),
                                 array('a')) AS d4""")
      .head()
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.isNullAt(3))
  }

  test("ArrayCountInSet/ArrayStringLenSum: generated code matches interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val arrT = ArrayType(StringType, containsNull = true)
    val in = new GenericArrayData(Array[Any](
      UTF8String.fromString("the"), UTF8String.fromString("quick"), null,
      UTF8String.fromString("the"), UTF8String.fromString("fox")))
    val row = InternalRow(in)
    val cnt = ArrayCountInSet(BoundReference(0, arrT, nullable = false), Seq("the", "a"))
    val len = ArrayStringLenSum(BoundReference(0, arrT, nullable = false))
    assert(cnt.eval(row) === 2)   // occurrences, null skipped
    assert(len.eval(row) === 14L) // 3+5+0+3+3
    val proj = UnsafeProjection.create(Seq(cnt, len)) // throws on bad codegen
    val out = proj(row)
    assert(out.getInt(0) === 2 && out.getLong(1) === 14L)
  }

  test("graft_bpe_count in SQL matches TextOps.bpeTokenCount") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("don't stop", "hello world 123!", "").toDF("t")
    df.createOrReplaceTempView("bpe_docs")
    val viaSql = spark.sql("SELECT graft_bpe_count(t) AS n FROM bpe_docs")
      .as[Int].collect().toSeq
    val viaCol = df.select(graft.text.TextOps.bpeTokenCount(col("t")).as("n"))
      .as[Int].collect().toSeq
    assert(viaSql === viaCol && viaSql === Seq(3, 4, 0))
  }

  test("graft_vector_mean aggregates per group from pure SQL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("a", Seq(1f, 2f)), ("a", Seq(3f, 4f)), ("b", Seq(5f, 5f)))
      .toDF("label", "embedding").createOrReplaceTempView("pool_docs")
    val out = spark.sql(
      """SELECT label, graft_vector_mean(embedding) AS m
         FROM pool_docs GROUP BY label""")
      .as[(String, Seq[Double])].collect().toMap
    assert(out("a") === Seq(2.0, 3.0))
    assert(out("b") === Seq(5.0, 5.0))
  }

  test("SQL results match the Column API bit-for-bit on float vectors") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((Array(1.1f, 2.2f, 3.3f), Array(0.4f, -0.5f, 0.6f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT graft_cosine(a, b) AS c FROM vecs").head().getDouble(0)
    val viaCol = df.select(
      graft.sim.Similarity.cosine(col("a"), col("b")).as("c")).head().getDouble(0)
    assert(viaSql === viaCol)
  }

  test("register exposes the scalar helpers to SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_camelize('memory_mb') AS c1,
                graft_camelize('plain_name') AS c2,
                graft_snakify('someFieldName') AS s,
                graft_domain('https://sub.example.org/x?y=1') AS d""").head()
    assert(r.getString(0) === "memoryMB") // special-case table applies
    assert(r.getString(1) === "plainName")
    assert(r.getString(2) === "some_field_name")
    assert(r.getString(3) === "example.org")
  }

  test("graft_redact in SQL matches TextOps.redact") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_redact('ping a@b.io or https://x.io/q?z=1 end') AS c""")
      .head().getString(0)
    assert(r === "ping <EMAIL> or <URL> end")
  }

  test("NfcNormalize: codegen matches interpreted; fast paths return input") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = "café naïve" // e/i + combining marks
    val composed = "café naïve"
    val expr = NfcNormalize(BoundReference(0, StringType, nullable = false))
    val proj = UnsafeProjection.create(Seq(expr)) // throws on bad codegen
    for (s <- Seq(decomposed, composed, "plain ascii", "")) {
      val gen = proj(InternalRow(UTF8String.fromString(s))).getUTF8String(0).toString
      val interp = expr.eval(InternalRow(UTF8String.fromString(s)))
        .asInstanceOf[UTF8String].toString
      assert(gen === interp, s"input: $s")
      assert(gen === java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    // identity fast paths: ASCII and already-NFC inputs return the SAME ref
    val ascii = UTF8String.fromString("plain")
    assert(NfcNormalize.nfc(ascii) eq ascii)
    val nfc = UTF8String.fromString(composed)
    assert(NfcNormalize.nfc(nfc) eq nfc)
    assert(NfcNormalize.nfc(UTF8String.fromString(decomposed)).toString === composed)
  }

  test("HashingVector: codegen matches interpreted and the md5-prefix model") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val dim = 16
    val words = Seq("the", "quick", "brown", "fox", "the", "é")
    def modelBucket(w: String): Int =
      (java.lang.Long.parseLong(org.apache.commons.codec.digest.DigestUtils
        .md5Hex(w.getBytes("UTF-8")).take(8), 16) % dim).toInt
    val expect = Array.fill(dim)(0L)
    words.foreach(w => expect(modelBucket(w)) += 1)
    val arrT = ArrayType(StringType, containsNull = true)
    val in = new GenericArrayData(
      (words.map(w => UTF8String.fromString(w): Any) :+ (null: Any)).toArray)
    val expr = HashingVector(BoundReference(0, arrT, nullable = false), dim)
    val proj = UnsafeProjection.create(Seq(expr)) // throws on bad codegen
    val gen = proj(InternalRow(in)).getArray(0).toLongArray()
    val interp = expr.eval(InternalRow(in))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(gen.toSeq === interp.toSeq)
    assert(gen.toSeq === expect.toSeq) // null element skipped; é multi-byte ok
    assert(gen.sum === words.size)
    // empty array → all-zero vector
    val empty = expr.eval(InternalRow(new GenericArrayData(Array.empty[Any])))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(empty.toSeq === Seq.fill(dim)(0L))
  }

  test("graft_normalize in SQL matches TextOps.normalizeText") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("café ok", "plain", "").toDF("t")
    df.createOrReplaceTempView("norm_docs")
    val viaSql = spark.sql("SELECT graft_normalize(t) AS n FROM norm_docs")
      .as[String].collect().toSeq
    val viaCol = df.select(graft.text.TextOps.normalizeText(col("t")).as("n"))
      .as[String].collect().toSeq
    assert(viaSql === viaCol && viaSql === Seq("café ok", "plain", ""))
  }

  test("graft_canonical_url and graft_zorder in SQL match the Column API") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val urls = Seq("HTTP://WWW.Ex.COM:80/A?b=2&utm_s=x&a=1#f", "plain")
      .toDF("u")
    urls.createOrReplaceTempView("url_docs")
    val viaSql = spark.sql("SELECT graft_canonical_url(u) AS c FROM url_docs")
      .as[String].collect().toSeq
    val viaCol = urls.select(
        graft.text.UrlOps.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    assert(viaSql === viaCol && viaSql.head === "http://ex.com/A?a=1&b=2")
    val pts = Seq((3L, 5L), (2147483647L, 0L)).toDF("a", "b")
    pts.createOrReplaceTempView("z_pts")
    val zSql = spark.sql("SELECT graft_zorder(a, b) AS z FROM z_pts")
      .as[Long].collect().toSeq
    val zCol = pts.select(graft.ops.ZOrder.zorderKey(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(zSql === zCol)
  }
}
