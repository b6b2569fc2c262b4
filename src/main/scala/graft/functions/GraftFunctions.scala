package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, Literal, Multiply, RegExpExtractAll, RegExpReplace, Size, Sqrt}

/** SQL-callable surface of the graft function library: a user who only
  * speaks `spark.sql(...)` gets the same native expressions and scalar
  * helpers the Column API exposes.
  *
  * [[GraftFunctions.register]] installs into a LIVE session (temp
  * functions in its FunctionRegistry + `spark.udf` for the JVM-logic
  * scalars) — what notebooks and tests want.
  */
object GraftFunctions {

  private def binary(name: String, f: (Expression, Expression) => Expression)(
      c: Seq[Expression]): Expression = {
    require(c.size == 2, s"$name expects 2 arguments, got ${c.size}")
    f(c(0), c(1))
  }

  private def unary(name: String, f: Expression => Expression)(
      c: Seq[Expression]): Expression = {
    require(c.size == 1, s"$name expects 1 argument, got ${c.size}")
    f(c.head)
  }

  /** Native (codegen Expression) functions: name → builder. */
  val nativeBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_fdot" -> binary("graft_fdot", FloatVectorDot(_, _)) _,
    // same left-to-right fold as Similarity.cosine — bit-identical
    "graft_cosine" -> binary("graft_cosine", (a, b) =>
      Divide(FloatVectorDot(a, b),
        Multiply(Sqrt(FloatVectorDot(a, a)), Sqrt(FloatVectorDot(b, b))))) _,
    // same pattern order as TextOps.redact — URL first, then email
    "graft_redact" -> unary("graft_redact", e =>
      RegExpReplace(
        RegExpReplace(e, Literal(graft.text.TextOps.UrlRe), Literal("<URL>")),
        Literal(graft.text.TextOps.EmailRe), Literal("<EMAIL>"))) _,
    // same pattern as TextOps.bpeTokenCount — the subword budget statistic
    "graft_bpe_count" -> unary("graft_bpe_count", e =>
      new Size(new RegExpExtractAll(e, Literal(graft.text.TextOps.BpeTokenRe),
        Literal(0)))) _,
    // same composition as TextOps.normalizeText — NFC, then control strip
    "graft_normalize" -> unary("graft_normalize", e =>
      RegExpReplace(NfcNormalize(e),
        Literal(graft.text.TextOps.ControlCharRe), Literal(""))) _,
    // graft_hash_vector(tokens, dim) — dim must be a literal (it sizes
    // the accumulator at plan time)
    "graft_hash_vector" -> binary("graft_hash_vector", (arr, d) => {
      require(d.foldable, "graft_hash_vector: dim must be a literal")
      HashingVector(arr, d.eval().asInstanceOf[Number].intValue())
    }) _,
    // adjacent-pair bigram strings of a token array (the DSIR featurizer)
    "graft_bigrams" -> unary("graft_bigrams", BigramArray(_)) _,
    // graft_dsir_buckets(tokens, dim) — md5-prefix bucket per bigram;
    // dim must be a literal (plan-time modulus)
    "graft_dsir_buckets" -> binary("graft_dsir_buckets", (arr, d) => {
      require(d.foldable, "graft_dsir_buckets: dim must be a literal")
      DsirBuckets(arr, d.eval().asInstanceOf[Number].intValue())
    }) _,
    // int8 scalar quantization: per-vector absmax scale, tinyint codes,
    // exact integer dot (graft.sim.Quant)
    "graft_int8_scale" -> unary("graft_int8_scale", Int8Scale(_)) _,
    "graft_int8_codes" -> binary("graft_int8_codes", Int8Codes(_, _)) _,
    "graft_int8_dot" -> binary("graft_int8_dot", Int8Dot(_, _)) _,
    // per-ROW inclusive rank against a kll_sketch_agg_double column —
    // the non-foldable probe the built-in kll_sketch_get_rank_double
    // (literal-only) can't express
    "graft_kll_rank" -> binary("graft_kll_rank", KllRank(_, _)) _,
    // token-sequence LCS length over two array<string> columns — the
    // ROUGE-L kernel (doc-bounded O(C·R) DP, compiled)
    "graft_lcs" -> binary("graft_lcs", LcsTokenLength(_, _)) _,
    // clipped multiset-intersection count — the ROUGE/BLEU/chrF overlap
    // numerator (compiled O(C+R) hash pass)
    "graft_clipped_overlap" ->
      binary("graft_clipped_overlap", ClippedOverlapCount(_, _)) _,
    // multi-reference clipped overlap over (array<string>,
    // array<array<string>>) — the Papineni max-over-references
    // modified-precision numerator (compiled O(C+ΣRᵢ) pass)
    "graft_clipped_overlap_max" ->
      binary("graft_clipped_overlap_max", ClippedOverlapMaxCount(_, _)) _,
    // token-sequence Levenshtein distance over two array<string>
    // columns — the WER kernel (doc-bounded O(C·R) DP, compiled)
    "graft_token_edit" ->
      binary("graft_token_edit", TokenEditDistance(_, _)) _)

  /** One 31-bit Morton spread chain in Spark SQL (mirrors
    * `ZOrder.spreadBits`; `shiftleft` + `&`/`|` operators). */
  private def spreadSparkSql(c: String): String =
    Seq((16, "281470681808895"), (8, "71777214294589695"),
      (4, "1085102592571150095"), (2, "3689348814741910323"),
      (1, "6148914691236517205"))
      .foldLeft(s"($c & 2147483647)") { case (acc, (sh, m)) =>
        s"(($acc | shiftleft($acc, $sh)) & $m)"
      }

  /** SQL scalar functions (Spark 4 `CREATE FUNCTION ... RETURN expr`) for
    * the Column-COMPOSED trees that cannot ride the FunctionRegistry
    * builder path (the registry wants a Catalyst expression, these are
    * built from `functions._` compositions). Bodies mirror the Column
    * implementations exactly — GraftFunctionsSpec pins SQL == Column.
    * Regex literals avoid backslashes (`[?]`, `[.]`) so parser escape
    * modes cannot change the pattern. */
  private val sqlFunctionDdl: Seq[String] = {
    // graft_canonical_url: mirrors UrlOps.canonicalizeUrl step by step
    val nf = "regexp_replace(trim(u), '#.*$', '')"
    val scheme = s"lower(regexp_extract($nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    val hostport = s"lower(regexp_extract($nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))"
    val path0 = s"regexp_extract($nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    val query0 = s"regexp_extract($nf, '[?]([^#]*)', 1)"
    val host =
      s"""regexp_replace(CASE WHEN ($scheme = 'http' AND $hostport LIKE '%:80')
            OR ($scheme = 'https' AND $hostport LIKE '%:443')
          THEN regexp_replace($hostport, ':(80|443)$$', '')
          ELSE $hostport END, '^www[.]', '')"""
    val path =
      s"CASE WHEN length($path0) > 1 THEN regexp_replace($path0, '/$$', '') ELSE $path0 END"
    val trackers = graft.text.UrlOps.trackingParams
      .map(t => s"p = '$t' OR startswith(p, '$t=')").mkString(" OR ")
    val query =
      s"""array_join(array_sort(filter(split($query0, '&'),
          p -> NOT (startswith(p, 'utm_') OR p = '' OR $trackers))), '&')"""
    val canonicalBody =
      s"""CASE WHEN $scheme = '' THEN trim(u)
          ELSE concat($scheme, '://', $host, $path,
            CASE WHEN $query = '' THEN '' ELSE concat('?', $query) END) END"""
    Seq(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_canonical_url(u STRING)
          RETURNS STRING RETURN $canonicalBody""",
      s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_zorder(a BIGINT, b BIGINT)
          RETURNS BIGINT
          RETURN (${spreadSparkSql("a")} | shiftleft(${spreadSparkSql("b")}, 1))""")
  }

  /** Install every graft function into a live session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    nativeBuilders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    sqlFunctionDdl.foreach(spark.sql(_))
    spark.udf.register("graft_camelize",
      (s: String) => if (s == null) null else Strings.camelize(s))
    spark.udf.register("graft_snakify",
      (s: String) => if (s == null) null else Strings.snakify(s))
    spark.udf.register("graft_domain",
      (s: String) => Strings.domainOf(s).orNull)
    spark.udf.register("graft_gunzip", Strings.gunzipBytes _)
    spark.udf.register("graft_compression_ratio", Strings.deflateRatio _)
    // grouped vector pooling (typed mergeable Aggregators)
    spark.udf.register("graft_vector_sum",
      org.apache.spark.sql.functions.udaf(new graft.sim.VectorAgg.VectorSum))
    spark.udf.register("graft_vector_mean",
      org.apache.spark.sql.functions.udaf(new graft.sim.VectorAgg.VectorMean))
  }
}
