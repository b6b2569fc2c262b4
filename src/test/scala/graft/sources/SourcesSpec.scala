package graft.sources

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("dimensionPredicate composes equalities with normalizers") {
    val df = Seq(("sync", "20180607", 1), ("main", "20180607", 2), ("sync", "20180608", 3))
      .toDF("docType", "submissionDate", "v")
      // the caller normalizes the column the predicate compares
      .withColumn("submissionDate",
        regexp_replace(col("submissionDate"), "(\\d{4})(\\d{2})(\\d{2})", "$1-$2-$3"))
    val out = df.where(Sources.dimensionPredicate(
      Map("docType" -> "sync", "submissionDate" -> "2018-06-07")))
      .select("v").as[Int].collect().toSeq
    assert(out === Seq(1))
  }

  test("generic format load round-trips") {
    val dir = SparkSpec.tempDir("graft_src").toString
    Seq((1, "a"), (2, "b")).toDF("id", "s").write.json(s"$dir/j")
    val back = Sources.load(spark, "json", s"$dir/j")
    assert(back.count() === 2)
  }

  test("PartitionDimensions path model snakifies with suffix") {
    val pd = PartitionDimensions.parse("submissionDate=20180607/docType=sync")
    assert(pd.pathFor() === "submission_date_s3=20180607/doc_type_s3=sync")
    assert(pd.columns === Seq("submission_date_s3", "doc_type_s3"))
  }

  test("S5/K4/K5 built-ins: SQL temp-view scan, JSON sink, gzip text sink") {
    val dir = SparkSpec.tempDir("graft_sinks").toString
    val df = Seq((1, "alpha"), (2, "beta")).toDF("id", "s")
    // S5: SQL scan over a registered table
    df.createOrReplaceTempView("sinks_t")
    assert(spark.sql("SELECT sum(id) FROM sinks_t").head().getLong(0) === 3L)
    // K4: JSON sink round-trip
    df.write.json(s"$dir/j")
    assert(spark.read.json(s"$dir/j").count() === 2)
    // K5: text sink with codec — files really gzip'd, content round-trips
    df.select(concat_ws(",", col("id"), col("s")).as("value"))
      .write.option("compression", "gzip").text(s"$dir/t")
    val gzFiles = new java.io.File(s"$dir/t").listFiles.filter(_.getName.endsWith(".txt.gz"))
    assert(gzFiles.nonEmpty)
    assert(spark.read.text(s"$dir/t").as[String].collect().toSet
      === Set("1,alpha", "2,beta"))
  }

  test("dimensionedScan prunes partition dirs via predicates") {
    val dir = SparkSpec.tempDir("graft_src2").toString
    Seq((1L, "20180607"), (2L, "20180608")).toDF("id", "submission_date")
      .write.partitionBy("submission_date").parquet(s"$dir/t")
    val out = Sources.dimensionedScan(spark, s"$dir/t",
      Map("submission_date" -> "20180607"))
    assert(out.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("AvroSchemas: .avsc drives native JSON ingestion (K6 migration shim)") {
    val avsc = """
      {"type": "record", "name": "Ping", "fields": [
        {"name": "client_id", "type": "string"},
        {"name": "n", "type": ["null", "long"]},
        {"name": "score", "type": "double"},
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "meta", "type": {"type": "map", "values": ["null", "long"]}},
        {"name": "env", "type": {"type": "record", "name": "Env", "fields": [
          {"name": "os", "type": "string"},
          {"name": "build", "type": ["null", "string"]}]}}
      ]}"""
    val schema = AvroSchemas.toStructType(avsc)
    assert(schema("client_id").dataType === StringType)
    assert(!schema("client_id").nullable && schema("n").nullable)
    assert(schema("n").dataType === LongType)
    assert(schema("day").dataType === DateType)
    assert(schema("tags").dataType === ArrayType(StringType, containsNull = false))
    assert(schema("meta").dataType === MapType(StringType, LongType, valueContainsNull = true))
    assert(schema("env").dataType.asInstanceOf[StructType]("build").nullable)
    // the derived schema really drives the native typed JSON reader
    val json = Seq(
      """{"client_id":"c1","n":7,"score":0.5,"day":"2018-06-07","tags":["a"],
         "meta":{"k":1},"env":{"os":"linux","build":null}}""".replaceAll("\\n\\s*", ""))
    val ds = spark.createDataset(json)(Encoders.STRING)
    val row = spark.read.schema(schema).json(ds)
      .select("client_id", "n", "env.os", "day").head()
    assert(row.getString(0) === "c1" && row.getLong(1) === 7L
      && row.getString(2) === "linux"
      && row.getDate(3).toString === "2018-06-07")
    // general unions are rejected loudly, not silently stringified
    intercept[IllegalArgumentException] {
      AvroSchemas.toStructType(
        """{"type":"record","name":"R","fields":[
           {"name":"u","type":["string","long"]}]}""")
    }
    // recursive records (legal Avro, e.g. a linked list) have no finite
    // StructType analogue — rejected loudly, not a StackOverflowError
    val rec = intercept[IllegalArgumentException] {
      AvroSchemas.toStructType(
        """{"type":"record","name":"Node","fields":[
           {"name":"v","type":"long"},
           {"name":"next","type":["null","Node"]}]}""")
    }
    assert(rec.getMessage.contains("recursive"))
    // non-recursive REUSE of a named record across branches stays legal
    val reused = AvroSchemas.toStructType(
      """{"type":"record","name":"Pair","fields":[
         {"name":"a","type":{"type":"record","name":"Pt","fields":[
           {"name":"x","type":"long"}]}},
         {"name":"b","type":"Pt"}]}""")
    assert(reused("a").dataType === reused("b").dataType)
  }
}
