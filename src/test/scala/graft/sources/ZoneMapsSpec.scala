package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** File-level zone maps ([[ZoneMaps]]): the manifest-pruned read must
  * (a) equal the plain filtered read exactly and (b) actually SKIP
  * files on a range-clustered layout — the property the oracle gate
  * (q193) can't see from row content alone. */
class ZoneMapsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    SparkSpec.tempDir("graft-zm").toString

  test("pruned read equals the filtered read and skips files") {
    val dir = tmp()
    (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "s")
      .repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(dir)
    val manifest = ZoneMaps.build(spark, dir, Seq("k"))
    val (total, kept) = ZoneMaps.pruneStats(manifest, "k", 100L, 220L)
    assert(total === 8L)
    assert(kept < total) // range layout → most zones disjoint from [100,220]
    val got = ZoneMaps.prunedRead(spark, dir, manifest, "k", 100L, 220L)
      .as[(Long, String)].collect().toSet
    val exp = spark.read.parquet(dir).where(col("k").between(100L, 220L))
      .as[(Long, String)].collect().toSet
    assert(got === exp)
    assert(got.size === 121)
  }

  test("all-null zones are skipped; nulls never match a range anyway") {
    val dir = tmp()
    val withK = (0L until 50L).map(i => (Some(i), s"a$i"))
    val nullK = (0 until 50).map(i => (None: Option[Long], s"b$i"))
    withK.toDF("k", "s").coalesce(1).write.mode("overwrite").parquet(dir)
    nullK.toDF("k", "s").coalesce(1).write.mode("append").parquet(dir)
    val manifest = ZoneMaps.build(spark, dir, Seq("k"))
    assert(manifest.count() === 2L)
    val (_, kept) = ZoneMaps.pruneStats(manifest, "k", 10L, 20L)
    assert(kept === 1L) // the all-null file's zone is (null, null): dropped
    val got = ZoneMaps.prunedRead(spark, dir, manifest, "k", 10L, 20L)
      .as[(Option[Long], String)].collect().toSet
    assert(got === withK.filter(r => r._1.get >= 10 && r._1.get <= 20).toSet)
  }

  test("an empty surviving list short-circuits with the table schema") {
    val dir = tmp()
    (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val manifest = ZoneMaps.build(spark, dir, Seq("k"))
    val got = ZoneMaps.prunedRead(spark, dir, manifest, "k", 5000L, 6000L)
    assert(got.columns.toSeq === Seq("k", "v"))
    assert(got.count() === 0L)
  }

  test("incremental update scans only new files and equals a rebuild") {
    val dir = tmp()
    (0L until 50L).map(i => (i, s"a$i")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val m1 = ZoneMaps.build(spark, dir, Seq("k"))
      .localCheckpoint(eager = true) // freeze before the append
    (50L until 120L).map(i => (i, s"b$i")).toDF("k", "s")
      .coalesce(1).write.mode("append").parquet(dir)
    val updated = ZoneMaps.update(spark, dir, m1, Seq("k"))
    val rebuilt = ZoneMaps.build(spark, dir, Seq("k"))
    assert(updated.orderBy("file").collect().toSeq ===
      rebuilt.orderBy("file").collect().toSeq)
    // update on an already-current manifest is the identity
    val again = ZoneMaps.update(spark, dir, updated.localCheckpoint(true),
      Seq("k"))
    assert(again.orderBy("file").collect().toSeq ===
      rebuilt.orderBy("file").collect().toSeq)
  }

  test("update drops manifest rows for files that disappeared") {
    val dir = tmp()
    (0L until 40L).map(i => (i, i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    (40L until 80L).map(i => (i, i)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val m1 = ZoneMaps.build(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    assert(m1.count() === 2L)
    // simulate compaction/retention: remove the file holding k<40
    val victim = m1.orderBy("k_min").select("file").collect()
      .head.getString(0)
    assert(new java.io.File(new java.net.URI(victim).getPath).delete())
    val updated = ZoneMaps.update(spark, dir, m1, Seq("k"))
    assert(updated.count() === 1L)
    assert(updated.select("k_min").collect().head.getLong(0) === 40L)
  }

  test("update fails loudly on a zone-schema mismatch") {
    val dir = tmp()
    (0L until 10L).map(i => (i, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val m = ZoneMaps.build(spark, dir, Seq("k"))
    val ex = intercept[IllegalArgumentException] {
      ZoneMaps.update(spark, dir, m, Seq("v"))
    }
    assert(ex.getMessage.contains("zone schema"))
  }

  test("partition-directory columns survive the pruned read") {
    val dir = tmp()
    (0L until 200L).map(i => (i, s"d${i % 2}")).toDF("k", "day")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val manifest = ZoneMaps.build(spark, dir, Seq("k"))
    val got = ZoneMaps.prunedRead(spark, dir, manifest, "k", 0L, 40L)
      .select(col("k"), col("day")).as[(Long, String)].collect().toSet
    val exp = (0L to 40L).map(i => (i, s"d${i % 2}")).toSet
    assert(got === exp)
  }
}
