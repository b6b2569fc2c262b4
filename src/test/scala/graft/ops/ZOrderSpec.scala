package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Reference bit-by-bit Morton interleave (31 bits per dimension). */
  private def morton(a: Long, b: Long): Long = {
    val (x, y) = (a & 0x7FFFFFFFL, b & 0x7FFFFFFFL)
    (0 until 31).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }
  }

  test("zorderKey matches the bit-by-bit reference interleave") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (2147483647L, 2147483647L), (123456789L, 987654321L),
      // wider-than-31-bit and negative inputs bin by their low 31 bits
      (1L << 40, 7L), (-1L, 2L))
    val got = pts.toDF("a", "b")
      .select(ZOrder.zorderKey(col("a"), col("b"))).as[Long].collect()
    got.zip(pts).foreach { case (z, (a, b)) =>
      assert(z === morton(a, b), s"($a,$b)")
      assert(z >= 0L, s"sign bit leaked for ($a,$b)")
    }
  }

  test("zorderKey3 matches the bit-by-bit 3-way reference interleave") {
    def morton3(a: Long, b: Long, c: Long): Long = {
      val (x, y, z) = (a & 0x1fffffL, b & 0x1fffffL, c & 0x1fffffL)
      (0 until 21).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (3 * i)) |
          (((y >> i) & 1L) << (3 * i + 1)) |
          (((z >> i) & 1L) << (3 * i + 2))
      }
    }
    val pts = Seq((0L, 0L, 0L), (1L, 2L, 4L), (0x1fffffL, 0x1fffffL, 0x1fffffL),
      (12345L, 67890L, 13579L), (1L << 30, 3L, -1L))
    val got = pts.toDF("a", "b", "c")
      .select(ZOrder.zorderKey3(col("a"), col("b"), col("c")))
      .as[Long].collect()
    got.zip(pts).foreach { case (z, (a, b, c)) =>
      assert(z === morton3(a, b, c), s"($a,$b,$c)")
      assert(z >= 0L)
    }
  }

  test("written z-ordered files carry box-prunable min/max stats on both dims") {
    // the actual artifact check: write the clustered layout as parquet,
    // read each file's FOOTER column statistics, and count files whose
    // [min,max] intervals intersect an 8×8 query box on BOTH dimensions —
    // that count is exactly the row groups a stats-pruning reader scans
    val dir = SparkSpec.tempDir("graft_zwrite").toString
    val df = (for { a <- 0L until 64L; b <- 0L until 64L } yield (a, b))
      .toDF("a", "b")
    ZOrder.cluster(df, "a", "b", 16).write.parquet(s"$dir/z")
    df.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"))
      .write.parquet(s"$dir/one")
    val conf = spark.sparkContext.hadoopConfiguration
    def fileRanges(sub: String): Seq[Map[String, (Long, Long)]] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            r.getRowGroups.asScala.flatMap(_.getColumns.asScala).toSeq
              .groupBy(_.getPath.toDotString).view.mapValues { cs =>
                val stats = cs.map(_.getStatistics)
                (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
                  stats.map(_.genericGetMax.asInstanceOf[Long]).max)
              }.toMap
          } finally r.close()
        }
    def boxFiles(ranges: Seq[Map[String, (Long, Long)]],
                 lo: Long, hi: Long): Int =
      ranges.count { m =>
        val (aLo, aHi) = m("a"); val (bLo, bHi) = m("b")
        aHi >= lo && aLo <= hi && bHi >= lo && bLo <= hi
      }
    // an empty output partition writes a file with no row groups
    val z = fileRanges("z").filter(_.nonEmpty)
    val one = fileRanges("one").filter(_.nonEmpty)
    assert(z.size >= 8 && one.size >= 8)
    // 8×8 box at (8..15)²: z-ordered stats confine it to a few files;
    // the a-sorted layout has tight a-stats but every candidate file
    // spans all of b, so b-stats never prune anything
    assert(boxFiles(z, 8, 15) <= 4, s"z: ${boxFiles(z, 8, 15)}/${z.size}")
    assert(one.forall { m => val (bLo, bHi) = m("b"); bLo == 0 && bHi == 63 },
      "one-dim layout should span all of b in every file")
  }

  test("cluster: disjoint per-partition Morton ranges, sorted within") {
    val df = (for { a <- 0L until 64L; b <- 0L until 64L } yield (a, b))
      .toDF("a", "b")
    val parts = ZOrder.cluster(df, "a", "b", numPartitions = 8)
      .select(ZOrder.zorderKey(col("a"), col("b")).as("z"))
      .select(spark_partition_id().as("p"), col("z"))
      .as[(Int, Long)].collect()
    // sorted within each partition (mapPartitions order == collect order
    // per partition id group, in arrival order)
    parts.groupBy(_._1).foreach { case (p, rows) =>
      val zs = rows.map(_._2).toSeq
      assert(zs === zs.sorted, s"partition $p not sorted")
    }
    // disjoint key ranges across partitions = tight per-file min/max
    val ranges = parts.groupBy(_._1).view
      .mapValues(r => (r.map(_._2).min, r.map(_._2).max)).toSeq
      .sortBy(_._2._1).map(_._2)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, "overlapping ranges")
      case _ =>
    }
    assert(ranges.size > 1)
  }

  test("Z-order layout skips row groups on BOTH dimensions") {
    // a 64×64 grid clustered into 16 'files': a small box query in (a,b)
    // must touch a small fraction of partitions under Z-order, while a
    // single-column sort layout touches NONE of the b-ranges (every file
    // spans all of b)
    val df = (for { a <- 0L until 64L; b <- 0L until 64L } yield (a, b))
      .toDF("a", "b")
    def touched(laid: org.apache.spark.sql.DataFrame): Int =
      laid.select(spark_partition_id().as("p"), col("a"), col("b"))
        .where(col("a").between(8, 15) && col("b").between(8, 15))
        .select("p").distinct().count().toInt
    val z = touched(ZOrder.cluster(df, "a", "b", 16))
    val oneDim = touched(
      df.repartitionByRange(16, col("a")).sortWithinPartitions(col("a")))
    // the 8×8 box is 1/64 of the grid: Z-order confines it to ≤ 4/16
    // partitions; the a-only layout needs every partition overlapping
    // a∈[8,15] (2 of 16) but EVERY such partition spans all of b — the
    // point is the z count stays small on both dims at once
    assert(z <= 4, s"z-order touched $z/16")
    assert(oneDim <= 4) // a-sort prunes a fine — but b-only boxes cannot:
    val bBox = ZOrder.cluster(df, "a", "b", 16)
      .select(spark_partition_id().as("p"), col("b"))
      .where(col("b").between(8, 15)).select("p").distinct().count().toInt
    val bBoxOneDim = df.repartitionByRange(16, col("a"))
      .sortWithinPartitions(col("a"))
      .select(spark_partition_id().as("p"), col("b"))
      .where(col("b").between(8, 15)).select("p").distinct().count().toInt
    assert(bBox < bBoxOneDim,
      s"z-order must beat a-sort on a b-only filter: $bBox vs $bBoxOneDim")
    assert(bBoxOneDim === 16) // the one-dim layout scans everything
  }
}
