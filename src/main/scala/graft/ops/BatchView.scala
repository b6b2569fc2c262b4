package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Day-partitioned "batch view" writer/reader (SURVEY.md §2.1 K1-K3, §1).
  *
  * The reference materializes each day by constructing the partition path
  * manually and overwriting it (reference: SyncView.scala:87-103, with the
  * rationale comment at :88-98 — `partitionBy` in Spark 2 couldn't
  * overwrite a single day). Spark 3+ dynamic partition overwrite replaces
  * that trick: `partitionBy(dayCol)` + `partitionOverwriteMode=dynamic`
  * rewrites ONLY the partitions present in the incoming data — same
  * idempotent re-run semantics, no path arithmetic.
  *
  * Scale settings baked in:
  *  - `maxRecordsPerFile` bounds file size instead of `repartition(1)`
  *    (reference: MainEventsView.scala:59) — a single-task write is a
  *    scale bottleneck; AQE coalescing keeps file counts low without one;
  *  - `_SUCCESS` markers off via the output-committer config (reference
  *    deletes them post-hoc, MainEventsView.scala:65-66).
  */
object BatchView {

  /** Versioned view root: `<base>/<name>/v<version>`. */
  def viewPath(base: String, name: String, version: Int): String =
    s"$base/$name/v$version"

  /** `bloomFilterCols` writes a parquet BLOOM FILTER per listed column
    * (`parquet.bloom.filter.enabled#<col>`): point-lookup predicates on
    * those columns (`fp = 'x'`, `url_canon IN (...)` — the shape every
    * incremental-dedup probe takes) skip whole row groups whose filter
    * rules the value out, without any clustering requirement. Use for
    * high-cardinality keys where min/max stats are useless (hashes,
    * fingerprints); each filter is sized for 10⁶ distinct values per row
    * group. Files hold at most 5·10⁶ rows. */
  def write(df: DataFrame, base: String, name: String, version: Int,
            partitionCols: Seq[String], bloomFilterCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    // per-WRITE dynamic overwrite (the writer option takes precedence over
    // the session conf), so this call never leaks the mode into the shared
    // session — a later unrelated INSERT OVERWRITE keeps static semantics
    val w0 = df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", 5000000L)
      .option("compression", "snappy")
    val w = bloomFilterCols.foldLeft(w0) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", 1000000L)
    }
    w.partitionBy(partitionCols: _*)
      .parquet(viewPath(base, name, version))
  }

  /** Compact a parquet directory's small files — the operational answer
    * to streaming sinks and high-parallelism writes leaving thousands of
    * KB-sized files per partition (each one a scan task + a NameNode
    * entry at 100 TB). Reads the directory, repartitions to
    * `ceil(rows / targetRecordsPerFile)` tasks, writes to a sibling temp
    * dir, then atomically swaps via two FS renames. Content is
    * byte-for-byte the same rows; the swap window (old gone → new in
    * place) is the non-transactional-FS caveat, documented rather than
    * hidden — on object stores front this with a manifest or table
    * format. A leaf that is already one file of at most
    * `targetRecordsPerFile` rows is left untouched (nothing to split or
    * merge), and its row count comes from that file's parquet footer, so
    * such a leaf runs no Spark job. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
              targetRecordsPerFile: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir.stripSuffix("/") + "_compacting")
    val old = new Path(dir.stripSuffix("/") + "_precompact")
    // fail fast on leftovers from a crashed prior run: renaming onto an
    // existing path either no-ops (local FS) or NESTS src under dst
    // (HDFS), silently corrupting the layout — surface it instead
    require(!fs.exists(tmp) && !fs.exists(old),
      s"stale compaction dirs exist ($tmp / $old) — a prior run crashed " +
        "mid-swap; inspect and remove them before compacting")
    // a Hive-partitioned tree would be read WITH inferred partition
    // columns and rewritten flat (directory pruning destroyed); compact
    // each leaf partition directory instead
    val subdirs = fs.listStatus(new Path(dir))
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
    require(subdirs.isEmpty,
      s"$dir contains subdirectories (${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "compact leaf partition directories individually, not a partitioned root")
    def parquetFiles(p: String): Seq[Path] =
      fs.listStatus(new Path(p)).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
    def renameOrThrow(src: Path, dst: Path): Unit =
      require(fs.rename(src, dst), s"rename $src -> $dst failed")
    def footerRows(p: Path): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, fs.getConf))
      try reader.getRecordCount finally reader.close()
    }
    val files = parquetFiles(dir)
    val before = files.size
    // already compact: a rewrite would write back the same single file
    if (before == 1 && footerRows(files.head) <= targetRecordsPerFile)
      return (before, before)
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    df.repartition(nFiles).write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .option("compression", "snappy")
      .parquet(tmp.toString)
    renameOrThrow(new Path(dir), old)
    renameOrThrow(tmp, new Path(dir))
    if (!fs.delete(old, true))
      throw new java.io.IOException(
        s"compacted $dir but could not delete the pre-compaction copy $old")
    (before, parquetFiles(dir).size)
  }

  /** Walk a partitioned view root and [[compact]] each LEAF partition
    * directory — the partitioned answer to streaming sinks leaving
    * thousands of small files per day (each a scan task + a NameNode
    * entry at 100 TB), closing the gap [[compact]]'s partitioned-root
    * rejection opens. The directory layout (and so partition pruning)
    * is untouched: only the files WITHIN each leaf are rewritten, and
    * each leaf swap keeps [[compact]]'s fail-fast guards. Stale
    * `_compacting`/`_precompact` leftovers anywhere in the tree abort
    * BEFORE any leaf is touched (a crashed swap needs inspection, and
    * the walker must never compact a half-swapped temp dir as if it
    * were a partition). Returns `(leafPath, filesBefore, filesAfter)`
    * per leaf, leaves ordered by path. */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetRecordsPerFile: Long): Seq[(String, Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def isSwapDir(name: String): Boolean =
      name.endsWith("_compacting") || name.endsWith("_precompact")
    def walk(p: Path): (Seq[Path], Seq[Path]) = { // (leaves, stale swap dirs)
      val dirs = fs.listStatus(p)
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath)
      val (stale, real) = dirs.partition(d => isSwapDir(d.getName))
      if (real.isEmpty) (Seq(p), stale.toSeq)
      else {
        val sub = real.map(walk)
        (sub.flatMap(_._1).toSeq, stale.toSeq ++ sub.flatMap(_._2))
      }
    }
    val (leaves, stale) = walk(new Path(root))
    require(stale.isEmpty,
      s"stale compaction dirs under $root (${stale.take(3).mkString(", ")}…) — " +
        "a prior run crashed mid-swap; inspect and remove them first")
    leaves.sortBy(_.toString).map { leaf =>
      val (before, after) = compact(spark, leaf.toString, targetRecordsPerFile)
      (leaf.toString, before, after)
    }
  }

  /** Read a view; partition-column predicates prune directories via
    * Catalyst (`PruneFileSourcePartitions`) — the Spark-native form of the
    * reference's path-constructed day reads. */
  def read(spark: SparkSession, base: String, name: String, version: Int,
           mergeSchema: Boolean = false): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(viewPath(base, name, version))

  /** Write a hash-bucketed (optionally per-bucket-sorted) catalog table.
    *
    * Bucketing is the 100 TB answer to REPEATEDLY joined or aggregated big
    * tables: pay the partitioning shuffle once at write time, and every
    * later equi-join or groupBy on `bucketCols` between tables bucketed
    * the same way (same cols, same count) runs with NO exchange — the
    * scans themselves deliver co-partitioned data. The reference's
    * incremental-dedupe pattern (a growing history anti-joined against
    * each day's increment, PioneerOnlineNewsDedupe.scala:114-117) is the
    * canonical use: store history bucketed by the natural key and the
    * daily anti-join stops re-shuffling terabytes of history every run.
    *
    * Bucket metadata lives in the session catalog (`saveAsTable`), not
    * the parquet files — plain path reads don't see it. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Day-partitioned AND hash-bucketed catalog table — the home for
    * grow-forever incremental-STATE artifacts (paragraph fingerprints,
    * containment document frequencies): states
    * accumulate as per-day partials, each day idempotently re-runnable
    * (dynamic overwrite rewrites ONLY that day's partition, inside the
    * table's bucket layout), and every read-back merge on the bucket key
    * plans exchange-free because the multi-day scan itself delivers
    * `HashPartitioning(bucketCols)` — the "union" of days is the file
    * scan, never a DataFrame union (Union discards its children's
    * partitioning, which is what makes the naive union+groupBy merge
    * re-shuffle the full history every run). */
  def writeDayBucketed(df: DataFrame, table: String, dayCol: String,
                       bucketCols: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      df.write.format("parquet")
        .partitionBy(dayCol)
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(table)
    } else {
      // insertInto matches columns by POSITION with partition cols LAST.
      // The dynamic-overwrite mode must be the SESSION conf here: the
      // per-write option is only read on the path-based writer, and the
      // static default would truncate every other day's partials
      import org.apache.spark.sql.functions.col
      val cols = df.columns.filterNot(_ == dayCol).map(col).toSeq :+ col(dayCol)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "dynamic")
      try df.select(cols: _*).write.mode("overwrite").insertInto(table)
      finally spark.conf.set(key, prev)
    }
  }
}
