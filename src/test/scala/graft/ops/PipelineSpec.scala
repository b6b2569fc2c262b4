package graft.ops

import java.nio.file.Files
import java.time.{Clock, Instant, ZoneOffset}

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.time.TimeNorm
import graft.multimodal.BinaryOps

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("date helpers: datesBetween, yesterday, epochMillisToDay") {
    val fixed = Clock.fixed(Instant.parse("2018-06-10T03:00:00Z"), ZoneOffset.UTC)
    assert(TimeNorm.datesBetween("20180607", None, fixed)
      === Seq("20180607", "20180608", "20180609"))
    assert(TimeNorm.yesterdayAsYYYYMMDD(fixed) === "20180609")
    val day = Seq(1528394400000L).toDF("ms")
      .select(TimeNorm.epochMillisToDay(col("ms"))).as[String].head()
    assert(day === "20180607")
    // F6 round-trip: session-start ISO string -> epoch millis
    val ms = Seq("2018-06-07T18:00:00.0+00:00").toDF("iso")
      .select(TimeNorm.isoToEpochMillis(col("iso"))).as[Long].head()
    assert(ms === 1528394400000L)
    val msOff = Seq("2018-06-07T20:00:00.0+02:00").toDF("iso")
      .select(TimeNorm.isoToEpochMillis(col("iso"))).as[Long].head()
    assert(msOff === 1528394400000L) // offset respected, same instant
  }

  test("Comparator: detects row and column differences") {
    val left = Seq((1, "a"), (2, "b"), (3, null.asInstanceOf[String])).toDF("id", "v")
    val right = Seq((1, "a"), (4, "d")).toDF("id", "v")
    val r = Comparator.compare(left, right)
    assert(r.leftCount === 3 && r.rightCount === 2)
    assert(r.rowsOnlyLeft === 2 && r.rowsOnlyRight === 1)
    assert(r.nullCountsLeft("v") === 1 && !r.same)
    val same = Comparator.compare(left, left)
    assert(same.same)
    val extraCol = Comparator.compare(left, left.withColumn("x", lit(1)))
    assert(extraCol.columnsOnlyRight === Seq("x"))
    // rows differing ONLY in which column is null must not hash-collide
    // (xxhash64 skips nulls; the isnull interleave disambiguates)
    val nl = Seq((Option(1), Option.empty[Int])).toDF("a", "b")
    val nr = Seq((Option.empty[Int], Option(1))).toDF("a", "b")
    val nullSwap = Comparator.compare(nl, nr)
    assert(nullSwap.rowsOnlyLeft === 1 && nullSwap.rowsOnlyRight === 1)
    // the 1-row report surfaces per-column null counts (reference
    // DatasetComparator includes them in its JSON report)
    val rep = Comparator.compareToDF(spark, left, right).head()
    assert(rep.getAs[String]("nulls_left") === "v=1")
    assert(rep.getAs[String]("nulls_right") === "")
    // multiplicity-only differences are NOT "same" (EXCEPT is distinct-
    // based and blind to [X,X,Y] vs [X,Y,Y])
    val ml = Seq(1, 1, 2).toDF("v")
    val mr = Seq(1, 2, 2).toDF("v")
    val mult = Comparator.compare(ml, mr)
    assert(mult.rowsOnlyLeft === 0 && mult.rowsOnlyRight === 0 && !mult.same)
    // empty vs empty: same, not a crash
    assert(Comparator.compare(ml.limit(0), mr.limit(0)).same)
  }

  test("bucketChecksums/checksumDiff: drift localizes to its buckets") {
    import spark.implicits._
    val base = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "payload")
    val bucket = pmod(col("id"), lit(8L))
    // identical copies: every bucket consistent
    val same = Comparator.checksumDiff(
        Comparator.bucketChecksums(base, bucket),
        Comparator.bucketChecksums(base, bucket))
      .as[(Long, Long, Long, Boolean)].collect()
    assert(same.length === 8 && same.forall(_._4))
    // one modified row (same count!) + one deleted row flip EXACTLY
    // their buckets: id 13 → bucket 5 modified, id 16 → bucket 0 gone
    val drifted = base
      .withColumn("payload", when(col("id") === 13L, lit("MUT"))
        .otherwise(col("payload")))
      .where(col("id") =!= 16L)
    val got = Comparator.checksumDiff(
        Comparator.bucketChecksums(base, bucket),
        Comparator.bucketChecksums(drifted, bucket))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.filterNot(_._4).map(_._1).toSeq === Seq(0L, 5L))
    val b0 = got.find(_._1 === 0L).get
    assert(b0._2 === 50L && b0._3 === 49L) // the delete shows in counts
    val b5 = got.find(_._1 === 5L).get
    assert(b5._2 === b5._3) // the mutation does NOT — only the checksum
    // a bucket present on one side only reports 0-vs-n, inconsistent
    val extra = Comparator.checksumDiff(
        Comparator.bucketChecksums(base.where(col("id") < 100L), bucket),
        Comparator.bucketChecksums(
          base.withColumn("id", col("id") + 1000L), lit(99L)))
      .as[(Long, Long, Long, Boolean)].collect()
    val lone = extra.find(_._1 === 99L).get
    assert(lone._2 === 0L && lone._3 === 400L && !lone._4)
  }

  test("BatchView: dynamic partition overwrite rewrites only incoming days") {
    val base = SparkSpec.tempDir("graft_bv").toString
    val day1 = Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("id", "day")
    BatchView.write(day1, base, "t", 1, Seq("day"))
    // overwrite ONLY d2 with new content; d1 must survive
    val day2 = Seq((9L, "d2")).toDF("id", "day")
    BatchView.write(day2, base, "t", 1, Seq("day"))
    val back = BatchView.read(spark, base, "t", 1)
    assert(back.where(col("day") === "d1").count() === 2)
    assert(back.where(col("day") === "d2").select("id").as[Long].collect().toSeq === Seq(9L))
    // no _SUCCESS markers
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/t/v1/_SUCCESS")))
  }

  test("dynamic partition pruning reaches the day-partitioned scan") {
    // the 100 TB star-join shape: fact partitioned by day, dim filtered
    // on an attribute — the day set to scan is only known at runtime,
    // and DPP must push it into the fact scan's partition filters
    // (without it, a dim-filtered join reads every day)
    val base = SparkSpec.tempDir("graft_dpp").toString
    val fact = (1 to 300).map(i => (i.toLong, s"d${i % 3}"))
      .toDF("id", "day")
    BatchView.write(fact, base, "f", 1, Seq("day"))
    Seq(("d0", "keep"), ("d1", "drop"), ("d2", "drop"))
      .toDF("day", "tag").write.parquet(s"$base/dim")
    val dim = spark.read.parquet(s"$base/dim")
    val joined = BatchView.read(spark, base, "f", 1)
      .join(dim.where(col("tag") === "keep"), Seq("day"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-pruning partition filter on the fact scan:\n$plan")
    assert(joined.count() === 100L)
  }

  test("BinaryOps: stub decode plumbing produces stable metadata + frame sampling") {
    val df = Seq((1L, "hello world"), (2L, "other payload")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("content"))
    val meta = BinaryOps.withMediaMeta(df, "id", "content")
    val r1 = meta.orderBy("id").select("media_meta.byte_len", "media_meta.format").head()
    assert(r1.getLong(0) === 11L)
    // deterministic: same input → same format on re-run
    val r2 = meta.orderBy("id").select("media_meta.format").head().getString(0)
    assert(r1.getString(1) === r2)
    val frames = BinaryOps.sampleFrames(meta, everyK = 10)
    assert(frames.where(col("id") === 1).count() ===
      (meta.where(col("id") === 1).select("media_meta.n_frames").head().getInt(0) + 9) / 10)
  }

  test("BinaryOps: feature extraction + resize stubs are deterministic and typed") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "different")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("content"))
    val feats = BinaryOps.extractFeatures(df, "content", dim = 6)
    val rows = feats.orderBy("id").select("features").collect()
      .map(_.getSeq[Float](0))
    assert(rows.forall(_.length === 6))
    assert(rows.forall(_.forall(f => f >= 0f && f < 1f)))
    assert(rows(0) === rows(1))   // same payload -> same embedding
    assert(rows(0) !== rows(2))
    val resized = BinaryOps.resizeStub(df, "content", 64, 48).orderBy("id")
      .select("resized", "target_width", "target_height").collect()
    assert(resized.forall(_.getAs[Array[Byte]](0).length === 16)) // md5 "thumbnail"
    assert(resized.head.getInt(1) === 64 && resized.head.getInt(2) === 48)
    assert(resized(0).getAs[Array[Byte]](0).toSeq === resized(1).getAs[Array[Byte]](0).toSeq)
  }

  test("bucketed tables co-locate: equi-join and groupBy run with NO shuffle") {
    val left = (1L to 200L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (150L to 350L).map(i => (i, s"r$i")).toDF("k", "rv")
    BatchView.writeBucketed(left, "bkt_left", Seq("k"), 4, sortCols = Seq("k"))
    BatchView.writeBucketed(right, "bkt_right", Seq("k"), 4, sortCols = Seq("k"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(joined.count() === 51L)
      // shuffles print as "Exchange hashpartitioning" (class
      // ShuffleExchangeExec); broadcast exchanges print "BroadcastExchange"
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange hashpartitioning"),
        s"bucketed equi-join must not shuffle:\n$joinPlan")
      val agged = spark.table("bkt_left").groupBy("k").count()
      assert(agged.count() === 200L)
      val aggPlan = agged.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"bucketed groupBy must not shuffle:\n$aggPlan")
      // sanity: the same join over plain (unbucketed) frames DOES shuffle
      val plain = left.join(right, "k")
      plain.count()
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("bucketed history index feeds the incremental join with no history-side shuffle") {
    // the 100 TB story for incremental dedupe, verified at the plan level:
    // persist historyJaccardIndex's artifacts bucketed by the shingle hash,
    // and the per-batch join's full-history stages (df lookup, prefix join)
    // read them IN PLACE — only the batch side shuffles. Forced-SMJ config
    // so tiny test tables can't trivially pass via broadcast.
    import graft.dedup.Dedup
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val hist = Seq((2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "one two three four five six seven"),
      (8L, "totally disjoint history content words here")).toDF("doc_id", "text")
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven"),
      (5L, "unrelated words entirely novel now")).toDF("doc_id", "text")
    val histRows = Dedup.shingleRows(hist, "text", "doc_id", Nil, 3)
    val (hDf, hPrefix) = Dedup.historyJaccardIndex(histRows, "doc_id", 0.5)
    BatchView.writeBucketed(histRows, "hist_idx", Seq("g"), 4, sortCols = Seq("g"))
    BatchView.writeBucketed(hDf, "hist_df", Seq("g"), 4, sortCols = Seq("g"))
    BatchView.writeBucketed(hPrefix, "hist_prefix", Seq("g"), 4, sortCols = Seq("g"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan audit
    try {
      val joined = Dedup.ngramJaccardJoinPrebuilt(
        Dedup.shingleRows(batch, "text", "doc_id", Nil, 3),
        spark.table("hist_idx"), spark.table("hist_df"),
        spark.table("hist_prefix"), "doc_id", 0.5)
      // results first: bucketed round-trip changes nothing
      val got = joined.select("id_l", "id_r").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 2L), (3L, 6L)))
      // plan: the hist_df / hist_prefix scans — the stages that touch ALL
      // of history every batch — must feed their consuming join IN PLACE:
      // walking up from each scan, no ShuffleExchange may appear before
      // the first join node. (Shuffles ABOVE the joins move batch-bounded
      // candidate data and are fine; the verify stage's hist_idx side
      // streams exchange-free at scale only via AQE broadcasting the
      // candidates, so it is not asserted under this forced-SMJ config.)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinNode}
      val plan = joined.queryExecution.executedPlan
      def pathToScan(p: SparkPlan, t: String): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec =>
          if (f.tableIdentifier.exists(_.table == t)) Some(List(p)) else None
        case _ => p.children.view.flatMap(c => pathToScan(c, t)).headOption
          .map(p :: _)
      }
      Seq("hist_df", "hist_prefix").foreach { t =>
        val path = pathToScan(plan, t)
        assert(path.nonEmpty, s"plan must read bucketed table $t")
        // from the scan upward: nodes below the first join
        val belowJoin = path.get.reverse.takeWhile(!_.isInstanceOf[JoinNode])
        val shuffled = belowJoin.filter(_.isInstanceOf[ShuffleExchangeExec])
        assert(shuffled.isEmpty,
          s"bucketed $t must reach its join without an exchange, found: " +
            shuffled.map(_.nodeName).mkString(", ") + s"\n$plan")
      }
      // sanity: the walk isn't vacuous — the batch side DOES shuffle
      assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      Seq("hist_idx", "hist_df", "hist_prefix").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bucketed gram index feeds the incremental substring dedup with no history-side shuffle") {
    // same discipline as the PPJoin history index, for ExactSubstr: the
    // distinct-gram state persisted bucketed by `g` must reach its join
    // IN PLACE — only the batch side shuffles per day
    import graft.text.SubstringDedup
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val hist = Seq((2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally different history words here now")).toDF("doc_id", "text")
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
      (3L, "novel batch content nothing shared at all")).toDF("doc_id", "text")
    BatchView.writeBucketed(
      SubstringDedup.gramIndex(hist, "text", "doc_id", 3),
      "gram_idx", Seq("g"), 4, sortCols = Seq("g"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = SubstringDedup.substringDedupAgainstHistory(
        batch, spark.table("gram_idx"), "text", "doc_id", 3)
      // results first: doc 1's shared prefix span is removed, doc 3 intact
      val got = out.select("doc_id", "n_removed")
        .as[(Long, Int)].collect().toMap
      assert(got(1L) > 0 && got(3L) === 0)
      // plan: walking up from the bucketed scan, no exchange before the
      // first join (the scan's bucketing IS the join distribution)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinNode}
      val plan = out.queryExecution.executedPlan
      def pathToScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec =>
          if (f.tableIdentifier.exists(_.table == "gram_idx")) Some(List(p)) else None
        case _ => p.children.view.flatMap(pathToScan).headOption.map(p :: _)
      }
      val path = pathToScan(plan)
      assert(path.nonEmpty, s"plan must read bucketed table gram_idx:\n$plan")
      val belowJoin = path.get.reverse.takeWhile(!_.isInstanceOf[JoinNode])
      assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"bucketed gram_idx must reach its join without an exchange:\n$plan")
      // the walk isn't vacuous: the batch side DOES shuffle
      assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS gram_idx")
    }
  }

  test("two-day runbook: every history artifact survives parquet and the filesystem") {
    import graft.dedup.Dedup
    import graft.text.Corpus
    val dir = SparkSpec.tempDir("graft_runbook").toString
    val stop = Seq("the", "a")
    def doc(i: Int, body: String) = (i.toLong, body)
    val day1 = Seq(
      doc(1, (1 to 15).map(i => s"alpha$i").mkString(" ")),
      doc(2, (1 to 15).map(i => s"beta$i").mkString(" ") + "\n\nshared boilerplate para"),
      doc(3, (1 to 12).map(i => s"gamma$i").mkString(" "))).toDF("doc_id", "text")
    val day2 = Seq(
      doc(11, (1 to 15).map(i => s"alpha$i").mkString(" ")),       // exact dup of 1
      doc(12, (1 to 14).map(i => s"beta$i").mkString(" ") + " x"), // near-dup of 2
      doc(13, (1 to 13).map(i => s"delta$i").mkString(" ") + "\n\nshared boilerplate para"),
      doc(14, (1 to 12).map(i => s"epsilon$i").mkString(" "))).toDF("doc_id", "text")

    // ── day 1: build + PERSIST every artifact the daily cycle needs ──
    val idx = Corpus.buildHistoryIndex(day1, "text", "doc_id", n = 3, threshold = 0.5)
    idx.fingerprints.write.parquet(s"$dir/fps")
    idx.shingles.write.parquet(s"$dir/shingles")
    idx.df.write.parquet(s"$dir/df")
    idx.prefix.write.parquet(s"$dir/prefix")
    Dedup.paragraphFps(day1, "text", "doc_id").write.parquet(s"$dir/para_fps")
    Files.write(java.nio.file.Paths.get(s"$dir/bloom.bin"),
      Dedup.keyBloom(day1.select(graft.text.TextOps.fingerprint($"text").as("fp")),
        col("fp"), expectedItems = 3))

    // ── day 2: read back, run the batch against cold artifacts only ──
    val cold = Corpus.HistoryIndex(
      spark.read.parquet(s"$dir/fps"), spark.read.parquet(s"$dir/shingles"),
      spark.read.parquet(s"$dir/df"), spark.read.parquet(s"$dir/prefix"))
    val flags = Corpus.cleanIncrementalPrebuilt(day2, cold, "text", "doc_id", stop)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(flags === Map(11L -> false, 12L -> false, 13L -> true, 14L -> true))
    // bloom pre-filter from the persisted bytes agrees on the exact dup
    val bloom = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/bloom.bin"))
    val b2 = day2.withColumn("fp", graft.text.TextOps.fingerprint($"text"))
    val survivors = Dedup.bloomAntiJoin(b2,
        spark.read.parquet(s"$dir/fps"), "fp", bloom, confirm = true)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(12L, 13L, 14L)) // only 11 is an exact dup
    // paragraph history drops the shared boilerplate from doc 13
    val para = Dedup.paragraphDedupeIncremental(day2,
        spark.read.parquet(s"$dir/para_fps"), "text", "doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(!para(13L).contains("shared boilerplate"))
    assert(para(14L).nonEmpty)
  }

  test("BinaryOps: javax.imageio decodes real PNG headers; junk yields null fields") {
    val img = new java.awt.image.BufferedImage(17, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray
    val df = Seq((1L, png), (2L, "not an image at all".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "content")
    val out = BinaryOps.withImageMeta(df, "id", "content")
      .select(col("id"), col("media_meta")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    val pngMeta = out(1L)
    assert(pngMeta.getLong(0) === png.length.toLong)
    assert(pngMeta.getString(1) === "png")
    assert(pngMeta.getInt(2) === 17 && pngMeta.getInt(3) === 9)
    assert(pngMeta.getInt(4) === 1)
    // unrecognized payload: byte_len recorded, codec fields null, no error
    val junkMeta = out(2L)
    assert(junkMeta.getLong(0) === 19L && junkMeta.isNullAt(1) &&
      junkMeta.isNullAt(2) && junkMeta.isNullAt(3))
    assert(out(3L) === null) // null payload -> null struct, as the stub path
  }

  test("BinaryOps: javax.sound decodes real WAV headers; junk yields null fields") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 800 frames of 16-bit mono PCM at 8 kHz, written as a real WAV
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](1600)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 800),
      AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val df = Seq((1L, wav), (2L, "definitely not audio".getBytes("UTF-8")))
      .toDF("id", "content")
    val out = BinaryOps.withAudioMeta(df, "id", "content")
      .select(col("id"), col("audio_meta")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    val meta = out(1L)
    assert(meta.getLong(0) === wav.length.toLong)
    assert(meta.getString(1) === "wave")
    assert(meta.getFloat(2) === 8000f)
    assert(meta.getInt(3) === 1)
    assert(meta.getLong(4) === 800L)
    val junk = out(2L)
    assert(junk.getLong(0) === 20L && junk.isNullAt(1) && junk.isNullAt(2))
  }

  test("BinaryOps: real PNG-derived aHash features ANN-search end-to-end") {
    import java.awt.image.BufferedImage
    // deterministic painted rasters → real encoded PNGs
    def png(paint: (Int, Int) => Int, w: Int = 32, h: Int = 32): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, paint(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    def grey(v: Int) = (v << 16) | (v << 8) | v
    val gradientH = png((x, _) => grey(x * 8))              // left-dark → right-light
    val gradientHNoisy = png((x, y) =>                       // same, a few pixels flipped
      if ((x + y * 32) % 97 == 0) grey(255 - x * 8) else grey(x * 8))
    val gradientV = png((_, y) => grey(y * 8))              // rotated 90°: different layout
    val checker = png((x, y) => if (((x / 4) + (y / 4)) % 2 == 0) grey(230) else grey(20))
    val docs = Seq(
      (1L, gradientH), (2L, gradientHNoisy), (3L, gradientV), (4L, checker),
      (5L, "not an image".getBytes("UTF-8")))
      .toDF("img_id", "content")
    val featured = BinaryOps.withImageFeatures(docs, "content")
      .select(col("img_id"), col("features"), col("ahash"))
    val rows = featured.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Float](1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(rows(5L)._1 == null && rows(5L)._2.isEmpty, "junk bytes → null features")
    assert(rows(1L)._1.length === 64)
    // aHash: the noisy twin is Hamming-near its original, far from others
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(rows(1L)._2.get, rows(2L)._2.get) <= 4,
      "near-duplicate image must be Hamming-near on aHash")
    assert(ham(rows(1L)._2.get, rows(4L)._2.get) > 8,
      "unrelated image must be Hamming-far")
    // ANN end-to-end over the REAL features: query with image 1's vector,
    // nearest other image must be its noisy twin
    val q = rows(1L)._1.toSeq
    val top = graft.sim.Similarity.bruteForceTopK(
        featured.where(col("features").isNotNull && col("img_id") =!= 1L),
        "features", "img_id", q, k = 1)
      .select("img_id").head().getLong(0)
    assert(top === 2L, "ANN over PNG-derived features must surface the near-dup")
  }

  test("BinaryOps: synthRaster drives the real codecs with a replayable ahash") {
    val ids = (0L until 14L).toDF("doc_id")
    // real decode → luminance grid → average hash over the synthesized
    // ramp PNGs must equal the pure-integer model the oracle SQL replays
    val feat = BinaryOps.withImageFeatures(
        BinaryOps.synthRaster(ids, "doc_id", 8, 8), "content", grid = 8)
      .select(col("doc_id"), col("ahash"))
      .as[(Long, Long)].collect().toMap
    def model(id: Long): Long = {
      val a = 4 * ((id % 7).toInt + 1)
      (0 until 64).foldLeft(0L)((h, i) =>
        if ((a + 4 * i) % 256 >= 128) h | (1L << i) else h)
    }
    (0L until 14L).foreach(id => assert(feat(id) === model(id), s"id $id"))
    assert(feat.values.forall(_ >= 0L), "bit 63 must never set (oracle BIGINT)")
    assert(feat.values.toSet.size === 7, "7 distinct ramp rotations")
    // resize → header-decode round-trip: every resized payload is a
    // genuine 4×4 single-frame PNG under the real javax.imageio reader
    val meta = BinaryOps.withImageMeta(
        BinaryOps.resizeImage(
          BinaryOps.synthRaster(ids, "doc_id", 8, 8), "content", 4, 4),
        "doc_id", "resized")
      .select(col("media_meta.format"), col("media_meta.width"),
        col("media_meta.height"), col("media_meta.n_frames"))
      .as[(String, Int, Int, Int)].collect().toSeq
    assert(meta.size === 14)
    assert(meta.forall(_ == ("png", 4, 4, 1)), s"unexpected meta: ${meta.distinct}")
  }

  test("BinaryOps: resizeImage scales real rasters; junk and null degrade") {
    import java.awt.image.BufferedImage
    def grey(v: Int) = (v << 16) | (v << 8) | v
    // 32x32 horizontal gradient: left dark, right light
    val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) img.setRGB(x, y, grey(x * 8))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val df = Seq((1L, baos.toByteArray),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "content")
    val out = BinaryOps.resizeImage(df, "content", 8, 4)
      .select(col("id"), col("resized"), col("target_width"), col("target_height"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3))).toMap
    assert(out(2L)._1 == null && out(3L)._1 == null, "junk/null -> null resized")
    assert(out(1L)._2 === 8 && out(1L)._3 === 4)
    // the resized payload is a REAL image at the target dims, and the
    // gradient survives the scale: luminance strictly rises left->right
    val scaled = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L)._1))
    assert(scaled.getWidth === 8 && scaled.getHeight === 4)
    val lums = (0 until 8).map(x => scaled.getRGB(x, 2) & 0xff)
    assert(lums === lums.sorted, s"gradient lost in resize: $lums")
    assert(lums.last - lums.head > 100, s"gradient flattened: $lums")
  }

  test("BinaryOps: extractImageFrames walks a real animated GIF") {
    import java.awt.image.BufferedImage
    // a 5-frame animated GIF, frame i uniformly grey(40*i) — few colors,
    // so the GIF palette encodes each frame losslessly
    def frame(v: Int): BufferedImage = {
      // 16x16 >= the 8x8 feature grid, so every grid cell is populated
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      img
    }
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    for (i <- 0 until 5)
      w.writeToSequence(new javax.imageio.IIOImage(frame(40 * i), null, null), null)
    w.endWriteSequence(); w.dispose(); ios.close()
    val gif = baos.toByteArray
    val df = Seq((1L, gif), (2L, "junk bytes".getBytes("UTF-8")))
      .toDF("id", "content")
    val out = BinaryOps.extractImageFrames(df, "content", everyK = 2)
      .select(col("id"), col("n_frames"), col("frame_idx"), col("frame"))
      .collect()
    val junk = out.filter(_.getLong(0) == 2L)
    assert(junk.length === 1 && junk.head.isNullAt(1) && junk.head.isNullAt(3),
      "unrecognized payload -> one null-frame row")
    val sampled = out.filter(_.getLong(0) == 1L).sortBy(_.getInt(2))
    assert(sampled.map(_.getInt(2)).toSeq === Seq(0, 2, 4), "every-2nd frame")
    assert(sampled.forall(_.getInt(1) === 5), "n_frames from the real container")
    // each emitted frame is a decodable raster carrying ITS OWN frame's
    // pixels (grey 0 / 80 / 160), proving a genuine per-index read
    sampled.zip(Seq(0, 80, 160)).foreach { case (r, want) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](3)))
      assert(img.getWidth === 16 && img.getHeight === 16)
      val got = img.getRGB(7, 7) & 0xff
      assert(math.abs(got - want) <= 8, s"frame ${r.getInt(2)}: grey $got want ~$want")
    }
    // the real frame walk feeds the real feature extractor end-to-end
    val feats = BinaryOps.withImageFeatures(
        BinaryOps.extractImageFrames(df.where(col("id") === 1L), "content", 2), "frame")
      .where(col("features").isNotNull)
      .select(col("frame_idx"), col("features")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(feats.keySet === Set(0, 2, 4))
    // uniform frames: every grid cell equals the frame's grey level
    assert(feats(4).forall(f => math.abs(f - 160f / 255f) < 0.05))
  }

  test("BatchView.write plants parquet bloom filters on the listed columns") {
    val dir = SparkSpec.tempDir("graft_bloom_view").toString
    val df = (1L to 500L)
      .map(i => (i, org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString), "d1"))
      .toDF("doc_id", "fp", "day").coalesce(1)
    BatchView.write(df, dir, "docs", 1, Seq("day"),
      bloomFilterCols = Seq("fp"))
    val files = new java.io.File(s"$dir/docs/v1/day=d1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(files.head.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = reader.getRowGroups.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val byName = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
      // bloom filter present exactly on the listed column
      assert(byName("fp").getBloomFilterOffset >= 0, "fp bloom missing")
      assert(byName("doc_id").getBloomFilterOffset < 0, "unexpected bloom")
      // and it answers membership: a written key hits, a foreign key
      // (overwhelmingly) misses
      val bf = reader.readBloomFilter(byName("fp"))
      def hit(s: String): Boolean =
        bf.findHash(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
      assert(hit(org.apache.commons.codec.digest.DigestUtils.md5Hex("7")))
      assert(!hit("not-a-fingerprint-in-this-view"))
    } finally reader.close()
  }

  test("BatchView.compact collapses small files, preserves rows, keeps sorted layout") {
    val dir = SparkSpec.tempDir("graft_compact").toString + "/t"
    val rows = (0L until 500L).map(i => (i, s"v$i"))
    // a deliberately fragmented write: many tiny files
    rows.toDF("k", "v").repartition(25).write.parquet(dir)
    val (before, after) = BatchView.compact(spark, dir, targetRecordsPerFile = 250L)
    assert(before >= 20)
    assert(after == 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == 500L)
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      rows.sortBy(_._1).toSeq)
    // idempotent: compacting an already-compact dir keeps 2 files
    val (b2, a2) = BatchView.compact(spark, dir, 250L)
    assert(b2 == 2 && a2 == 2)
  }

  private def parquetFileNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq

  test("BatchView.compact leaves a one-file leaf within target untouched") {
    val dir = SparkSpec.tempDir("graft_compact_noop").toString + "/t"
    val rows = (0L until 50L).map(i => (i, s"v$i"))
    rows.toDF("k", "v").coalesce(1).write.parquet(dir)
    val files = parquetFileNames(dir)
    assert(files.size == 1)
    // 50 rows <= 250: nothing to split or merge, and the footer's row
    // count answers that without a Spark job
    var result = (0, 0)
    assert(jobsOf { result = BatchView.compact(spark, dir, 250L) } == 0)
    assert(result === ((1, 1)))
    assert(parquetFileNames(dir) === files, "an already-compact leaf must not be rewritten")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq === rows)
  }

  test("BatchView.compact still splits a one-file leaf over target") {
    val dir = SparkSpec.tempDir("graft_compact_split").toString + "/t"
    val rows = (0L until 500L).map(i => (i, s"v$i"))
    rows.toDF("k", "v").coalesce(1).write.parquet(dir)
    val (before, after) = BatchView.compact(spark, dir, 200L)
    assert(before == 1 && after == 3)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq === rows)
  }

  test("BatchView.compact fails fast on stale swap dirs and on partitioned roots") {
    val base = SparkSpec.tempDir("graft_compact_guard").toString
    val dir = base + "/t"
    (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(5).write.parquet(dir)
    // a leftover _precompact from a crashed run must abort BEFORE any
    // rewrite — rename onto it would nest or no-op and corrupt the layout
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir + "_precompact"))
    val e1 = intercept[IllegalArgumentException] {
      BatchView.compact(spark, dir, 250L)
    }
    assert(e1.getMessage.contains("stale compaction dirs"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir + "_precompact"))
    // sanity: guard gone, compact proceeds
    assert(BatchView.compact(spark, dir, 250L)._2 == 1)

    // a Hive-partitioned root must be rejected: the rewrite would emit
    // partition columns as data columns in a flat tree
    val pdir = base + "/p"
    (0L until 50L).map(i => (i, i % 3, s"v$i")).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(pdir)
    val e2 = intercept[IllegalArgumentException] {
      BatchView.compact(spark, pdir, 250L)
    }
    assert(e2.getMessage.contains("subdirectories"))
    // leaf partition directories compact fine
    assert(BatchView.compact(spark, pdir + "/day=0", 250L)._2 == 1)
  }

  test("BatchView.compactPartitioned walks leaves: fewer files, same rows, pruning intact") {
    val base = SparkSpec.tempDir("graft_compact_part").toString
    // a 2-day partitioned view written FRAGMENTED (the streaming-sink
    // small-file shape: many tiny files per day)
    val rows = (0L until 400L).map(i => (i, s"d${i % 2}", s"v$i"))
    rows.toDF("k", "day", "v").repartition(20)
      .write.partitionBy("day").parquet(s"$base/t")
    val results = BatchView.compactPartitioned(spark, s"$base/t",
      targetRecordsPerFile = 200L)
    assert(results.map(_._1.stripPrefix("file:")).sorted ===
      Seq(s"$base/t/day=d0", s"$base/t/day=d1"))
    results.foreach { case (leaf, before, after) =>
      assert(before >= 15, s"$leaf not fragmented before")
      assert(after == 1, s"$leaf not compacted")
    }
    // directory layout unchanged → partition pruning still applies, and
    // content is byte-identical
    val back = spark.read.parquet(s"$base/t")
    assert(back.count() === 400L)
    assert(back.select("k", "day", "v").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq === rows.sortBy(_._1))
    val pruned = back.where(col("day") === "d1")
    assert(pruned.count() === 200L)
    val scanned = pruned.select(
      org.apache.spark.sql.functions.input_file_name()).distinct()
      .as[String].collect()
    assert(scanned.length === 1 && scanned.head.contains("day=d1"),
      s"day predicate must prune to the one d1 file: ${scanned.toSeq}")

    // a stale swap dir ANYWHERE in the tree aborts before touching leaves
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$base/t/day=d0_precompact"))
    val e = intercept[IllegalArgumentException] {
      BatchView.compactPartitioned(spark, s"$base/t", 200L)
    }
    assert(e.getMessage.contains("stale compaction dirs"))
  }

  test("BatchView.write no longer leaks dynamic overwrite into the session conf") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "static")
      val base = SparkSpec.tempDir("graft_bv_conf").toString
      BatchView.write(Seq((1L, "d1")).toDF("id", "day"), base, "t", 1, Seq("day"))
      assert(spark.conf.get(key) === "static",
        "per-write option must not mutate the session conf")
      // and the write itself still overwrote dynamically: a second write
      // of d2 only must keep d1
      BatchView.write(Seq((2L, "d2")).toDF("id", "day"), base, "t", 1, Seq("day"))
      assert(BatchView.read(spark, base, "t", 1).count() === 2L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
