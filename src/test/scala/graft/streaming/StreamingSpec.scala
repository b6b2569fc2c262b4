package graft.streaming

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.time.{Minutes, Span}
import graft.SparkSpec
import graft.ops.Relational

class StreamingSpec extends SparkSpec with TimeLimitedTests {
  import spark.implicits._

  // A wedged streaming query must FAIL the suite, not hang sbt test forever.
  override val timeLimit: Span = Span(5, Minutes)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  /** A file-source stream over a directory of parquet drops. */
  private def fileStream(path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Appends each drop to the parquet directory `path` in order and stamps
    * the files each drop adds with mtimes one second apart, ten seconds in
    * the past. The file source orders files — and `maxFilesPerTrigger`
    * admits them — by mtime, so the drops keep their order without waiting
    * out the filesystem's timestamp granularity, and files appended later
    * at real time still sort after them. */
  private def writeDrops(path: String, drops: DataFrame*): Unit = {
    val dir = new File(path)
    def files() = Option(dir.listFiles()).fold(Set.empty[File])(_.toSet)
    val base = System.currentTimeMillis() / 1000 * 1000 - 10000
    drops.zipWithIndex.foreach { case (df, i) =>
      val before = files()
      df.write.mode("append").parquet(path)
      (files() -- before).foreach(f => assert(f.setLastModified(base + 1000L * i)))
    }
  }

  test("file stream → windowed counts → memory sink (batch-driven)") {
    val dir = SparkSpec.tempDir("graft_stream").toString
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), "view", 3.0)
    ).toDF("ts", "event_type", "value")
    data.write.parquet(s"$dir/in")

    val stream = fileStream(s"$dir/in", data.schema)
    val agg = StreamingViews.windowedCounts(stream, "ts", "event_type")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wc").start()
    try {
      q.processAllAvailable()
      val out = spark.table("wc").select("event_type", "n").as[(String, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(out === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("sessionize folds events into per-user state and emits on watermark timeout") {
    val dir = SparkSpec.tempDir("graft_stream3").toString
    Seq(
      StreamingViews.SessionEvent(1L, 1000L, 2.0),
      StreamingViews.SessionEvent(1L, 2000L, 3.0),
      StreamingViews.SessionEvent(2L, 1500L, 7.0)
    ).toDF().write.parquet(s"$dir/in")
    val stream = fileStream(s"$dir/in",
      Seq(StreamingViews.SessionEvent(0L, 0L, 0.0)).toDF().schema)
      .as[StreamingViews.SessionEvent]
    val sessions = StreamingViews.sessionize(stream, gapMillis = 100L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      q.processAllAvailable() // batch 1: state for users 1, 2; watermark → 2000
      // sessions emit only once the watermark SEALS them (passes end+gap):
      // user 1's first session seals when the batch-1 watermark lands at
      // 2000; the rest need the watermark advanced past their gap — drop
      // a second file, deterministic, no wall-clock sleep.
      Seq(StreamingViews.SessionEvent(99L, 1000000L, 0.0))
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sess")
        .where(col("userId") < 99) // user 99 only advances the watermark
        .select("userId", "nEvents", "sumValue").as[(Long, Long, Double)]
        .collect().sortBy(r => (r._1, r._3)).toSeq
      var out = emitted()
      while (out.size < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100) // no-data micro-batch fires the event-time timeouts
        q.processAllAvailable()
        out = emitted()
      }
      assert(out === Seq((1L, 1L, 2.0), (1L, 1L, 3.0), (2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("sessionize closes out-of-order sessions instead of merging backwards") {
    // an event OLDER than the carried session's start by more than the gap
    // (admitted by a nonzero watermarkDelay) must close as its own earlier
    // session — not extend the open session backwards — so streaming
    // output matches a batch replay (Relational.sessionize) of the data
    val dir = SparkSpec.tempDir("graft_stream4").toString
    val batch1 = Seq(
      StreamingViews.SessionEvent(1L, 5000L, 1.0),
      StreamingViews.SessionEvent(1L, 5050L, 2.0))
    val batch2 = Seq(
      StreamingViews.SessionEvent(1L, 1000L, 7.0),  // 4000 ms BEFORE the open session
      StreamingViews.SessionEvent(1L, 5120L, 3.0))  // extends the open session
    batch1.toDF().write.parquet(s"$dir/in")
    val stream = fileStream(s"$dir/in",
      batch1.toDF().schema).as[StreamingViews.SessionEvent]
    val sessions = StreamingViews.sessionize(stream, gapMillis = 100L,
      watermarkDelay = "10 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_ooo").start()
    try {
      q.processAllAvailable() // batch 1: open session [5000, 5050]
      batch2.toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable() // batch 2: 1000 splits off; 5120 merges
      // close the surviving open session via the watermark
      Seq(StreamingViews.SessionEvent(99L, 100000000L, 0.0))
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sess_ooo")
        .where(col("userId") === 1L)
        .select("nEvents", "sumValue", "startMillis", "endMillis")
        .as[(Long, Double, Long, Long)].collect().toSet
      var out = emitted()
      while (out.size < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        out = emitted()
      }
      // batch replay of the same events through the batch operator
      val all = (batch1 ++ batch2).map(e => (e.userId, e.tsMillis, e.value))
        .toDF("userId", "tsMillis", "value")
      val replay = Relational.sessionize(all, Seq("userId"), "tsMillis", 100L)
        .groupBy(col("userId"), col("session_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
          min(col("tsMillis")).as("lo"), max(col("tsMillis")).as("hi"))
        .select("n", "s", "lo", "hi").as[(Long, Double, Long, Long)]
        .collect().toSet
      assert(out === replay)
      assert(out === Set((1L, 7.0, 1000L, 1000L), (3L, 6.0, 5000L, 5120L)))
    } finally q.stop()
  }

  test("streaming dedupe against static history drops known keys") {
    val dir = SparkSpec.tempDir("graft_stream5").toString
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "k1", "dup-of-history"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "k2", "new"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "k2", "new"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "k3", "new")
    ).toDF("ts", "key", "payload")
    data.write.parquet(s"$dir/in")
    val history = Seq("k1", "k9").toDF("key")
    val stream = fileStream(s"$dir/in", data.schema)
    val out = StreamingViews.streamingDedupeAgainstHistory(
      stream, history, "ts", Seq("key"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ddh").start()
    try {
      q.processAllAvailable()
      val keys = spark.table("ddh").select("key").as[String].collect().sorted
      assert(keys === Array("k2", "k3")) // k1 in history; k2 deduped to one
    } finally q.stop()
  }

  test("streaming bloom dedupe: history as a predicate, no stream-static join") {
    val dir = SparkSpec.tempDir("graft_stream_bloom").toString
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "k1", "dup-of-history"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "k2", "new"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "k2", "new"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "k3", "new")
    ).toDF("ts", "key", "payload")
    data.write.parquet(s"$dir/in")
    // the filter is built ONCE from history and shipped as bytes — the
    // stream never scans history (expectedItems oversized, so ~2¹⁶ bits,
    // and the deterministic test keys cannot false-positive)
    val bloom = graft.dedup.Dedup.keyBloom(
      Seq("k1", "k9").toDF("key"), org.apache.spark.sql.functions.struct($"key"),
      expectedItems = 1L << 12)
    val stream = fileStream(s"$dir/in", data.schema)
    val out = StreamingViews.streamingDedupeBloom(stream, bloom, "ts", Seq("key"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ddb").start()
    try {
      q.processAllAvailable()
      val keys = spark.table("ddb").select("key").as[String].collect().sorted
      assert(keys === Array("k2", "k3")) // k1 in history; k2 deduped in-stream
    } finally q.stop()
  }

  test("sessionize: streaming equals batch replay across random batch splits") {
    // the strongest property the state logic must hold: ANY partition of
    // the event stream into micro-batches (including out-of-order
    // deliveries within the watermark) must emit exactly the sessions a
    // batch replay computes. Seeded random data, deterministic.
    val rnd = new scala.util.Random(71L)
    for (round <- 1 to 2) {
      val gap = 50L + rnd.nextInt(100)
      val events = Seq.fill(24)(StreamingViews.SessionEvent(
        1L + rnd.nextInt(2), rnd.nextInt(2000).toLong, rnd.nextInt(10).toDouble))
        .distinctBy(e => (e.userId, e.tsMillis))
      val batches = rnd.shuffle(events).grouped(8).toSeq // arbitrary order+split
      val dir = SparkSpec.tempDir(s"graft_stream_rnd$round").toString
      batches.head.toDF().write.parquet(s"$dir/in")
      val stream = fileStream(s"$dir/in",
        batches.head.toDF().schema).as[StreamingViews.SessionEvent]
      val sessions = StreamingViews.sessionize(stream, gap,
        watermarkDelay = "1 hour") // admit every out-of-order delivery
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName(s"sess_rnd$round").start()
      try {
        q.processAllAvailable()
        batches.tail.foreach { b =>
          b.toDF().write.mode("append").parquet(s"$dir/in")
          q.processAllAvailable()
        }
        Seq(StreamingViews.SessionEvent(99L, 100000000000L, 0.0))
          .toDF().write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
        val replay = Relational.sessionize(
            events.map(e => (e.userId, e.tsMillis, e.value))
              .toDF("userId", "tsMillis", "value"),
            Seq("userId"), "tsMillis", gap)
          .groupBy(col("userId"), col("session_id"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
            min(col("tsMillis")).as("lo"), max(col("tsMillis")).as("hi"))
          .select("userId", "n", "s", "lo", "hi")
          .as[(Long, Long, Double, Long, Long)].collect().toSet
        def emitted() = spark.table(s"sess_rnd$round")
          .where(col("userId") < 99)
          .select("userId", "nEvents", "sumValue", "startMillis", "endMillis")
          .as[(Long, Long, Double, Long, Long)].collect().toSet
        val deadline = System.nanoTime() + 60L * 1000000000L
        var out = emitted()
        while (out.size < replay.size && System.nanoTime() < deadline) {
          Thread.sleep(100)
          q.processAllAvailable()
          out = emitted()
        }
        assert(out === replay, s"round $round gap=$gap")
      } finally q.stop()
    }
  }

  test("streaming dedupe keeps first occurrence per key") {
    val dir = SparkSpec.tempDir("graft_stream2").toString
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "k1", "first"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "k1", "first"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "k2", "other")
    ).toDF("ts", "key", "payload")
    data.write.parquet(s"$dir/in")

    val stream = fileStream(s"$dir/in", data.schema)
    val deduped = StreamingViews.streamingDedupe(stream, "ts", Seq("key"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dd").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dd").count() === 2)
    } finally q.stop()
  }

  test("streamingFilterByScore equals the batch LM filter once the watermark seals") {
    import graft.text.NgramLm
    val dir = SparkSpec.tempDir("graft_stream_lm").toString
    val modelDocs = Seq(
      (100L, "the fast scan the fast scan the fast scan"),
      (101L, "the fast scan runs the fast scan runs again")).toDF("doc_id", "text")
    val model = NgramLm.fit(modelDocs, "text")
    val onModel = "the fast scan runs"
    val offModel = "merge window stream plan"
    val b1 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L, onModel),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 2L, offModel)
    ).toDF("ts", "doc_id", "text")
    // a much-later doc advances the watermark past docs 1 and 2, sealing
    // their aggregates (with a 0s delay the final empty micro-batch seals
    // the late doc as well — nothing can be older than the max seen ts)
    val b2 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 99L, onModel)
    ).toDF("ts", "doc_id", "text")
    writeDrops(s"$dir/in", b1.coalesce(1), b2.coalesce(1))
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val out = NgramLm.streamingFilterByScore(stream, model, "text", "doc_id",
      "ts", tauNum = 1L, tauDen = 20L, watermark = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("slm").start()
    try {
      q.processAllAvailable()
      val got = spark.table("slm")
        .select("doc_id", "n_scored", "score_sum_pico", "keep")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
      assert(got.map(_._1).toSeq === Seq(1L, 2L, 99L), "sealed docs emitted exactly once")
      // live scores equal a batch replay of the same docs, bit for bit
      val batch = NgramLm.filterByScore(
          Seq((1L, onModel), (2L, offModel), (99L, onModel)).toDF("doc_id", "text"),
          model, "text", "doc_id", tauNum = 1L, tauDen = 20L)
        .select("doc_id", "n_scored", "score_sum_pico", "keep")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
      assert(got.toSeq === batch.toSeq)
      // the on-model docs pass the τ=1/20 filter, the off-model one fails
      assert(got.find(_._1 == 1L).get._4 && !got.find(_._1 == 2L).get._4)
    } finally q.stop()
  }

  test("stateless shingle array equals the batch shingleRows construction") {
    import graft.dedup.Dedup
    // window-free per-row shingling must produce the identical (id, g)
    // set as the batch window path, including short docs and empty text
    val docs = Seq(
      (1L, "the quick brown fox jumps the quick brown"),
      (2L, "tiny doc"),          // < n tokens: whole text is the shingle
      (3L, ""),                  // empty: "" shingle
      (4L, "a b c a b c a b c") // repeated grams: distinct must dedup
    ).toDF("doc_id", "text")
    val batch = Dedup.shingleRows(docs, "text", "doc_id", Nil, 3)
      .select("doc_id", "g").as[(Long, Long)].collect().toSet
    val stateless = docs
      .select(col("doc_id"), explode(Dedup.shingleHashArray(col("text"), 3)).as("g"))
      .as[(Long, Long)].collect().toSet
    assert(stateless === batch)
  }

  test("streamingContaminationHits equals the batch containment join once sealed") {
    import graft.dedup.Dedup
    val dir = SparkSpec.tempDir("graft_stream_decon").toString
    // corpus: two training docs; probe doc 1 is covered by corpus doc 10
    // (≥0.7 of its shingles), probe 2 shares nothing
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five")).toDF("doc_id", "text")
    val corpusIdx = Dedup.shingleRows(corpus, "text", "doc_id", Nil, 3)
    val b1 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L,
        "alpha beta gamma delta epsilon"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 2L,
        "unrelated words entirely different here")
    ).toDF("ts", "doc_id", "text")
    val b2 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 99L,
        "alpha beta gamma delta")
    ).toDF("ts", "doc_id", "text")
    writeDrops(s"$dir/in", b1.coalesce(1), b2.coalesce(1))
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val hits = Dedup.streamingContaminationHits(stream, corpusIdx,
      "text", "doc_id", "ts", n = 3, threshold = 0.7, watermark = "0 seconds")
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("sdecon").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sdecon")
        .select("doc_id", "id_r", "containment")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      // batch replay of the same probe docs against the same corpus
      val batch = Dedup.containmentJoin(
          Seq((1L, "alpha beta gamma delta epsilon"),
            (2L, "unrelated words entirely different here"),
            (99L, "alpha beta gamma delta")).toDF("doc_id", "text"),
          corpus, "text", "doc_id", n = 3, threshold = 0.7)
        .select("id_l", "id_r", "containment")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq === batch.toSeq)
      assert(got.map(_._1).contains(1L) && !got.map(_._1).contains(2L))
    } finally q.stop()
  }

  test("streamingFunnel seals on the watermark and equals the batch chain") {
    import StreamingViews.FunnelEvent
    val dir = SparkSpec.tempDir("graft_stream_funnel").toString
    // steps 0→1→2, window 1000 ms. u1 completes ACROSS micro-batches with
    // an out-of-order first step (step-1 event arrives before its
    // anchoring step-0); u2 stalls at depth 1; u3's step-2 misses the
    // window anchored at its EARLIEST step-0
    val b1 = Seq(
      FunnelEvent(1L, 1, 300L), // step 2 arrives first
      FunnelEvent(2L, 0, 100L),
      FunnelEvent(3L, 0, 100L), FunnelEvent(3L, 0, 900L))
    val b2 = Seq(
      FunnelEvent(1L, 0, 200L), // out-of-order anchor, inside the delay
      FunnelEvent(1L, 2, 800L),
      FunnelEvent(3L, 1, 950L), FunnelEvent(3L, 2, 1500L))
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[FunnelEvent]
    val out = StreamingViews.streamingFunnel(stream, nSteps = 3,
      windowMillis = 1000L, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sfun").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every seal point
      Seq(FunnelEvent(99L, 0, 100000000L))
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sfun").where(col("userId") < 99)
        .select("userId", "stepTimes", "maxStep")
        .as[(Long, Seq[Long], Int)].collect().sortBy(_._1).toSeq
      var got = emitted()
      while (got.size < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted()
      }
      // batch replay of the same admitted events
      val all = (b1 ++ b2).toDF("user_id", "step", "tn")
      val batch = graft.ops.Funnel.funnelTimes(
          all.withColumn("event_type", concat(lit("s"), col("step")))
            .select(col("user_id"), col("event_type"), col("tn")),
          "user_id", "event_type", "tn", Seq("s0", "s1", "s2"),
          windowNanos = 1000L)
        .select(col("user_id"), col("t1"), col("t2"), col("t3"), col("max_step"))
        .collect().map(r => (r.getLong(0),
          Seq(1, 2, 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)),
          r.getInt(4))).sortBy(_._1).toSeq
      assert(got === batch)
      assert(got.map(g => g._1 -> g._3).toMap === Map(1L -> 3, 2L -> 1, 3L -> 2))
      assert(got.find(_._1 == 1L).get._2 === Seq(200L, 300L, 800L))
    } finally q.stop()
  }

  test("streamingRollingActive seals per-bucket distinct counts equal to the batch operator") {
    import StreamingViews.ActivityEvent
    val dir = SparkSpec.tempDir("graft_stream_ract").toString
    // bucketMillis = 100, window = 3 buckets. u1 active in buckets 0 and
    // 2 (counts ONCE in the overlapping windows), u2 in bucket 1 — with
    // u2's event arriving out of order in the second micro-batch
    val b1 = Seq(
      ActivityEvent(1L, 50L), ActivityEvent(1L, 70L), // bucket 0, one user
      ActivityEvent(1L, 250L))                        // bucket 2
    val b2 = Seq(
      ActivityEvent(2L, 150L),                        // bucket 1, late-ish
      ActivityEvent(3L, 400L))                        // bucket 4
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[ActivityEvent]
    val out = StreamingViews.streamingRollingActive(stream,
      bucketMillis = 100L, windowBuckets = 3, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sract").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every real seal point
      Seq(ActivityEvent(99L, 100000000L))
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sract").where(col("bucket") < 1000)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      var got = emitted()
      while (got.size < 7 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted()
      }
      // batch replay over the same admitted events, sentinel included so
      // the batch newest-bucket clamp does not bite in the compared range
      val batch = graft.ops.Funnel.rollingActive(
          (b1 ++ b2 :+ ActivityEvent(99L, 100000000L))
            .map(e => (e.userId, e.tsMillis)).toDF("user_id", "tn"),
          "user_id", "tn", bucketNanos = 100L, windowBuckets = 3)
        .where(col("bucket") < 1000)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === batch)
      // the hand-checked shape: u1's buckets 0+2 overlap in windows 2-4
      assert(got === Seq((0L, 1L), (1L, 2L), (2L, 2L), (3L, 2L),
        (4L, 2L), (5L, 1L), (6L, 1L)))
    } finally q.stop()
  }

  test("streamingRollingActiveApprox sketch estimates equal the batch sketch path") {
    import StreamingViews.ActivityEvent
    val dir = SparkSpec.tempDir("graft_stream_ract_sk").toString
    // enough distinct keys across buckets that the estimate is doing
    // real work, split over two micro-batches with an out-of-order row
    val b1 = (0L until 40L).map(u => ActivityEvent(u, 50L + u)) ++
      (0L until 25L).map(u => ActivityEvent(u * 3, 250L + u))
    val b2 = Seq(ActivityEvent(500L, 150L)) ++ // bucket 1, arrives late-ish
      (0L until 30L).map(u => ActivityEvent(u * 2, 430L + u))
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[ActivityEvent]
    val out = StreamingViews.streamingRollingActiveApprox(stream,
      bucketMillis = 100L, windowBuckets = 3, lgConfigK = 12,
      watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sractsk").start()
    try {
      q.processAllAvailable()
      Seq(ActivityEvent(99L, 100000000L)) // push the watermark past every seal
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sractsk").where(col("bucket") < 1000)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      var got = emitted()
      while (got.size < 7 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted()
      }
      // batch sketch replay over the same admitted events: the stream's
      // per-bucket updatable sketch and the batch hll_sketch_agg +
      // hll_union_agg build the SAME HLL_8 registers (order-independent
      // maxima), so estimates must agree EXACTLY, not within a band
      val batch = graft.ops.Funnel.rollingActiveApprox(
          (b1 ++ b2 :+ ActivityEvent(99L, 100000000L))
            .map(e => (e.userId, e.tsMillis)).toDF("user_id", "tn"),
          "user_id", "tn", bucketNanos = 100L, windowBuckets = 3)
        .where(col("bucket") < 1000)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === batch)
      // and the sketch estimate tracks the exact count on this fixture
      val exact = graft.ops.Funnel.rollingActive(
          (b1 ++ b2 :+ ActivityEvent(99L, 100000000L))
            .map(e => (e.userId, e.tsMillis)).toDF("user_id", "tn"),
          "user_id", "tn", bucketNanos = 100L, windowBuckets = 3)
        .where(col("bucket") < 1000)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) === exact.map(_._1))
      got.zip(exact).foreach { case ((_, est), (_, ex)) =>
        assert(math.abs(est - ex).toDouble <= math.max(2.0, 0.1 * ex),
          s"estimate $est too far from exact $ex")
      }
    } finally q.stop()
  }

  test("streamingEwma seals buckets in order and equals the batch fold") {
    import StreamingViews.ActivityEvent
    val dir = SparkSpec.tempDir("graft_stream_ewma").toString
    // key 1: buckets 0..3 with counts 2, 1, 6, 1 (bucket 2 is a spike);
    // the bucket-2 burst arrives partly out of order in batch 2
    val b1 = Seq(
      ActivityEvent(1L, 10L), ActivityEvent(1L, 90L),   // bucket 0: 2
      ActivityEvent(1L, 150L),                          // bucket 1: 1
      ActivityEvent(1L, 210L), ActivityEvent(1L, 220L), // bucket 2 part
      ActivityEvent(2L, 50L))                           // key 2, bucket 0
    val b2 = Seq(
      ActivityEvent(1L, 230L), ActivityEvent(1L, 240L), // bucket 2 more
      ActivityEvent(1L, 250L), ActivityEvent(1L, 260L),
      ActivityEvent(1L, 350L))                          // bucket 3: 1
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[ActivityEvent]
    val out = StreamingViews.streamingEwma(stream, bucketMillis = 100L,
      watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sewma").start()
    try {
      q.processAllAvailable()
      Seq(ActivityEvent(99L, 100000000L)) // advance the watermark
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sewma").where(col("key") < 99)
        .as[(Long, Long, Long, Option[Long], Option[Boolean])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      var got = emitted()
      while (got.size < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted()
      }
      // batch replay over the same admitted events
      val batch = graft.ops.Timeseries.ewmaAnomalies(
          graft.ops.Timeseries.bucketCounts(
            (b1 ++ b2).map(e => (e.userId, e.tsMillis)).toDF("k", "tn"),
            "k", "tn", bucketNanos = 100L),
          "k", "bucket", "n")
        .as[(Long, Long, Long, Option[Long], Option[Boolean])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got === batch)
      // the hand-checked spike: E after buckets 0,1 = (2+1)/2 = 1;
      // bucket 2's count 6 > 3·1 → spike
      assert(got.find(r => r._1 == 1L && r._2 == 2L).get._5 === Some(true))
    } finally q.stop()
  }

  test("streamingScd2 seals the batch operator's closed intervals in order") {
    import StreamingViews.ChangeEvent
    val dir = SparkSpec.tempDir("graft_stream_scd2").toString
    // key 1 changes a→a→b→a (middle a collapses); key 2 changes once.
    // Batch 2 delivers an OUT-OF-ORDER change (ts 150 after ts 300).
    val b1 = Seq(ChangeEvent(1L, 100L, "a"), ChangeEvent(1L, 200L, "a"),
      ChangeEvent(2L, 120L, "x"))
    val b2 = Seq(ChangeEvent(1L, 300L, "b"), ChangeEvent(1L, 150L, "a"),
      ChangeEvent(1L, 400L, "a"), ChangeEvent(2L, 500L, "y"))
    import spark.implicits._
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val out = StreamingViews.streamingScd2(
      fileStream(s"$dir/in", b1.toDF().schema)
        .as[ChangeEvent],
      watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sscd").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every fixture ts so all closable
      // intervals seal; the open tails (1,"a",400,-) and (2,"y",500,-)
      // must NOT appear
      Seq(ChangeEvent(99L, 100000000L, "z")).toDF()
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sscd").where(col("key") < 99L)
      while (emitted().count() < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      val got = emitted()
        .select(col("key"), col("attr"), col("validFrom"), col("validTo"))
        .as[(Long, String, Long, Long)].collect().toSet
      // batch replay over the same admitted rows: closed intervals only
      val batch = graft.ops.Relational.scd2(
          (b1 ++ b2).toDF().select(col("key"), col("tsMillis"), col("attr")),
          Seq("key"), "tsMillis", Seq("attr"))
        .where(col("valid_to").isNotNull)
        .select(col("key"), col("attr"), col("valid_from"), col("valid_to"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got === batch)
      assert(got === Set((1L, "a", 100L, 300L), (1L, "b", 300L, 400L),
        (2L, "x", 120L, 500L)))
    } finally q.stop()
  }

  test("streamingIntervalJoin matches the batch bucketized interval join") {
    val dir = SparkSpec.tempDir("graft_stream_ij").toString
    val i1 = Seq((1L, 1L, 100L, 200L), (2L, 2L, 150L, 260L))
    val p1 = Seq((10L, 1L, 120L), (11L, 2L, 100L))
    // batch 2: a LATE interval and points that must match batch-1 state
    val i2 = Seq((3L, 1L, 50L, 120L))
    val p2 = Seq((12L, 1L, 110L), (13L, 2L, 200L), (14L, 1L, 210L))
    writeDrops(s"$dir/i", i1.toDF("iid", "key", "st", "en"),
      i2.toDF("iid", "key", "st", "en"))
    writeDrops(s"$dir/p", p1.toDF("pid", "key", "ts"), p2.toDF("pid", "key", "ts"))
    val out = StreamingViews.streamingIntervalJoin(
      fileStream(s"$dir/i",
        i1.toDF("iid", "key", "st", "en").schema),
      fileStream(s"$dir/p",
        p1.toDF("pid", "key", "ts").schema),
      Seq("key"), "st", "en", "ts", payload = Seq("pid"),
      maxIntervalLen = "1 seconds", watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sij").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sij").select(col("iid"), col("pid"))
        .as[(Long, Long)].collect().toSet
      val want = graft.ops.Relational.intervalJoin(
          (i1 ++ i2).toDF("iid", "key", "st", "en"),
          (p1 ++ p2).toDF("pid", "key", "ts"),
          Seq("key"), "st", "en", "ts", bucketNanos = 50L,
          payload = Seq("pid"))
        .select(col("iid"), col("pid")).as[(Long, Long)].collect().toSet
      assert(got === want)
      // the fixture exercises the boundary rows: end-exclusive (ts 120
      // vs [50,120)) and cross-micro-batch matches (late i3 × early p)
      assert(want === Set((1L, 10L), (1L, 12L), (3L, 12L), (2L, 13L)))
    } finally q.stop()
  }

  test("streamingIntervalJoin evicts both sides once the watermarks pass start + maxIntervalLen") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // both sides come off ONE in-memory source, so every data batch
    // reaches both sides of the join together; no no-data batches, so
    // each step is exactly one batch, run at the watermark the previous
    // step left (the min over both sides)
    val src = MemoryStream[(String, Long, Long, Long, Long)](spark)
    val rows = src.toDF().toDF("side", "id", "key", "a", "b")
    val out = StreamingViews.streamingIntervalJoin(
      rows.where(col("side") === "i")
        .select(col("id").as("iid"), col("key"), col("a").as("st"), col("b").as("en")),
      rows.where(col("side") === "p")
        .select(col("id").as("pid"), col("key"), col("a").as("ts")),
      Seq("key"), "st", "en", "ts", payload = Seq("pid"),
      maxIntervalLen = "1 seconds")
    val conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sij_evict").start()
    def step(is: Seq[(Long, Long, Long, Long)], ps: Seq[(Long, Long, Long)]): Long = {
      src.addData(is.map { case (i, k, st, en) => ("i", i, k, st, en) } ++
        ps.map { case (p, k, ts) => ("p", p, k, ts, 0L) })
      q.processAllAvailable()
      q.lastProgress.stateOperators(0).numRowsTotal
    }
    try {
      assert(step(Seq((1L, 1L, 100L, 200L), (2L, 2L, 150L, 900L)),
        Seq((10L, 1L, 120L), (11L, 2L, 100L), (12L, 2L, 880L))) === 5L)
      // runs at 150: points before the interval-side watermark go
      assert(step(Seq((3L, 3L, 5000L, 5500L)), Seq((13L, 3L, 5100L))) === 5L)
      // runs at 5000, past every batch-1 start + 1 s: intervals 1-2 and
      // point 12 leave state, the live rows stay
      assert(step(Seq((4L, 4L, 6000L, 6100L)), Seq((14L, 4L, 6050L))) === 4L)
      val got = spark.table("sij_evict").select(col("iid"), col("pid"))
        .as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 10L), (2L, 12L), (3L, 13L), (4L, 14L)))
    } finally {
      q.stop()
      spark.conf.set(conf, prev)
    }
  }

  test("streamingDailyChangelog seals net changes; applying them == batch CDC") {
    import StreamingViews.CdcChangeEvent
    val dir = SparkSpec.tempDir("graft_stream_cdc").toString
    // 1s "days". Day 0: key 1 updated twice (latest wins), key 2
    // deleted, key 6 inserted. Day 1: key 3 updated, key 1 deleted.
    // Batch 2 delivers an OUT-OF-ORDER day-0 change (ts 200) that must
    // LOSE to the already-seen ts 300 — latest-wins is order-free.
    val b1 = Seq(CdcChangeEvent(1L, 100L, "U", 11L),
      CdcChangeEvent(1L, 300L, "U", 12L),
      CdcChangeEvent(2L, 150L, "D", 0L),
      CdcChangeEvent(6L, 500L, "I", 60L))
    val b2 = Seq(CdcChangeEvent(1L, 200L, "U", 99L),
      CdcChangeEvent(3L, 1100L, "U", 33L),
      CdcChangeEvent(1L, 1500L, "D", 0L))
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val out = StreamingViews.streamingDailyChangelog(
      fileStream(s"$dir/in", b1.toDF().schema)
        .as[CdcChangeEvent],
      bucketMillis = 1000L, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scdc").start()
    try {
      q.processAllAvailable()
      // advance the watermark past both days so they seal
      Seq(CdcChangeEvent(99L, 100000000L, "U", 0L)).toDF()
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("scdc").where(col("key") < 99L)
      while (emitted().count() < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      val got = emitted()
        .select(col("key"), col("day"), col("seq"), col("op"), col("value"))
        .as[(Long, Long, Long, String, Long)].collect().toSet
      assert(got === Set(
        (1L, 0L, 300L, "U", 12L), (2L, 0L, 150L, "D", 0L),
        (6L, 0L, 500L, "I", 60L), (3L, 1L, 1100L, "U", 33L),
        (1L, 1L, 1500L, "D", 0L)))
      // COMPOSITION: rolling a snapshot forward with the sealed days
      // (day 0 applied, then day 1) equals one batch cdcApply over the
      // raw change log — the artifact is a faithful compaction
      val base = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
        .toDF("key", "value")
      val sealedDf = emitted()
        .select(col("key"), col("day"), col("seq"), col("op"), col("value"))
      val rolled = Seq(0L, 1L).foldLeft(base) { (snap, d) =>
        graft.ops.Cdc.cdcApply(snap,
          sealedDf.where(col("day") === d).drop("day"),
          Seq("key"), "seq")
      }
      val direct = graft.ops.Cdc.cdcApply(base,
        (b1 ++ b2).toDF().select(col("key"), col("value"), col("op"),
          col("tsMillis").as("seq")),
        Seq("key"), "seq")
      assert(rolled.collect().map(_.toSeq).toSet ===
        direct.collect().map(_.toSeq).toSet)
      assert(direct.as[(Long, Long)].collect().toSet ===
        Set((3L, 33L), (4L, 4L), (6L, 60L)))
    } finally q.stop()
  }

  test("streamingTokenCms seals byte-identical frequency artifacts") {
    import org.apache.spark.util.sketch.CountMinSketch
    val dir = SparkSpec.tempDir("graft_stream_cms").toString
    // two 100ms buckets; one out-of-order bucket-0 doc arrives in batch 2
    val b1 = Seq(("alpha beta beta", 10L), ("gamma alpha", 150L))
    val b2 = Seq(("beta gamma gamma", 60L), ("delta", 160L))
    writeDrops(s"$dir/in", b1.toDF("text", "ts"), b2.toDF("text", "ts"))
    val stream = fileStream(s"$dir/in",
      b1.toDF("text", "ts").schema)
    val out = StreamingViews.streamingTokenCms(stream, "text", "ts",
      bucketMillis = 100L, eps = 0.01, confidence = 0.99, seed = 42,
      watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scms").start()
    try {
      q.processAllAvailable()
      Seq(("zz", 100000000L)) // advance the watermark
        .toDF("text", "ts").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("scms").where(col("bucket") < 1000L)
      var got = emitted().count()
      while (got < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted().count()
      }
      assert(emitted().select(col("bucket"), col("nTokens"))
        .as[(Long, Long)].collect().toSet === Set((0L, 6L), (1L, 3L)))
      // CMS counters are sums — order-free — so merging the sealed
      // buckets is BYTE-IDENTICAL to one batch build over the same docs
      val sealedCms = emitted().select(col("sketch"))
        .as[Array[Byte]].collect()
        .map(b => CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b)))
      val merged = sealedCms.reduce { (a, b) => a.mergeInPlace(b); a }
      val batch = graft.udafs.Sketches.tokenCms(
        (b1 ++ b2).toDF("text", "ts"), "text",
        eps = 0.01, confidence = 0.99, seed = 42)
      def bytes(s: CountMinSketch): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        s.writeTo(bos)
        bos.toByteArray
      }
      assert(java.util.Arrays.equals(bytes(merged), bytes(batch)))
      Seq("alpha" -> 2L, "beta" -> 3L, "gamma" -> 3L, "delta" -> 1L)
        .foreach { case (tok, n) =>
          assert(merged.estimateCount(tok) === n, tok)
        }
    } finally q.stop()
  }

  test("streamingCentroidSums seals bit-exact vector artifacts; drift runs live") {
    val dir = SparkSpec.tempDir("graft_stream_vec").toString
    // two 100ms buckets; one out-of-order bucket-0 vector in batch 2
    val b1 = Seq((Seq(1.0f, 2.0f), 10L), (Seq(2.0f, 2.0f), 150L))
    val b2 = Seq((Seq(3.0f, 4.0f), 60L), (Seq(-1.5f, 0.5f), 160L))
    writeDrops(s"$dir/in", b1.toDF("embedding", "ts"), b2.toDF("embedding", "ts"))
    val stream = fileStream(s"$dir/in",
      b1.toDF("embedding", "ts").schema)
    val out = StreamingViews.streamingCentroidSums(stream, "embedding", "ts",
      bucketMillis = 100L, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("svec").start()
    try {
      q.processAllAvailable()
      Seq((Seq(0.0f), 100000000L)) // advance the watermark
        .toDF("embedding", "ts").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("svec").where(col("bucket") < 1000L)
      var got = emitted().count()
      while (got < 4 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted().count()
      }
      // bit-exact vs the batch vectorSumElements build on the same rows
      val sealedRows = emitted()
        .select(col("bucket"), col("pos"), col("elem_sum_micro"),
          col("n_vectors"))
        .as[(Long, Int, Long, Long)].collect().toSet
      val batch = graft.sim.VectorAgg.vectorSumElements(
          (b1 ++ b2).toDF("embedding", "ts")
            .select(expr("ts div 100").as("bucket"), col("embedding")),
          "embedding", Seq("bucket"))
        .select(col("bucket"), col("pos"), col("elem_sum_micro"),
          col("n_vectors"))
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(sealedRows === batch)
      // the drift monitor consumes the STREAM artifacts unchanged:
      // means (2, 3) vs (0.25, 1.25) → L1 = 1.75 + 1.75 = 3.5 → 3.5e6 µ
      val drift = graft.sim.VectorAgg.centroidDriftFromSums(
          emitted().select(col("bucket"), col("pos"),
            col("elem_sum_micro"), col("n_vectors")),
          "bucket")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(drift === Seq((0L, 1L, 2L, 2L, 3500000L)))
    } finally q.stop()
  }

  test("streamingKeyAgms seals byte-identical join-size artifacts") {
    import graft.udafs.JoinSize
    val dir = SparkSpec.tempDir("graft_stream_agms").toString
    // two 100ms buckets; one out-of-order bucket-0 row arrives in batch 2
    val b1 = Seq(("k1", 10L), ("k2", 40L), ("k1", 150L))
    val b2 = Seq(("k3", 60L), ("k2", 160L), ("k2", 170L))
    writeDrops(s"$dir/in", b1.toDF("key", "ts"), b2.toDF("key", "ts"))
    val stream = fileStream(s"$dir/in",
      b1.toDF("key", "ts").schema)
    val (depth, width, seed) = (5, 16, 7)
    val out = StreamingViews.streamingKeyAgms(stream, "key", "ts",
      bucketMillis = 100L, depth, width, seed,
      watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sagms").start()
    try {
      q.processAllAvailable()
      Seq(("zz", 100000000L)) // advance the watermark
        .toDF("key", "ts").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("sagms").where(col("bucket") < 1000L)
      var got = emitted().count()
      while (got < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted().count()
      }
      assert(emitted().select(col("bucket"), col("n"))
        .as[(Long, Long)].collect().toSet === Set((0L, 3L), (1L, 3L)))
      // AGMS counters are signed sums — order-free and linear — so
      // merging the sealed buckets counter-wise is BYTE-IDENTICAL to
      // one batch build over the same rows
      val sealedSketches = emitted().select(col("sketch"))
        .as[Array[Byte]].collect()
      val merged = sealedSketches.map(JoinSize.deserialize(_)._4)
        .reduce { (a, b) =>
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        }
      val batch = (b1 ++ b2).toDF("key", "ts")
        .groupBy(col("key")).agg(count(lit(1)).as("c"))
        .agg(JoinSize.agmsAgg(col("key"), col("c"), depth, width, seed)
          .as("sk"))
        .as[Array[Byte]].head()
      assert(java.util.Arrays.equals(
        JoinSize.serialize(depth, width, seed, merged), batch))
      // the merged artifact answers the planning question: its self
      // inner product is the exact F2 = 2² + 3² + 1² = 14 (median over
      // 5 rows under the fixed seed — deterministic)
      assert(JoinSize.estimate(batch, batch) === 14L)
    } finally q.stop()
  }

  test("streamingTokenHeavyHitters seals per-bucket MG summaries equal to batch") {
    val dir = SparkSpec.tempDir("graft_stream_mg").toString
    // two 100ms buckets; one out-of-order bucket-0 doc arrives in batch 2;
    // per-bucket vocabulary ≤ k ⇒ the exact regime — sealed summaries must
    // be bit-exact equal to a batch per-bucket mgAgg build
    val b1 = Seq(("alpha beta beta", 10L), ("gamma alpha", 150L))
    val b2 = Seq(("beta gamma gamma", 60L), ("delta", 160L))
    writeDrops(s"$dir/in", b1.toDF("text", "ts"), b2.toDF("text", "ts"))
    val stream = fileStream(s"$dir/in",
      b1.toDF("text", "ts").schema)
    val out = StreamingViews.streamingTokenHeavyHitters(stream, "text", "ts",
      bucketMillis = 100L, k = 8, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("smg").start()
    try {
      q.processAllAvailable()
      Seq(("zz", 100000000L)) // advance the watermark
        .toDF("text", "ts").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("smg").where(col("bucket") < 1000L)
      var got = emitted().count()
      while (got < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted().count()
      }
      val sealedMg = emitted().select(col("bucket"), col("summary"))
        .as[(Long, Map[String, Long])].collect().toMap
      assert(sealedMg === Map(
        0L -> Map("alpha" -> 1L, "beta" -> 3L, "gamma" -> 2L),
        1L -> Map("gamma" -> 1L, "alpha" -> 1L, "delta" -> 1L)))
      // bit-exact vs the batch per-bucket build over the same docs
      val batch = (b1 ++ b2).toDF("text", "ts")
        .select(expr("ts div 100").as("bucket"),
          explode(graft.text.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("bucket"))
        .agg(graft.udafs.FreqItems.mgAgg(col("token"), lit(1L), 8)
          .as("summary"))
        .as[(Long, Map[String, Long])].collect().toMap
      assert(sealedMg === batch)
      // the rolling window layer consumes the STREAM-sealed artifacts
      // unchanged: window over both buckets == exact combined counts
      val rolled = graft.ops.Timeseries.rollingHeavyHittersFromSummaries(
          emitted().select(col("bucket"), col("summary")),
          "bucket", "summary", k = 8, windowBuckets = 2)
        .where(col("bucket") === 1L)
        .select(col("token"), col("n_est"))
        .as[(String, Long)].collect().toMap
      assert(rolled === Map("alpha" -> 2L, "beta" -> 3L, "gamma" -> 3L,
        "delta" -> 1L))
    } finally q.stop()
  }

  test("streamingBucketQuantileSketches seal to the batch KLL artifacts") {
    import StreamingViews.MeasureEvent
    val dir = SparkSpec.tempDir("graft_stream_kll").toString
    // three 100ms buckets, < k values each (KLL retains everything below
    // k — no randomized compaction — so stream and batch estimates must
    // agree EXACTLY); bucket 1 gets an out-of-order burst in batch 2
    // ts starts at 1, not 0: an event AT the initial watermark (0) sits on
    // the engine's late-row boundary — boundary semantics are Spark's, not
    // this operator's, so the fixture stays off it (as the EWMA/theta
    // fixtures do)
    val b1 = (0 until 30).map(i => MeasureEvent(i.toDouble, (i * 3 + 1).toLong)) ++
      (0 until 20).map(i => MeasureEvent(100.0 + i, 100L + i)) ++
      Seq(MeasureEvent(777.0, 255L)) // bucket 2, early arrival
    val b2 = (0 until 10).map(i => MeasureEvent(200.0 + i, 150L + i)) ++ // late bucket-1 burst
      (0 until 15).map(i => MeasureEvent(300.0 + i, 200L + i))
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[MeasureEvent]
    val out = StreamingViews.streamingBucketQuantileSketches(stream,
      bucketMillis = 100L, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("skll").start()
    try {
      q.processAllAvailable()
      Seq(MeasureEvent(0.0, 100000000L)) // advance the watermark
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("skll").where(col("bucket") < 1000L)
      var got = emitted().count()
      while (got < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted().count()
      }
      // sealed value counts per bucket
      assert(emitted().select(col("bucket"), col("n"))
        .as[(Long, Long)].collect().toSet ===
        Set((0L, 30L), (1L, 30L), (2L, 16L)))
      // the sealed bytes ARE the batch layer's artifacts: the window
      // estimates over them equal a batch build over the same admitted
      // events, bit-exact in the below-k regime
      val viaStream = graft.ops.Timeseries.rollingQuantileFromSketches(
          emitted().select(col("bucket"), col("sketch")),
          "bucket", "sketch", windowBuckets = 2, q = 0.5)
        .as[(Long, Double)].collect().toMap
      val viaBatch = graft.ops.Timeseries.rollingQuantileSketch(
          (b1 ++ b2).map(e => (e.value, e.tsMillis)).toDF("value", "tn"),
          "value", "tn", bucketNanos = 100L, windowBuckets = 2, q = 0.5)
        .as[(Long, Double)].collect().toMap
      assert(viaStream === viaBatch)
      assert(viaStream.keySet === Set(0L, 1L, 2L))
    } finally q.stop()
  }

  test("streamingSegmentSketches seal to the batch theta artifacts") {
    import StreamingViews.SegmentEvent
    val dir = SparkSpec.tempDir("graft_stream_theta").toString
    // two segments over two 100ms buckets; u3 overlaps both segments,
    // u1 repeats within a bucket (distinct semantics), one out-of-order
    // arrival in batch 2
    val b1 = Seq(
      SegmentEvent("A", 1L, 10L), SegmentEvent("A", 1L, 20L),
      SegmentEvent("A", 2L, 30L), SegmentEvent("B", 3L, 40L),
      SegmentEvent("A", 3L, 150L))
    val b2 = Seq(
      SegmentEvent("B", 4L, 60L),   // late-ish, bucket 0
      SegmentEvent("B", 3L, 160L), SegmentEvent("B", 5L, 170L))
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[SegmentEvent]
    val out = StreamingViews.streamingSegmentSketches(stream,
      bucketMillis = 100L, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("stheta").start()
    try {
      q.processAllAvailable()
      Seq(SegmentEvent("Z", 99L, 100000000L)) // advance the watermark
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("stheta").where(col("seg") =!= "Z")
      var got = emitted().count()
      while (got < 4 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted().count()
      }
      // per-(seg, bucket) estimates are the exact distinct counts
      val est = emitted().select(col("seg"), col("bucket"), col("nApprox"))
        .as[(String, Long, Long)].collect().toSet
      assert(est === Set(("A", 0L, 2L), ("A", 1L, 1L),
        ("B", 0L, 2L), ("B", 1L, 2L)))
      // the sealed bytes ARE the batch layer's artifacts: union across
      // buckets + pairwise overlap equals a batch build over the events
      val merged = graft.ops.Audience.mergeSegmentSketches(Seq(
        emitted().select(col("seg"), col("sketch").as("sk"))))
      val key = Seq(col("seg_a"), col("seg_b"))
      val viaStream = graft.ops.Audience.segmentOverlap(merged)
        .orderBy(key: _*).collect().toSeq
      val viaBatch = graft.ops.Audience.segmentOverlapFromEvents(
          (b1 ++ b2).map(e => (e.userId, e.seg)).toDF("user_id", "seg"),
          "user_id", "seg")
        .orderBy(key: _*).collect().toSeq
      assert(viaStream === viaBatch)
      // ...and the same sealed artifacts answer bucket-over-bucket
      // churn: union per bucket, then consecutive set algebra. Bucket 0
      // holds {1,2,3,4}, bucket 1 {3,5} → kept 1, gone 3, new 1
      val churn = graft.ops.Audience.bucketChurn(
          graft.ops.Audience.mergeSegmentSketches(Seq(
            emitted().select(col("bucket").as("seg"),
              col("sketch").as("sk")))),
          "seg")
        .as[(Long, Long, Long, Long, Long, Long, Long)].head()
      assert(churn === ((0L, 1L, 4L, 2L, 1L, 3L, 1L)))
    } finally q.stop()
  }

  test("streamingCusum seals buckets in order and equals the batch fold") {
    import StreamingViews.ActivityEvent
    val dir = SparkSpec.tempDir("graft_stream_cusum").toString
    // key 1: buckets 0..4 with counts 2, 2, 3, 3, 3 — warmup 2 pins
    // mu = 2, then the persistent +1 shift accumulates S+ = 1, 2, 3 and
    // crosses threshold 2 at bucket 4; bucket 3's events arrive out of
    // order in batch 2. key 2 never completes warmup.
    val b1 = Seq(
      ActivityEvent(1L, 10L), ActivityEvent(1L, 90L),   // bucket 0: 2
      ActivityEvent(1L, 110L), ActivityEvent(1L, 150L), // bucket 1: 2
      ActivityEvent(1L, 210L), ActivityEvent(1L, 220L), // bucket 2 part
      ActivityEvent(2L, 50L))                           // key 2, bucket 0
    val b2 = Seq(
      ActivityEvent(1L, 230L),                          // bucket 2: 3
      ActivityEvent(1L, 310L), ActivityEvent(1L, 320L), // bucket 3: 3
      ActivityEvent(1L, 330L),
      ActivityEvent(1L, 410L), ActivityEvent(1L, 420L), // bucket 4: 3
      ActivityEvent(1L, 430L))
    writeDrops(s"$dir/in", b1.toDF(), b2.toDF())
    val stream = fileStream(s"$dir/in",
      b1.toDF().schema).as[ActivityEvent]
    val out = StreamingViews.streamingCusum(stream, bucketMillis = 100L,
      warmup = 2, slack = 0L, threshold = 2L, watermarkDelay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scusum").start()
    try {
      q.processAllAvailable()
      Seq(ActivityEvent(99L, 100000000L)) // advance the watermark
        .toDF().write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def emitted() = spark.table("scusum").where(col("key") < 99)
        .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long],
          Option[Boolean], Option[Boolean])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      var got = emitted()
      while (got.size < 6 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        got = emitted()
      }
      // batch replay over the same admitted events; the one documented
      // divergence is mu on warmup rows (the stream cannot know it yet)
      val batch = graft.ops.Timeseries.cusumShifts(
          graft.ops.Timeseries.bucketCounts(
            (b1 ++ b2).map(e => (e.userId, e.tsMillis)).toDF("k", "tn"),
            "k", "tn", bucketNanos = 100L),
          "k", "bucket", "n", warmup = 2, slack = 0L, threshold = 2L)
        .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long],
          Option[Boolean], Option[Boolean])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
        .map(r => if (r._5.isEmpty) r.copy(_4 = None) else r)
      assert(got === batch)
      // hand-checked: S+ = 1, 2, 3 over buckets 2..4; threshold 2
      // crossed only at bucket 4
      val k1 = got.filter(_._1 == 1L)
      assert(k1.map(_._5) ===
        Seq(None, None, Some(1L), Some(2L), Some(3L)))
      assert(k1.map(_._7) ===
        Seq(None, None, Some(false), Some(false), Some(true)))
      // key 2 never warms up: no mu, no sums, no verdicts
      val k2 = got.filter(_._1 == 2L).head
      assert(k2._4 === None && k2._5 === None && k2._7 === None)
    } finally q.stop()
  }

  test("sealed-bucket operators: each bucket emits once, stragglers drop, state drains") {
    // one table over every per-bucket sealing operator, each its own
    // query off an in-memory source, all driven by the same data batches
    // (a batch runs at the watermark the previous batch produced)
    import org.apache.spark.sql.{DataFrame, Dataset}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingViews._
    val bm = 100L
    def docs(ev: Dataset[ActivityEvent]) =
      ev.select(concat(lit("t"), col("userId")).as("text"), col("tsMillis"))
    val ops: Seq[(String, Dataset[ActivityEvent] => DataFrame)] = Seq(
      "rollingActive" -> (streamingRollingActive(_, bm, 2).toDF()),
      "rollingActiveApprox" -> (streamingRollingActiveApprox(_, bm, 2).toDF()),
      "segmentSketches" -> (ev => streamingSegmentSketches(
        ev.map(e => SegmentEvent("s", e.userId, e.tsMillis)), bm).toDF()),
      "bucketQuantileSketches" -> (ev => streamingBucketQuantileSketches(
        ev.map(e => MeasureEvent(e.userId.toDouble, e.tsMillis)), bm).toDF()),
      "tokenCms" -> (ev => streamingTokenCms(docs(ev), "text", "tsMillis",
        bm, 0.01, 0.99, 42).toDF()),
      "tokenHeavyHitters" -> (ev => streamingTokenHeavyHitters(docs(ev),
        "text", "tsMillis", bm, 4).toDF()),
      "keyAgms" -> (ev => streamingKeyAgms(ev.toDF(), "userId", "tsMillis",
        bm, 3, 16, 42).toDF()),
      "centroidSums" -> (ev => streamingCentroidSums(
        ev.select(array(col("userId").cast("float")).as("vec"),
          col("tsMillis")), "vec", "tsMillis", bm).toDF()),
      "dailyChangelog" -> (ev => streamingDailyChangelog(
        ev.map(e => CdcChangeEvent(1L, e.tsMillis, "u", e.userId)), bm)
        .toDF().withColumnRenamed("day", "bucket")))
    // kept fast: one state partition per operator (the seal rule is per
    // key, so the partition count cannot change what emits) and no
    // no-data batches (every step below is a data batch)
    val fast = Seq("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = fast.map { case (k, _) => k -> spark.conf.get(k) }
    val runs = scala.collection.mutable.ArrayBuffer.empty[
      (String, MemoryStream[ActivityEvent],
        org.apache.spark.sql.streaming.StreamingQuery)]
    fast.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      ops.foreach { case (name, op) =>
        val in = MemoryStream[ActivityEvent](spark)
        runs += ((name, in, op(in.toDS()).select(col("bucket"))
          .writeStream.outputMode("append").format("memory")
          .queryName(s"seal_$name").start()))
      }
      // every query takes the batch, then all are awaited: they run
      // side by side
      def step(rows: (Long, Long)*): Unit = {
        val batch = rows.map { case (u, ts) => ActivityEvent(u, ts) }
        runs.foreach(_._2.addData(batch))
        runs.foreach(_._3.processAllAvailable())
      }
      step(1L -> 10L, 2L -> 50L, 3L -> 250L) // buckets 0, 2; watermark → 250
      step(3L -> 260L, 5L -> 1000L)  // runs at 250: bucket 0 seals; → 1000
      // stragglers for the sealed bucket 0 and before the epoch (the
      // watermark never falls below 0, so a pre-epoch row is always late)
      step(4L -> 60L, 7L -> -50L, 6L -> 1001L) // runs at 1000: bucket 2 seals
      // the rolling actives fan each event to its bucket and the next
      val fan = Set("rollingActive", "rollingActiveApprox")
      runs.foreach { case (name, _, q) =>
        val got = spark.table(s"seal_$name").as[Long].collect().sorted.toSeq
        assert(got === (if (fan(name)) Seq(0L, 1L, 2L, 3L) else Seq(0L, 2L)),
          name)
        // state holds only the in-flight bucket 10 (and 11 for the fans)
        assert(q.lastProgress.stateOperators.map(_.numRowsTotal).toSeq ===
          Seq(if (fan(name)) 2L else 1L), name)
      }
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      runs.foreach(_._3.stop())
    }
  }

  test("chatStats is a stateless projection: stream == batch verdicts") {
    val dir = SparkSpec.tempDir("graft_streamchat").toString
    val data = Seq(
      (1L, """[{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]"""),
      (2L, """[{"role":"user","content":"a"},{"role":"user","content":"b"}]"""),
      (3L, "not json"),
      (4L, "[]"))
      .toDF("doc_id", "j")
    data.write.parquet(s"$dir/in")
    val statsCols = graft.json.ChatOps.chatStats(col("j"))
    def project(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id") +: statsCols.map { case (n, c) => c.as(n) }: _*)
    val stream = fileStream(s"$dir/in", data.schema)
    val q = project(stream).writeStream.outputMode("append")
      .format("memory").queryName("schat").start()
    try {
      q.processAllAvailable()
      val got = spark.table("schat").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = project(data).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(got === batch)
      // the valid column (last) on the four protocol classes
      assert(got(1L).last === true && got(2L).last === false &&
        got(3L).last === false && got(4L).last === false)
    } finally q.stop()
  }

  test("streamingDomainBlocklist is stateless and equals the batch gate") {
    val dir = SparkSpec.tempDir("graft_streambl").toString
    val data = Seq(
      (1L, "http://a.b.example.com/x"),
      (2L, "https://www.example.com:443/y"),
      (3L, "http://notexample.com/z"),
      (4L, "https://clean.org/ok"),
      (5L, "no url at all"),
      (6L, null.asInstanceOf[String]) // null URL: blocked=false, never NULL
    ).toDF("doc_id", "url")
    data.write.parquet(s"$dir/in")
    val patterns = Seq("Example.COM", "  ", "unused.net")
    val stream = fileStream(s"$dir/in", data.schema)
    val out = StreamingViews.streamingDomainBlocklist(stream, "url", patterns)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sbl").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sbl").select("doc_id", "blocked")
        .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
      // batch twin over the same rows, same pattern list
      val batch = graft.text.UrlOps.domainBlocklistFilter(
          data, "url", "doc_id", patterns.toDF("pattern"), "pattern")
        .select(col("doc_id"), col("blocked"))
        .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
      assert(got === batch)
      assert(got === Seq(1L -> true, 2L -> true, 3L -> false,
        4L -> false, 5L -> false, 6L -> false))
    } finally q.stop()
  }

  test("streamingDomainBlocklist: reserved-column guard and non-ASCII " +
       "pattern normalization match the batch twin") {
    val data = Seq((1L, "http://evil.com/x")).toDF("doc_id", "url")
    // reserved output/intermediate columns fail loudly, like the batch gate
    assertThrows[IllegalArgumentException] {
      StreamingViews.streamingDomainBlocklist(
        data.withColumn("blocked", lit(true)), "url", Seq("evil.com"))
    }
    assertThrows[IllegalArgumentException] {
      StreamingViews.streamingDomainBlocklist(
        data.withColumn("__lbl", lit("x")), "url", Seq("evil.com"))
    }
    // non-ASCII patterns: dotted-capital İ (U+0130) and NBSP/control
    // padding must normalize identically on both engines — both twins
    // now run SQL lower(trim(...)), so the verdicts agree row-for-row
    val docs = Seq(
      (1L, "http://i̇stanbul.example/x"), // SQL lower(İ) = i+combining-dot
      (2L, "http://evil.com/x"),
      (3L, "http://clean.org/x")
    ).toDF("doc_id", "url")
    val tricky = Seq("İSTANBUL.example", " evil.com ", "\tevil.com ")
    val streamed = StreamingViews
      .streamingDomainBlocklist(docs, "url", tricky)
      .select(col("doc_id"), col("blocked"))
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    val batch = graft.text.UrlOps.domainBlocklistFilter(
        docs, "url", "doc_id", tricky.toDF("pattern"), "pattern")
      .select(col("doc_id"), col("blocked"))
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(streamed === batch)
  }
}
