package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary induction (Sennrich et al. 2016,
  * arXiv:1508.07909): learn the top-k byte-pair merges from a corpus —
  * the tokenizer-training half of a training-data pipeline, next to the
  * BPE-ish COUNTING that `TextOps.bpeTokens` already does.
  *
  * Faithful to the published algorithm on the word-table compression:
  * merges operate over DISTINCT words weighted by corpus frequency, so
  * each iteration's work is O(|vocab|), not O(corpus). Per merge:
  *
  *   1. adjacent symbol pairs of every word, weighted by word count,
  *      overlapping occurrences counted per position (`zip(ss, ss.tail)`
  *      — the reference implementation's counting);
  *   2. best pair = max total count, ties by (left, right) binary string
  *      order — deterministic on any engine (Spark UTF8String and DuckDB
  *      VARCHAR both compare bytewise);
  *   3. apply = ONE left-to-right greedy pass merging non-overlapping
  *      occurrences ("a a a" + (a,a) → ["aa","a"]) — exactly the
  *      semantics of a non-regex string `replace`, which is what the
  *      DuckDB oracle uses to replay it.
  *
  * Scale shape (100 TB): the word table is the distinct-word vocabulary
  * (Zipf-bounded — ~10⁸ rows for web scale, orders of magnitude under
  * the corpus), built with ONE corpus scan + one groupBy. Each merge
  * iteration is one map over the word table, one pair-count shuffle with
  * map-side partials, and a 1-ROW TakeOrdered collect; lineage is
  * truncated by per-iteration lazy checkpoints with the previous
  * iteration unpersisted (the connectedComponents discipline). The typed
  * per-word merge application is deliberately JVM code — the table is
  * model-sized, not corpus-sized, the same justification as IVF/PQ
  * training. Symbols must not contain U+001F (the oracle's separator);
  * whitespace tokenization guarantees that for any sane corpus.
  */
object BpeVocab {

  /** Cap on the driver-collected word table of [[trainLocal]] and
    * [[encode]]. */
  private val MaxWords = 20000000

  final case class Merge(left: String, right: String, count: Long)

  /** Distinct words with corpus occurrence counts — one scan, one
    * shuffle; the only corpus-sized step of training. Tokens containing
    * U+001F (the oracle's symbol separator — `\s` split passes 0x1F
    * through) fail HERE, loudly, instead of silently desyncing the
    * trainer from its replay; the guard rides the kept column so column
    * pruning cannot drop it. */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .select(when(col("word").contains(lit("\u001f")),
          raise_error(concat(lit("BpeVocab: token contains U+001F separator: "),
            col("word"))))
        .otherwise(col("word")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Unicode-codepoint split (parity with DuckDB's
    * `regexp_split_to_array(word, '')`). */
  private[text] def codepoints(w: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toIndexedSeq
  }

  /** One greedy left-to-right merge pass (non-overlapping, the
    * `replace`-semantics the oracle replays). */
  private[text] def applyMerge(ss: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < ss.length) {
      if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) { out += (a + b); i += 2 }
      else { out += ss(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Learn up to `numMerges` merges. Stops early when no pair occurs
    * twice (a pair seen once compresses nothing). */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be positive: $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = wordTable(docs, textCol).as[(String, Long)]
      .map { case (w, c) => (w, c, codepoints(w)) }
      .toDF("word", "cnt", "syms")
      .localCheckpoint(eager = false)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      val top = words.as[(String, Long, Seq[String])]
        .flatMap { case (_, c, ss) => ss.iterator.zip(ss.iterator.drop(1)).map(p => (p._1, p._2, c)) }
        .toDF("a", "b", "c")
        .groupBy(col("a"), col("b")).agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      top.headOption match {
        case Some(Row(a: String, b: String, cnt: Long)) if cnt >= 2 =>
          merges += Merge(a, b, cnt)
          val next = words.as[(String, Long, Seq[String])]
            .map { case (w, c, ss) => (w, c, applyMerge(ss.toIndexedSeq, a, b)) }
            .toDF("word", "cnt", "syms")
            .localCheckpoint(eager = false)
          // this iteration's TakeOrdered materialized `words`; once `next`
          // exists the grandparent's blocks are dead — bound storage to
          // two checkpointed generations (the CC unpersist discipline)
          prev.foreach(_.unpersist())
          prev = Some(words)
          words = next
        case _ => done = true
      }
      i += 1
    }
    prev.foreach(_.unpersist())
    words.unpersist()
    merges.toSeq
  }

  /** Driver-local training: collect the word table ONCE and run the
    * merge loop in JVM code — the mode a real 30-50 k-merge vocabulary
    * wants, because [[train]] costs 2 Spark jobs PER MERGE (a pair-count
    * shuffle + a TakeOrdered), i.e. ~10⁵ sequential jobs for a
    * production tokenizer, all to pick one row each time. The word table
    * is Zipf-bounded and model-sized (distinct words, not corpus rows —
    * the IVF/PQ training justification), so the single collect is the
    * ONLY corpus-coupled cost; `MaxWords` caps it and fails loudly if a
    * corpus exceeds the budget (at ~60 B/word, the 20 M cap is
    * ~1-2 GB of driver heap).
    *
    * Merges are IDENTICAL to [[train]] (ScalaTest-pinned): the same
    * per-position overlapping pair counts, the same
    * (count desc, left, right) tie-break under UTF-8 BYTE order (Spark's
    * UTF8String comparison — NOT String.compareTo, which orders by
    * UTF-16 code unit and diverges on supplementary characters), the
    * same greedy non-overlapping apply, the same cnt ≥ 2 early stop.
    * The loop maintains pair counts incrementally with an inverted
    * pair→words index and a lazily-invalidated max-heap, so per-merge
    * work is O(words touched by the merge), not O(vocab). */
  def trainLocal(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be positive: $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val tbl = wordTable(docs, textCol).as[(String, Long)].collect()
    require(tbl.length <= MaxWords,
      s"word table has ${tbl.length} distinct words > $MaxWords; " +
        "use the distributed train()")
    trainOnWordTable(tbl, numMerges)
  }

  /** Spark's UTF8String binary comparison: unsigned UTF-8 bytes. */
  private[text] def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** The local merge loop over a collected `(word, count)` table — the
    * core of [[trainLocal]], factored out for direct testing. */
  private[text] def trainOnWordTable(tbl: Array[(String, Long)],
                                     numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val syms = tbl.map { case (w, _) => mutable.ArrayBuffer(codepoints(w): _*) }
    val cnts = tbl.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]

    // heap orders (count desc, left asc, right asc) under UTF-8 bytes —
    // the exact total order train()'s orderBy uses; entries go stale when
    // a pair's count changes (every change pushes a fresh entry, so the
    // entry matching the CURRENT count is always present)
    final case class Entry(cnt: Long, a: String, b: String)
    val heap = new java.util.PriorityQueue[Entry](11,
      new java.util.Comparator[Entry] {
        def compare(x: Entry, y: Entry): Int = {
          if (x.cnt != y.cnt) return java.lang.Long.compare(y.cnt, x.cnt)
          val c = utf8Compare(x.a, y.a)
          if (c != 0) c else utf8Compare(x.b, y.b)
        }
      })

    def bump(p: (String, String), delta: Long,
             changed: mutable.HashSet[(String, String)]): Unit = {
      val nc = pairCount.getOrElse(p, 0L) + delta
      if (nc == 0L) pairCount.remove(p) else pairCount(p) = nc
      changed += p
    }

    // initial pass: counts + inverted index
    val init = mutable.HashSet.empty[(String, String)]
    var wi = 0
    while (wi < syms.length) {
      val ss = syms(wi)
      var i = 0
      while (i + 1 < ss.length) {
        val p = (ss(i), ss(i + 1))
        bump(p, cnts(wi), init)
        pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        i += 1
      }
      wi += 1
    }
    pairCount.foreach { case (p, c) => if (c >= 2) heap.add(Entry(c, p._1, p._2)) }

    val merges = mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (merges.length < numMerges && !done) {
      // pop to the first live entry (count still current)
      var best: Entry = null
      while (best == null && !heap.isEmpty) {
        val e = heap.poll()
        if (pairCount.get((e.a, e.b)).contains(e.cnt)) best = e
      }
      if (best == null || best.cnt < 2) done = true
      else {
        val (a, b) = (best.a, best.b)
        merges += Merge(a, b, best.cnt)
        val affected = pairWords.getOrElse((a, b), mutable.BitSet.empty).toArray
        val changed = mutable.HashSet.empty[(String, String)]
        affected.foreach { w =>
          val old = syms(w)
          var i = 0
          while (i + 1 < old.length) {
            val p = (old(i), old(i + 1))
            bump(p, -cnts(w), changed)
            pairWords.get(p).foreach(_ -= w)
            i += 1
          }
          val next = mutable.ArrayBuffer(applyMerge(old.toIndexedSeq, a, b): _*)
          syms(w) = next
          i = 0
          while (i + 1 < next.length) {
            val p = (next(i), next(i + 1))
            bump(p, cnts(w), changed)
            pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += w
            i += 1
          }
        }
        changed.foreach { p =>
          val c = pairCount.getOrElse(p, 0L)
          if (c >= 2) heap.add(Entry(c, p._1, p._2))
        }
      }
    }
    merges.toSeq
  }

  /** Rank-based word segmentation — the production path for real vocab
    * sizes: instead of replaying all M merges over every word (O(V·M),
    * hopeless at 30-50k merges), repeatedly contract the best-ranked
    * adjacent pair present (greedy left-to-right over all its
    * non-overlapping occurrences, via [[applyMerge]]). Equivalent to
    * the sequential replay for any merge list PRODUCED BY BPE TRAINING:
    * a pair (c, a⊕b) can only be learned after (a, b) existed, so its
    * rank is always higher — contracting a pair never enables a
    * lower-ranked one. Pinned against the sequential twin by a
    * randomized test; cost is O(word len × merges APPLICABLE to the
    * word), independent of vocabulary size. */
  private[text] def segmentByRank(w: String,
                                  rank: Map[(String, String), Int]): IndexedSeq[String] = {
    var ss = codepoints(w)
    var done = false
    while (!done && ss.length >= 2) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < ss.length - 1) {
        val r = rank.getOrElse((ss(i), ss(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else ss = applyMerge(ss, ss(bi), ss(bi + 1))
    }
    ss
  }

  /** Merge list → rank lookup for [[segmentByRank]]. */
  private[text] def mergeRanks(merges: Seq[Merge]): Map[(String, String), Int] =
    merges.zipWithIndex.map { case (m, i) => (m.left, m.right) -> i }.toMap

  /** Encode documents to ordered BPE token-id arrays with a learned
    * merge list — the production tokenizer-application step:
    * `(idCol, token_ids array<long>, n_tokens)`.
    *
    * Ids are assigned deterministically: the distinct FINAL subwords of
    * the corpus segmentation in UTF-8 byte order ([[utf8Compare]]),
    * 0-based — engine-replayable as `row_number() OVER (ORDER BY sub)
    * − 1` under binary collation. The vocabulary is model-sized by
    * construction (⊆ alphabet ∪ merge outputs, ≤ |alphabet| +
    * numMerges entries).
    *
    * Scale shape: ONE word-table scan (the only corpus-sized pass),
    * collected under the [[trainLocal]] cap and segmented in JVM code —
    * once per DISTINCT word, never per occurrence. Documents then pay a
    * posexplode + a word join (AQE broadcasts the model-sized word→ids
    * map) + one doc-keyed assembly aggregate; the id arrays travel ONE
    * shuffle, the materialization trade [[Packing.packedText]] makes.
    * Output feeds `Packing.packSequences` directly (its tokenizer-
    * agnostic (doc, tokens) contract). */
  def encode(docs: DataFrame, textCol: String, idCol: String,
             merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordTable(docs, textCol).select(col("word")).as[String].collect()
    require(words.length <= MaxWords,
      s"word table has ${words.length} distinct words > $MaxWords; " +
        "segment distributed as in subwordStats")
    val ranks = mergeRanks(merges)
    val segd = words.map(w => (w, segmentByRank(w, ranks)))
    val vocab = segd.iterator.flatMap(_._2).toSet.toArray
      .sortWith(utf8Compare(_, _) < 0)
    val idOf = vocab.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
    val seg = segd.toSeq.map { case (w, ss) => (w, ss.map(idOf)) }
      .toDF("word", "ids")
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol))))
      .toDF(idCol, "wpos", "word")
      .where(length(col("word")) > 0)
      .join(seg, Seq("word"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("wpos"), col("ids")))),
        x => x.getField("ids"))).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
  }

  /** Segment every distinct word with a learned merge list and roll the
    * subword counts back up to documents: (idCol, n_words, n_subwords).
    * The merge application runs once per DISTINCT word (model-sized);
    * documents only pay an explode + a word-table join (broadcast when
    * the vocabulary fits, AQE decides). */
  def subwordStats(docs: DataFrame, textCol: String, idCol: String,
                   merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = mergeRanks(merges)
    val seg = wordTable(docs, textCol).select(col("word")).as[String]
      .map(w => (w, segmentByRank(w, ranks).length.toLong))
      .toDF("word", "n_sub")
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .join(seg, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }
}
