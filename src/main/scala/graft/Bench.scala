package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Compact per-query record sized for the driver's ~2000-char tail
    * window: integer MILLISECONDS indexed by query NUMBER (every name is
    * `qN_...`, N unique), null for a failed query or a numbering gap,
    * chunked so a partially captured window still yields whole chunks.
    * ~6 chars/query ⇒ all 227 fit in ~1.4 KB vs ~7 KB for the named
    * map. tools/benchdiff.py joins two artifacts on the number. Returns
    * one fallback line when names are unnumbered or numbers collide
    * (a silent drop would read as \"covered everything\"). */
  private[graft] def qmsLines(
      results: Map[String, Either[String, Double]]): Seq[String] = {
    val numOf = "^q0*([0-9]+)_".r
    val byNum: Map[Int, Either[String, Double]] = results.map { case (k, v) =>
      numOf.findFirstMatchIn(k).map(_.group(1).toInt).getOrElse(-1) -> v
    }
    if (byNum.size == results.size && !byNum.contains(-1)) {
      // chunk by NUMBER-LINE windows of 80, not by key count: a future
      // outlier number (numbering gap) then gets its own small chunk
      // instead of inflating one line past the tail window
      val nums = byNum.keys.toSeq.sorted
      nums.groupBy(n => (n - nums.head) / 80).toSeq.sortBy(_._1).map {
        case (_, grp) =>
          val (lo, hi) = (grp.min, grp.max)
          val vs = (lo to hi).map { n =>
            byNum.get(n) match {
              case Some(Right(s)) => math.round(s * 1000).toString
              case _ => "null"
            }
          }.mkString(",")
          s"""{"metric":"qms","lo":$lo,"hi":$hi,"v":[$vs]}"""
      }
    } else
      Seq("""{"metric":"qms_skipped","reason":"non-unique or unnumbered query names"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val queries = SparkEntry.queries.toSeq
    // Warmup at a small SF: compiles the same generated-code classes and
    // warms the JIT/parquet paths, so timed numbers measure the queries,
    // not first-query JVM startup. Disable with SPARK_GRAFT_WARMUP=0.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1" && warmupDir != sfDir)
      warmUp(spark, queries.map(_._2), warmupDir)
    val results = timeQueries(spark, queries, sfDir,
      sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val qs = results.map {
      case (k, Right(v)) => s"\"" + k + "\":" + v
      case (k, Left(_)) => s"\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) =>
      s"\"" + k + "\":" + quote(e) }
      .mkString("{", ",", "}")
    val total = results.values.collect { case Right(v) => v }.sum
    val nFailed = results.values.count(_.isLeft)
    // Output is tail-captured by the driver (a ~2000-char window off the
    // END of stdout), so order lines least- to most-important: one small
    // line per query FIRST (each independently parseable — partial
    // capture degrades gracefully), the combined full-precision map (the
    // local-log regression record — too wide for the tail window), and
    // then the lines that must survive the window: the failure names,
    // the COMPACT ms-rounded per-query timings (see below), and LAST the
    // compact total.
    results.toSeq.sortBy(_._1).foreach {
      case (k, Right(v)) =>
        println(s"""{"metric":"query","name":"$k","value":$v,"unit":"sec"}""")
      case (k, Left(e)) =>
        println(s"""{"metric":"query","name":"$k","error":${quote(e)}}""")
    }
    val errNames = results.collect { case (k, Left(_)) => "\"" + k + "\"" }
      .toSeq.sorted.mkString("[", ",", "]")
    println(s"""{"metric":"queries","unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // The same map ms-ROUNDED — the most compact complete named form
    // this contract admits. Placement note (r18, measured): the driver
    // keeps a 2000-char tail window; the query NAMES alone total 4741
    // chars, so NO complete named map can ever sit fully inside the
    // window next to the total line — the number-indexed qms chunks
    // below are the per-query data that provably survives, and they stay
    // nearest the end. This line serves any consumer reading more than
    // the tail (the full log is the regression record).
    val qsMs = results.toSeq.sortBy(_._1).map {
      case (k, Right(v)) => "\"" + k + "\":" + math.round(v * 1000)
      case (k, Left(_)) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"queries_ms","unit":"ms","queries":$qsMs,"sf":"$sfDir"}""")
    println(s"""{"metric":"errors","names":$errNames}""")
    qmsLines(results).foreach(println)
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"n":${results.size},"sf":"$sfDir"}""")
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }

  type Query = (SparkSession, String) => DataFrame

  /** JSON string literal: quotes, backslashes and ALL control chars
    * (<0x20) escaped — Spark exception messages are multi-line, and one
    * raw newline (or a tab in an oracle SQL string) would break
    * the one-JSON-object-per-line output or a JSON parser reading it. */
  private[graft] def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Materialize through the built-in noop sink: every expression in every
    * column is evaluated (a bare count() lets Catalyst prune unreferenced
    * projections and orderBys, under-measuring projection-only queries). */
  private[graft] def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** One untimed pass of every query over `dir`, failures ignored. */
  private[graft] def warmUp(spark: SparkSession, queries: Seq[Query],
                            dir: String): Unit =
    queries.foreach(fn => try noop(fn(spark, dir)) catch { case _: Throwable => () })

  /** Min of `reps` timed passes per query: a shared VM host has intermittent
    * page-fault storms that inflate arbitrary queries by 10-100×; the
    * minimum is the standard robust estimator for actual query cost.
    * Passes are ROUND-MAJOR (whole query set per round, repeated): a
    * storm lasts tens of seconds, so back-to-back passes of one query
    * are correlated — round separation decorrelates the samples the min
    * is taken over. A failing query records an error, never a timing. */
  private[graft] def timeQueries(spark: SparkSession, queries: Seq[(String, Query)],
                                 sfDir: String, reps: Int)
      : Map[String, Either[String, Double]] = {
    val passes = (1 to reps).flatMap(_ => queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      name -> (try { noop(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
      catch { case t: Throwable =>
        Left(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(120)}") })
    })
    passes.groupMap(_._1)(_._2).map { case (name, ps) =>
      name -> ps.collect { case Right(s) => s }.minOption
        .toRight(ps.collectFirst { case Left(e) => e }.get)
    }
  }
}
