package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.{SparkEntry, Tables}
import graft.jobs.{EventsDailyView, HistoryStateJob, SketchRollupJob}
import graft.ops.BatchView

/** One unit of timed work. `build` calls the program's builder and returns
  * the call that executes what it built. */
final case class Op(name: String, kind: String, build: () => (() => Unit))

trait Workload {
  def ops: Seq[Op]

  /** Untimed: put the outputs back to their state before a pass. */
  def beforePass(): Unit = ()

  /** Untimed, after the timed passes: writes the outputs the correctness
    * check reads into `checkDir`. Returns the dumps that failed, with the
    * error. */
  def dump(checkDir: String): Map[String, String]

  /** Untimed: digests of results that have no oracle; the digests taken
    * after the timed passes must equal those taken after the warm-up. */
  def digests(): Map[String, String]

  /** Parquet bytes and files the last pass left on disk, for workloads
    * that write. */
  def stored(): Option[(Long, Int)] = None
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def attempt(failures: collection.mutable.Map[String, String], name: String)(f: => Unit): Unit =
    try f catch { case NonFatal(e) => failures(name) = Harness.describe(e) }
}

/** Declared queries: an op builds the query's DataFrame through
  * `SparkEntry.queries(name)` and materialises it through the noop sink,
  * exactly as `graft.Bench` does. */
final class Queries(spark: SparkSession, dataDir: String, names: Seq[String]) extends Workload {
  private val oracles = SparkEntry.oracleSql
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  val ops: Seq[Op] = fns.map { case (n, fn) =>
    Op(n, "query", () => { val df = fn(spark, dataDir); () => Workload.noop(df) })
  }

  def dump(checkDir: String): Map[String, String] = {
    val failures = collection.mutable.Map[String, String]()
    val checked = fns.filter { case (n, _) => oracles.contains(n) }
    checked.foreach { case (n, fn) =>
      Workload.attempt(failures, n) {
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
      }
    }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json(checked.map { case (n, _) => n -> oracles(n) }.toMap))
    failures.toMap
  }

  def digests(): Map[String, String] =
    fns.collect { case (n, fn) if !oracles.contains(n) =>
      n -> (try Workload.digest(fn(spark, dataDir)) catch { case NonFatal(e) => Harness.describe(e) })
    }.toMap
}

/** The daily write path: per event-day `EventsDailyView.run` and
  * `SketchRollupJob.runDay`, per document-day `HistoryStateJob.appendDay`,
  * then the read-backs and `BatchView` compaction. A document's day is
  * `doc_id mod docDays`. */
final class Ingest(spark: SparkSession, dataDir: String, work: String,
                   eventDays: Seq[String], docDays: Int) extends Workload {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
  private def next(d: String) = LocalDate.parse(d, fmt).plusDays(1).format(fmt)
  private val base = s"$work/out/views"
  private val (first, last) = (eventDays.head, eventDays.last)
  private val docDayNames = (0 until docDays).map(k => LocalDate.parse(first, fmt).plusDays(k).format(fmt))
  private val tables = Seq(HistoryStateJob.PresenceTable, HistoryStateJob.SizesTable,
    HistoryStateJob.ParagraphFpTable, HistoryStateJob.ContainDfTable, HistoryStateJob.ContainSizesTable)

  private def dayEvents(d: String): DataFrame = {
    val e = Tables.events(spark, dataDir)
    e.where(EventsDailyView.dayRange(e, d, next(d)))
  }

  val ops: Seq[Op] =
    eventDays.flatMap { d =>
      Seq(
        Op(s"events_daily:$d", "jobs.events_daily", () => {
          val args = EventsDailyView.Args(d, Some(d), dataDir, base)
          () => EventsDailyView.run(spark, args)
        }),
        Op(s"sketch_rollup:$d", "jobs.sketch_rollup", () => {
          val de = dayEvents(d)
          () => SketchRollupJob.runDay(spark, de, d, base, "user_id", "value")
        }))
    } ++ docDayNames.zipWithIndex.map { case (d, k) =>
      Op(s"history_append:$d", "jobs.history_append", () => {
        val docs = Tables.documents(spark, dataDir).where(pmod(col("doc_id"), lit(docDays.toLong)) === k)
        () => HistoryStateJob.appendDay(spark, docs, d, "text", "doc_id", "source")
      })
    } ++ Seq(
      Op("read:active_users", "jobs.read", () => {
        val df = SketchRollupJob.activeUsers(spark, base, first, last)
        () => df.collect()
      }),
      Op("read:heavy_keys", "jobs.read", () => {
        val df = SketchRollupJob.heavyKeys(spark, base, first, last)
        () => df.collect()
      }),
      Op("read:containment_index", "jobs.read", () => {
        val (df, sizes) = HistoryStateJob.readContainmentIndex(spark, "doc_id")
        () => { Workload.noop(df); Workload.noop(sizes) }
      }),
      Op("read:paragraph_fps", "jobs.read", () => {
        val df = HistoryStateJob.readParagraphFps(spark)
        () => Workload.noop(df)
      }),
      Op("compact:events_daily", "jobs.compact", () => {
        val root = BatchView.viewPath(base, EventsDailyView.jobName, EventsDailyView.viewVersion)
        () => BatchView.compactPartitioned(spark, root, 1000000L)
      }))

  override def beforePass(): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Harness.deleteTree(new File(base))
  }

  /** Reads the state the last pass left. */
  def dump(checkDir: String): Map[String, String] = {
    val failures = collection.mutable.Map[String, String]()
    Workload.attempt(failures, "check:active_users") {
      eventDays.map(d => SketchRollupJob.activeUsers(spark, base, d, d)
          .withColumn("day", lit(d)))
        .reduce(_ unionByName _)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/active_users")
    }
    Workload.attempt(failures, "check:events_daily") {
      BatchView.read(spark, base, EventsDailyView.jobName, EventsDailyView.viewVersion)
        .withColumn(EventsDailyView.dayColumn, col(EventsDailyView.dayColumn).cast("string"))
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/events_daily")
    }
    Workload.attempt(failures, "check:containment_sizes") {
      HistoryStateJob.readContainmentIndex(spark, "doc_id")._2
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/containment_sizes")
    }
    failures.toMap
  }

  /** Sketch read-backs of the latest pass; they must not drift between passes. */
  def digests(): Map[String, String] = Map(
    "read:active_users" -> Workload.digest(SketchRollupJob.activeUsers(spark, base, first, last)),
    "read:heavy_keys" -> Workload.digest(SketchRollupJob.heavyKeys(spark, base, first, last)))

  /** Views plus the catalog tables' directories in the warehouse. */
  override def stored(): Option[(Long, Int)] = {
    val parquet = (Seq(new File(base)) ++ tables.map(t => new File(s"$work/warehouse", t.toLowerCase)))
      .flatMap(Harness.parquetFiles)
    Some((parquet.map(_.length()).sum, parquet.size))
  }
}

/** Runs one workload in one JVM: session, warm-up passes, timed passes
  * until the measuring time is used up, then the correctness dump. Writes raw
  * samples as JSON for `run.py`, which computes the metrics. */
object Harness {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  /** `graft.Bench`'s session settings, plus locations inside the work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = kv("work")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val spark = session(kv("cpus").toInt, work)
    // after the session: Spark may reconfigure logging while it starts
    val errors = ErrorLines.install()
    val checkDir = s"$work/check"
    val workload: Workload = kv("workload") match {
      case "ingest" =>
        new Ingest(spark, kv("data"), work, kv("event-days").split(",").toSeq,
          kv("doc-days").toInt)
      case _ => new Queries(spark, kv("data"), kv("ops").split(",").toSeq)
    }
    val trace = if (traced) Some(new Trace(spark)) else None
    val sessionS = (Clock.nowMs - startMs) / 1e3

    // Warm-up: `--warmup` untimed passes through the timed code path, which
    // record failures, then the digests the end of the run must repeat.
    // While the JIT compiles the library, each of the first passes runs
    // faster than the one before; the warm-up passes take most of that
    // trend out of the timed ones. The correctness dump waits until after
    // the timed passes, where it runs warm, so the run's time goes to
    // measuring.
    val untimedFailures = collection.mutable.Map[String, String]()
    for (_ <- 0 until kv("warmup").toInt) {
      workload.beforePass()
      workload.ops.foreach(op => Workload.attempt(untimedFailures, op.name)(op.build()()))
    }
    val warmDigests = workload.digests()
    val setupS = (Clock.nowMs - startMs) / 1e3

    // Timed passes. A traced run traces passes in the order traced,
    // untraced, untraced, traced, ... and makes at least four, so the
    // untraced passes give the tracing overhead without favouring either
    // side while the JIT is still warming.
    val passes = collection.mutable.ArrayBuffer[String]()
    var measured = 0.0
    var pass = 0
    while (measured < seconds || (traced && pass < 4)) {
      workload.beforePass()
      val tracedPass = trace.filter(_ => pass % 4 == 0 || pass % 4 == 3)
      val err0 = errors.get
      val t0 = System.nanoTime()
      val opRecords = workload.ops.map { op =>
        val o0 = System.nanoTime()
        val error = try {
          tracedPass match {
            case Some(t) =>
              t.span(None, op.name, op.kind, pass) { id =>
                val exec = t.span(Some(id), "build", op.kind, pass)(_ => op.build())
                t.span(Some(id), "exec", op.kind, pass)(_ => exec())
              }
            case None => op.build()()
          }
          None
        } catch { case NonFatal(e) => Some(describe(e)) }
        Json(Map("name" -> op.name, "kind" -> op.kind, "s" -> (System.nanoTime() - o0) / 1e9,
          "error" -> error))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      measured += wall
      val errLines = errors.get - err0
      // Two collections around a pause: the first lets Spark's context
      // cleaner see unreachable broadcasts and shuffles, the second
      // collects what it released.
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val stored = workload.stored()
      passes += s"""{"pass":$pass,"traced":${tracedPass.isDefined},"wall_s":$wall,""" +
        s""""heap_mb":$heap,"error_lines":$errLines,"stored_bytes":${Json(stored.map(_._1))},""" +
        s""""parquet_files":${Json(stored.map(_._2))},"ops":${opRecords.mkString("[", ",", "]")}}"""
      pass += 1
    }

    val endDigests = workload.digests()
    untimedFailures ++= workload.dump(checkDir)
    trace.foreach(_.write(kv("trace-file")))
    val out = s"""{"setup_s":$setupS,"session_s":$sessionS,"error_lines_run":${errors.get},""" +
      s""""untimed_failures":${Json(untimedFailures)},""" +
      s""""digests_warm":${Json(warmDigests)},"digests_end":${Json(endDigests)},""" +
      s""""passes":${passes.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(kv("result")), out)
    spark.stop()
  }
}
