package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Counts the ERROR lines the Spark scheduler logs, through a log4j
  * appender added to the root logger. On install it logs one probe line
  * under the scheduler's logger prefix and fails unless the probe was
  * counted, so a counter that cannot see scheduler errors never reads 0
  * silently. */
object ErrorLines {
  val Prefix = "org.apache.spark.scheduler"

  def install(): AtomicLong = {
    val n = new AtomicLong()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-scheduler-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.ERROR &&
            e.getLoggerName.startsWith(Prefix)) n.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    LogManager.getLogger(s"$Prefix.PerfbenchProbe")
      .error("perfbench: probe of the scheduler-error counter, not an error")
    if (n.get != 1) throw new IllegalStateException(
      s"the scheduler-error counter counted ${n.get} of its one probe line")
    n.set(0)
    n
  }
}

/** A span: one call the benchmark makes into the program, with its
  * wall-clock interval in epoch milliseconds. Spans of one op share `op`. */
final case class Span(id: Long, op: Long, parent: Option[Long], name: String,
                      kind: String, pass: Int, startMs: Double, endMs: Double)

/** Records spans around the benchmark's calls and attributes Spark's
  * jobs, stages, tasks and query plans to the span that was open on the
  * driver thread when they started. Jobs and stages are attributed by a
  * local property, which Spark copies into their events, so the
  * asynchronous listener bus needs no timing assumptions. A query
  * execution event carries no properties; its planning phases' interval
  * places it in a span. Everything stays in memory until [[write]]. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val plans = new ConcurrentLinkedQueue[String]()
  private val jobStart = mutable.Map[Int, (String, Long, Seq[Int])]()
  private val stageSpan = mutable.Map[Int, (String, Long)]()
  private val stageAgg = mutable.Map[(Int, Int), Array[Long]]()
  private val stageDone = new ConcurrentLinkedQueue[String]()
  private val open = new AtomicLong()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def spanOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      lastEvent.set(System.nanoTime())
      spanOf(e.properties).foreach { s =>
        open.incrementAndGet()
        jobStart(e.jobId) = (s, e.time, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      lastEvent.set(System.nanoTime())
      jobStart.remove(e.jobId).foreach { case (s, t0, stages) =>
        open.decrementAndGet()
        jobs.add(Json(Map("type" -> "job", "job" -> e.jobId, "span" -> s,
          "start_ms" -> t0, "end_ms" -> e.time, "stage_ids" -> stages,
          "ok" -> (e.jobResult == JobSucceeded))))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      lastEvent.set(System.nanoTime())
      spanOf(e.properties).foreach { s =>
        stageSpan(e.stageInfo.stageId) =
          (s, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      lastEvent.set(System.nanoTime())
      if (stageSpan.contains(e.stageId)) {
        val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](NMetrics))
        a(0) += 1
        if (e.reason != org.apache.spark.Success) a(1) += 1
        val m = e.taskMetrics
        if (m != null) {
          a(2) += m.executorRunTime
          a(3) += m.jvmGCTime
          a(4) += m.inputMetrics.bytesRead
          a(5) += m.inputMetrics.recordsRead
          a(6) += m.shuffleReadMetrics.totalBytesRead
          a(7) += m.shuffleWriteMetrics.bytesWritten
          a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(9) += m.outputMetrics.bytesWritten
          a(10) += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      lastEvent.set(System.nanoTime())
      val id = e.stageInfo.stageId
      stageSpan.get(id).foreach { case (s, t0) =>
        val a = stageAgg.remove((id, e.stageInfo.attemptNumber())).getOrElse(new Array[Long](NMetrics))
        stageDone.add(Json(Map("type" -> "stage", "stage" -> id,
          "attempt" -> e.stageInfo.attemptNumber(), "span" -> s, "submit_ms" -> t0) ++
          MetricNames.zip(a)))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEvent.set(System.nanoTime())
      val phases = qe.tracker.phases
      val (nodes, exchanges) = planCounts(qe.executedPlan)
      plans.add(Json(Map("type" -> "plan", "func" -> funcName,
        "plan_ms" -> phases.values.map(_.durationMs).sum,
        "phases" -> phases.map { case (k, v) => k -> Seq(v.startTimeMs, v.endTimeMs) },
        "nodes" -> nodes, "exchanges" -> exchanges)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      lastEvent.set(System.nanoTime())
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val ids = new AtomicLong()

  /** Run `f` inside a new span, passing it the span's id. Spark work that
    * `f` starts carries the id. A root span is an op; its children share
    * its id as their `op`. */
  def span[T](parent: Option[Long], name: String, kind: String, pass: Int)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.nowMs
    try f(id) finally {
      spans.add(Span(id, parent.getOrElse(id), parent, name, kind, pass, t0, Clock.nowMs))
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  /** Wait until the listener bus has delivered every event of the traced
    * work: all traced jobs ended and no event arrived for a quiet period. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = System.nanoTime() - lastEvent.get() > 500L * 1000000L
    while (System.nanoTime() < deadline && !(open.get() == 0 && quiet)) Thread.sleep(50)
  }

  def write(path: String): Unit = {
    drain()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.asScala.foreach { s =>
        w.println(Json(Map("type" -> "span", "id" -> s.id, "op" -> s.op,
          "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind, "pass" -> s.pass,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
      (jobs.asScala ++ stageDone.asScala ++ plans.asScala).foreach(w.println)
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val MetricNames = Seq("tasks", "tasks_failed", "task_ms", "gc_ms", "input_bytes",
    "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "output_rows")
  val NMetrics: Int = MetricNames.size

  /** (nodes, exchanges) of a physical plan, descending into adaptive
    * plans, query stages and subqueries; each node counted once. */
  def planCounts(root: SparkPlan): (Int, Int) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      (p.children ++ p.subqueries).foreach(walk)
    }
    walk(root)
    val all = seen.asScala.toSeq
    (all.count(p => !p.isInstanceOf[AdaptiveSparkPlanExec] && !p.isInstanceOf[QueryStageExec]),
      all.count(_.isInstanceOf[Exchange]))
  }
}

/** Wall clock with sub-millisecond resolution, aligned to epoch ms so
  * spans line up with the millisecond timestamps of Spark's events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
