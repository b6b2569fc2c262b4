package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — suites run
  * sequentially in sbt's forked test JVM). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4, Seq(
    "spark.app.name" -> "graft-test",
    // bucketed-table tests write via saveAsTable: keep the warehouse out
    // of the repo tree
    "spark.sql.warehouse.dir" -> SparkSpec.tempDir("graft-warehouse").toString))
}

object SparkSpec {
  /** One directory per test JVM, deleted with everything in it when the
    * JVM exits. */
  private lazy val root: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** A fresh directory under the per-JVM root: every file a test writes
    * goes when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, prefix)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `body` ran, counted by [[JobLog]]. Listener events
    * arrive asynchronously, so a marker job in its own group runs last:
    * once its end is seen, every earlier event has been delivered. */
  def jobsOf(body: => Unit): Int = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val sc = spark.sparkContext
    val log = new JobLog
    def inGroup(g: String) = log.synchronized(log.jobs.values.toSeq).filter(
      _._1.exists(_.getProperty("spark.jobGroup.id") == g))
    sc.addSparkListener(log)
    try {
      sc.setJobGroup("spark-spec-measured", "measured")
      body
      sc.setJobGroup("spark-spec-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(Span(30, Seconds))) {
        assert(inGroup("spark-spec-marker").exists(_._3 > 0L))
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(log)
    }
    inGroup("spark-spec-measured").size
  }

  /** Runs `body`, whose query is expected to fail, with the loggers
    * that report the failure off — Spark's `Executor` and
    * `TaskSetManager` for a failed task, `ExecutionListenerBus` for the
    * listener that re-raises it asynchronously — so the expected failure
    * prints no stack trace into the result lines. The listener bus is
    * drained before the loggers are restored, inherited levels
    * included. */
  def quietTaskFailures[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager",
      "org.apache.spark.sql.util.ExecutionListenerBus")
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val own = names.map(n => n -> Option(ctx.getConfiguration.getLoggers.get(n)).map(_.getLevel))
    names.foreach(Configurator.setLevel(_, Level.OFF))
    try body
    finally {
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      own.foreach {
        case (n, Some(level)) => Configurator.setLevel(n, level)
        case (n, None) => ctx.getConfiguration.removeLogger(n)
      }
      ctx.updateLoggers()
    }
  }
}
