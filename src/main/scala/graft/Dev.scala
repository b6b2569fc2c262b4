package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** Dev-only measurement tools on Bench's session, warm-up and noop sink;
  * their output is not part of the Bench/Verify contract. Usage: runMain graft.Dev
  *   - `time <sfDir> <reps> <name>...`: min-of-reps, round-major timing
  *     of several queries in ONE JVM, so targets and drift controls share
  *     a measurement window (a shared host drifts ±30-80% between windows);
  *   - `prof <sfDir> <reps> <name>`: per-Spark-job wall time (with job
  *     descriptions), driver gaps and the slowest stages of the last run;
  *   - `plan <sfDir> <outDir> <tag> <name>...`: each query's formatted
  *     plan (planning only) to `<outDir>/<name>_<tag>.txt`.
  * `time` and `prof` warm up with one untimed pass over
  * `SPARK_GRAFT_WARMUP_DIR` when it is set, else over `sfDir`. */
object Dev {
  def main(args: Array[String]): Unit = {
    val tool: SparkSession => Unit = args.toList match {
      case "time" :: sfDir :: reps :: names if names.nonEmpty =>
        time(_, sfDir, reps.toInt, names)
      case "prof" :: sfDir :: reps :: name :: Nil =>
        prof(_, sfDir, reps.toInt, name)
      case "plan" :: sfDir :: outDir :: tag :: names if names.nonEmpty =>
        plan(_, sfDir, outDir, tag, names)
      case _ => sys.error("usage: Dev time <sfDir> <reps> <name>... | " +
        "prof <sfDir> <reps> <name> | plan <sfDir> <outDir> <tag> <name>...")
    }
    val spark = GraftSession.local()
    try tool(spark) finally spark.stop()
  }

  private def warmUp(spark: SparkSession, queries: Seq[Bench.Query],
                     sfDir: String): Unit =
    Bench.warmUp(spark, queries, sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", sfDir))

  private def time(spark: SparkSession, sfDir: String, reps: Int,
                   names: Seq[String]): Unit = {
    val queries = names.map(n => n -> SparkEntry.queries(n))
    warmUp(spark, queries.map(_._2), sfDir)
    val best = Bench.timeQueries(spark, queries, sfDir, reps)
    names.foreach(n => println(best(n).fold(e => s"TIME $n error=$e", s => f"TIME $n sec=$s%.3f")))
  }

  private def prof(spark: SparkSession, sfDir: String, reps: Int,
                   name: String): Unit = {
    val log = new JobLog
    val fn = SparkEntry.queries(name)
    warmUp(spark, Seq(fn), sfDir)
    spark.sparkContext.addSparkListener(log)
    val secs = (1 to reps).map { _ =>
      log.synchronized { log.jobs.clear(); log.stages.clear() }
      val t0 = System.nanoTime()
      Bench.noop(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"RUN $name sec=$sec%.3f jobs=${log.jobs.size} stages=${log.stages.size}")
      sec
    }
    spark.sparkContext.removeSparkListener(log)
    println("== jobs (last run) ==")
    var gap = 0L; var prevEnd = 0L
    log.jobs.foreach { case (id, (props, start, end, nStages)) =>
      if (prevEnd > 0 && start > prevEnd) gap += start - prevEnd
      prevEnd = math.max(prevEnd, end)
      val desc = props.fold("")(_.getProperty("spark.job.description", ""))
      println(f"job $id%3d ${end - start}%6d ms  stages=$nStages%2d  ${desc.take(80)}")
    }
    println(f"driver gaps between jobs: $gap%d ms")
    println("== stages by wall ms (last run) ==")
    log.stages.toSeq.sortBy(-_._2._2).take(25).foreach { case (id, (nm, ms, nt)) =>
      println(f"stage $id%4d $ms%6d ms tasks=$nt%3d  $nm")
    }
    println(f"BEST $name sec=${secs.min}%.3f")
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   tag: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"PLAN $name exchanges=${"Exchange".r.findAllIn(plan).size} chars=${plan.length}")
    }
  }
}

/** The jobs and completed stages a session runs while this listener is
  * added. Events arrive on the listener-bus thread: read under its lock.
  * `jobs`: id -> (local properties, start ms, end ms — 0 while running,
  * stages), in start order; `stages`: id -> (name, wall ms, tasks). */
private[graft] final class JobLog extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, (Option[java.util.Properties], Long, Long, Int)]()
  val stages = mutable.LinkedHashMap[Int, (String, Long, Int)]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobs(e.jobId) = (Option(e.properties), e.time, 0L, e.stageInfos.size))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.updateWith(e.jobId)(_.map(_.copy(_3 = e.time))))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val ms = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
    stages(si.stageId) = (si.name.takeWhile(_ != '\n').take(90), ms, si.numTasks)
  }
}
