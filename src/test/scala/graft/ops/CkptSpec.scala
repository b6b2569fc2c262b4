package graft.ops

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The checkpoint primitives' contract ([[Ckpt]]): counts ride the one
  * materialization job, and a released checkpoint fails loudly when
  * read. Plus the source rule that keeps them the only home. */
class CkptSpec extends SparkSpec {

  private def ids: DataFrame = spark.range(0, 1000, 1, 4).toDF("id")

  test("counts: every flag rides the one checkpoint job") {
    // control: a checkpoint then a separate count costs more than one
    // job — the counter sees the second pass
    assert(jobsOf(ids.localCheckpoint(eager = true).count()) >= 2)
    var got = Map.empty[String, Long]
    val jobs = jobsOf {
      got = Ckpt.counts(ids, "even" -> (col("id") % 2 === 0),
        "big" -> (col("id") >= 900), "n" -> lit(true))._2
    }
    assert(jobs === 1)
    assert(got === Map("even" -> 500L, "big" -> 100L, "n" -> 1000L))
  }

  test("counts: an empty input reads 0 for every flag") {
    for (empty <- Seq(spark.range(0).toDF("id"), ids.where(lit(false)))) {
      val (out, got) = Ckpt.counts(empty, "n" -> lit(true),
        "odd" -> (col("id") % 2 === 1))
      assert(got === Map("n" -> 0L, "odd" -> 0L))
      assert(out.count() === 0L)
    }
  }

  test("release: reading a released checkpoint fails loudly") {
    val (df, c) = Ckpt.counts(ids, "n" -> lit(true))
    assert(c("n") === 1000L && df.count() === 1000L)
    Ckpt.release(df)
    // the block removal is asynchronous; once it lands the read must
    // fail — never recompute, never come back short
    quietTaskFailures(eventually(timeout(Span(30, Seconds))) {
      intercept[SparkException](df.collect())
    })
  }

  test("source rule: one Observation home, one withNodeIds hint in Graphs") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val observing = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("Observation("))
      .map(_.getFileName.toString).toSeq
    assert(observing === Seq("Ckpt.scala"),
      "count rows through graft.ops.Ckpt.counts, not a local Observation")
    val graphs = Files.readString(root.resolve("graft/ops/Graphs.scala"))
    assert("withNodeIds first".r.findAllIn(graphs).size === 1,
      "route edge and source ids through Graphs' intake helpers")
  }
}
