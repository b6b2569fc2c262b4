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
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
