package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.network.util.JavaUtils
import scala.jdk.CollectionConverters._

/** The session contract: the effective settings every main and suite run
  * under, and the rule that [[GraftSession]] is the only place a session
  * is configured. AQE, coalescing and its 1 MB floor are Spark defaults
  * GraftSession relies on without setting — pinned here so an upstream
  * default change fails loudly. */
class GraftSessionSpec extends SparkSpec {

  test("effective session conf: AQE, coalesce floor, excluded rule, nanos, UTC") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "true")
    assert(JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")) === 1048576L)
    assert(conf.get("spark.sql.optimizer.excludedRules").split(",").map(_.trim)
      .contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
  }

  test("no SparkSession.builder() in src/main outside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(root.relativize(_: Path).toString).toSeq
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not in: ${offenders.mkString(", ")}")
  }
}
