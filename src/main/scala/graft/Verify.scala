package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Usage: runMain graft.Verify <sfDir> <outDir> [name...] — with names,
    * only those queries and their oracles are dumped (the dev loop on one
    * query, ~20 s warm). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val keep = (name: String) => names.isEmpty || names.contains(name)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A failed query must produce a RED correctness row, not an absent
        // one: dump a 1-row sentinel whose schema can never match any
        // oracle, so the driver's compare records the regression instead
        // of silently skipping the query (round-6 lesson: q52/q53 errored
        // and CORRECTNESS_r06.json simply had no row for them).
        try {
          val s_ = spark; import s_.implicits._
          Seq(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}")
            .toDF("_error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${Bench.quote(k)}: ${Bench.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
