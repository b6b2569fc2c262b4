package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** The oracle contract `Verify` + `tools/check.py` gate on. SparkEntry
  * merges the five per-domain maps with `++`, so a name repeated across
  * modules would silently shadow a query or its oracle. Pure JVM — no
  * Spark session. */
class OracleCoverageSpec extends AnyFunSuite {

  private val queryMaps = Seq(RelationalQueries.queries, AggregateQueries.queries,
    TextQueries.queries, PipelineQueries.queries, EvalQueries.queries)
  private val oracleMaps = Seq(RelationalQueries.oracles, AggregateQueries.oracles,
    TextQueries.oracles, PipelineQueries.oracles, EvalQueries.oracles)

  /** The rows-only sketch/ANN queries: no SQL reproduces their custom
    * hashes or randomized structures. */
  private val rowsOnly = Set("q18", "q27", "q28", "q37", "q39", "q41", "q42",
    "q51", "q78", "q117", "q197")

  test("query and oracle names are unique across the five modules") {
    assert(queryMaps.map(_.size).sum === SparkEntry.queries.size)
    assert(oracleMaps.map(_.size).sum === SparkEntry.oracleSql.size)
  }

  test("every oracle names a declared query") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("exactly the rows-only sketch/ANN queries lack an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.map(_.takeWhile(_ != '_')) === rowsOnly)
    assert(missing.size === rowsOnly.size)
    assert(SparkEntry.queries.size === 276)
  }
}
