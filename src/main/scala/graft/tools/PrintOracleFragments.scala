package graft.tools

/** Prints the shared oracle CTE fragments with sentinel delimiters, so
  * `scripts/build_cal_prefix.py` (the sf10 oracle harness) can split each
  * calibrated-family oracle into (shared prefix, consumer suffix) EXACTLY —
  * the prefix is materialized once per DuckDB session instead of being
  * re-derived per query (semantically identical: the generator SQL is
  * deterministic and it is still DuckDB's own derivation, never the
  * engine's output). */
object PrintOracleFragments {
  def main(args: Array[String]): Unit = {
    println("===PAIRS_CTES===")
    println(graft.queries.OracleSql.calibratedPairsCtes)
    println("===EDGES_CTES===")
    println(graft.queries.OracleSql.calibratedEdgesCtes)
    println("===COMPS_PREFIX===")
    println(graft.queries.OracleSql.calibratedCompsPrefix)
    println("===END===")
  }
}
