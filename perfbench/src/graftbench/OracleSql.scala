package graftbench

/** Prints `{"query": "<DuckDB oracle SQL>", ...}` for the analytics
  * queries, for `perfbench/tools/oracle_fingerprints.py`.
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json.obj(Suite.Queries.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }))
}
