package graft.tools

import java.nio.file.{Files, Paths}

/** Gate inventory without a Spark session: counts the declared and oracled
  * queries and names the rows-only ones. With `out.json`, also writes every
  * entry's oracle SQL as one JSON object (the layout `dev/compare_oracles.py`
  * and Verify's `oracle_sql.json` use) for ad-hoc DuckDB compares.
  * Usage: runMain graft.tools.ListGate [out.json]
  */
object ListGate {
  def main(args: Array[String]): Unit = {
    val q = graft.SparkEntry.queries.keySet
    val oracles = graft.SparkEntry.oracleSql
    val o = oracles.keySet
    println(s"QUERIES ${q.size} ORACLED ${(q & o).size}")
    println("ROWS_ONLY: " + (q -- o).toSeq.sorted.mkString(", "))
    println("ORPHAN_ORACLE: " + (o -- q).toSeq.sorted.mkString(", "))
    args.headOption.foreach { out =>
      val json = oracles.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${graft.core.Json.quote(k)}: ${graft.core.Json.quote(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(out), json)
      println(s"DUMPED ${oracles.size} oracle entries to $out")
    }
  }
}
