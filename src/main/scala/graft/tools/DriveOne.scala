package graft.tools

/** Run one or more gate queries to parquet + dump their oracle SQL — the
  * fast path for iterating on `SparkEntry.queries` entries without a full
  * Verify run (one Spark session, the gate's, amortized over the list).
  * Usage: runMain graft.tools.DriveOne <name>[,<name>...] [sfDir] [outDir]
  */
object DriveOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 2) args(2) else "/tmp/drive_one"
    val spark = Sessions.local(Sessions.gateCores, Sessions.Gate)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown gate query: $name"))
      fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      println(s"WROTE $outDir/$name")
    }
    val sqls = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    if (sqls.nonEmpty) {
      val j = sqls.map { case (n, sql) => s""""$n": ${graft.core.Json.quote(sql)}""" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
        j.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
