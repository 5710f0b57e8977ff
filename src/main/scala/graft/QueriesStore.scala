package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._
import graft.engine.{MatchStore, PartitionedStore}

/**
 * Checkpoint/resume behind the correctness gate — the north rule's
 * "each stage checkpointed ... so any cell-range can resume idempotently"
 * criterion as a DuckDB-oracled query, not just an sbt spec (MatchStoreSpec).
 *
 * The entry simulates a failed partial job and its repair end to end:
 *
 *   1. deterministic match frame from orders keys (integral coordinates —
 *      the 100 km range id is bit-exact in both engines);
 *   2. initial `writeAll` MISSING every target range except one (`dead`),
 *      which is written but should not exist after repair;
 *   3. `resume(targets)` over a recompute frame that has rows for all
 *      targets EXCEPT `dead` — so the resume must (a) restore the dropped
 *      ranges, (b) leave untouched ranges byte-stable, and (c) DELETE the
 *      stale `dead` partition whose recompute came out empty;
 *   4. the emitted result is the final store state aggregated per range.
 *
 * The oracle recomputes the expected final state from first principles:
 * every range of the full frame except `dead`. Any corruption mode —
 * duplicated rows in resumed ranges, lost rows in untouched ranges, a
 * surviving stale partition — shifts counts/sums and fails the hash.
 */
object QueriesStore {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_store_resume" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("k"))
        .withColumn("x", pmod(col("k") * 48271L, lit(1000000L)).cast("double"))
        .withColumn("y", (pmod(col("k") * 69621L, lit(1000000L)) + 6000000L).cast("double"))
        .withColumn("v", pmod(col("k"), lit(97L)))
        // mirror of MatchStore.rangeCol (100 km grid of the centroid)
        .withColumn("r",
          (floor(col("x") / 100000.0) * 100000 + floor(col("y") / 100000.0)).cast("long"))
      val full = base.select(col("k"), col("v"), col("r"),
        stPoint(col("x"), col("y")).as("upstream_geom"),
        lit(null).cast("binary").as("osm_geom"))

      // deterministic repair set: every third range; the max of them plays
      // the stale range whose recompute is empty
      val targets = base.select("r").distinct().collect().map(_.getLong(0))
        .filter(_ % 3 == 0).sorted.toSeq
      val dead = targets.max

      val path = java.nio.file.Files.createTempDirectory("graft_store_gate").toString
      val store = new MatchStore(s, path)
      store.writeAll(
        full.filter(!col("r").isin(targets.filterNot(_ == dead): _*)),
        "gate: initial partial write")
      store.resume(full.filter(col("r") =!= dead), targets,
        "gate: repair missing ranges + drop stale")

      // materialize the (small, per-range) aggregate on the driver, then
      // delete the temp store — repeated gate runs must not accumulate
      // parquet trees under /tmp
      val agg = store.read().groupBy("range")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
      val rows = agg.collect()
      PartitionedStore.deleteRecursively(java.nio.file.Paths.get(path))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
    }))

  val oracle: Map[String, String] = Map(
    "q_store_resume" ->
      """WITH ranged AS (
        |  SELECT o_orderkey % 97 AS v,
        |    CAST(FLOOR(CAST((o_orderkey*48271)%1000000 AS DOUBLE)/100000)*100000
        |       + FLOOR(CAST((o_orderkey*69621)%1000000 + 6000000 AS DOUBLE)/100000) AS BIGINT) AS r
        |  FROM orders),
        |dead AS (SELECT MAX(r) AS dr FROM (SELECT DISTINCT r FROM ranged WHERE r % 3 = 0))
        |SELECT r AS range, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |FROM ranged WHERE r <> (SELECT dr FROM dead)
        |GROUP BY r""".stripMargin)
}
