package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Cell-range-partitioned checkpoint of a match view (the mv_match_* analog)
 * with idempotent per-range resume — the north rule's "any cell-range can
 * resume idempotently, with per-partition lineage + row-count metrics":
 *
 *  - rows are bucketed by a coarse spatial range (100 km grid cell of the
 *    feature centroid) and written with dynamic partition overwrite, so
 *    recomputing ONE range replaces exactly that range's files;
 *  - `_metrics/<version>.json` records per-range row counts + lineage;
 *  - `resume(ranges)` re-runs the match restricted to those ranges and
 *    overwrites only them — byte-stable because every stage is deterministic.
 *
 * The ranges are [[PartitionedStore.Parts]] (the partition protocol and its
 * Iceberg mapping are described there): plain parquet `data/range=<id>`
 * dirs beside `_metrics/` (data and metadata separated, as Iceberg does).
 */
class MatchStore(spark: SparkSession, path: String, rangeCellMeters: Double = 100000.0) {

  /** data lives in its own subdir so writeAll's STATIC overwrite replaces the
    * table without wiping `_metrics/` (which would reset the version sequence
    * and destroy lineage history) — the parquet analog of Iceberg's
    * data/ vs metadata/ split. */
  private val dataPath = s"$path/data"
  private val parts = new PartitionedStore.Parts(spark, dataPath, "range")

  private val rangeCol = {
    // coarse range id from the feature centroid (upstream side if present,
    // else the OSM side — anti-leg rows have no upstream geometry)
    val cx = col("__rx"); val cy = col("__ry")
    (floor(cx / rangeCellMeters) * 100000 + floor(cy / rangeCellMeters)).cast("long")
  }

  private def withRange(matchDf: DataFrame): DataFrame = {
    import graft.functions.GeoFunctions.stCentroid
    matchDf
      .withColumn("__c", stCentroid(coalesce(col("upstream_geom"), col("osm_geom"))))
      .withColumn("__rx", col("__c._1")).withColumn("__ry", col("__c._2"))
      .withColumn("range", rangeCol)
      .drop("__c", "__rx", "__ry")
  }

  /** full (re)write of all ranges — STATIC overwrite, so ranges that vanished
    * from the input (e.g. every feature of a cell was deleted upstream) have
    * their stale partition directories deleted too; dynamic mode would leave
    * them behind and read() would resurrect deleted rows. */
  def writeAll(matchDf: DataFrame, lineage: String): Unit = {
    val df = withRange(matchDf)
    df.write.mode(SaveMode.Overwrite).partitionBy("range").parquet(dataPath)
    writeMetrics(lineage, read())
  }

  /** recompute + overwrite ONLY the given ranges (idempotent resume); a
    * resumed range whose recompute came out empty is deleted. */
  def resume(matchDf: DataFrame, ranges: Seq[Long], lineage: String): Unit = {
    parts.overwrite(withRange(matchDf).filter(col("range").isin(ranges: _*)), ranges)
    // metrics over the RESUMED ranges only (partition-pruned) — a resume
    // must not re-scan the whole store
    writeMetrics(s"$lineage resume=[${ranges.mkString(",")}]",
      read().filter(col("range").isin(ranges: _*)))
  }

  /** partition-dir values are re-inferred as int on read — pin long. */
  def read(): DataFrame =
    spark.read.parquet(dataPath).withColumn("range", col("range").cast("long"))

  /** the ranges on disk, by listing (no job) */
  def ranges(): Seq[Long] = parts.values.map(_.toLong).sorted

  /** `_metrics/<max existing + 1>.json` with `scoped`'s per-range row counts */
  private def writeMetrics(lineage: String, scoped: DataFrame): Unit = {
    val counts = scoped.groupBy("range").count().collect()
      .map(r => s"""{"range":${r.getLong(0)},"rows":${r.getLong(1)}}""")
    PartitionedStore.writeMetrics(path, PartitionedStore.metricsVersion(path) + 1, lineage,
      "ranges", counts.toSeq)
  }
}
