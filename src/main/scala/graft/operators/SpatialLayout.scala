package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.core.cell.Morton

/**
 * Z-order file layout for spatial scans (SURVEY.md §4, "spatial index" row):
 * joins use the cell-grid equi-join; SCANS get their file skipping here.
 * `writeZOrdered` splits at z-code quantiles and sorts by the Morton code
 * of the row's grid cell, so every parquet file (and row group) holds a
 * tight, disjoint z-interval; `bboxFilter` turns a bounding box into a few
 * z-code BETWEENs (Morton.ranges) AND'd with the exact coordinate bounds. The
 * BETWEENs are plain comparisons on a stored column → they reach the
 * parquet reader as PushedFilters and skip whole files/row groups by
 * min-max stats — the 100 TB path for "read one municipality's extent off
 * a continent-sized table" (plan- and metrics-asserted in SpatialLayoutSpec).
 *
 * The z-code column is one codegen'd expression (graft.plans.MortonCode,
 * no UDF) calling Morton.interleave — the q_sp_zorder oracle recomputes it
 * in DuckDB with the same five spread steps.
 */
object SpatialLayout {

  /** z-code of the (floor(x/cellSize), floor(y/cellSize)) grid cell.
    * Coordinates must be non-negative (EPSG:3006 northing/easting are). */
  def zOrderCol(x: Column, y: Column, cellSize: Double): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.MortonCode(
      GraftBridge.expression(floor(x / cellSize).cast("long")),
      GraftBridge.expression(floor(y / cellSize).cast("long"))))
  }

  /** Attach the z-code as `zval`. */
  def withZOrder(df: DataFrame, xCol: String, yCol: String, cellSize: Double): DataFrame =
    df.withColumn("zval", zOrderCol(col(xCol), col(yCol), cellSize))

  /** z-code sample points drawn per output file to place the boundaries */
  private val SamplePerFile = 100
  /** seed of the boundary sample: the split depends on the rows alone */
  private val BoundarySeed = 42L
  /** how far, in files, a boundary may move off its quantile */
  private val BoundarySlack = 0.25

  /**
   * Cluster to `numFiles` parquet files by z-code: file i holds the zvals
   * from boundary i to boundary i+1, so the per-file z-intervals are
   * disjoint, and the within-partition sort makes row groups tight. One
   * shuffle, once, at write time — every later bbox scan pays only for the
   * files its z-ranges touch.
   *
   * Boundary i lies within [[BoundarySlack]] files of the i-th quantile of
   * a fixed-seed `zval` sample, so files stay balanced; inside that window
   * it is the z-code aligned to the coarsest quadtree block, so each file
   * is a union of whole blocks and a bbox touches few of them. The split
   * depends only on the input (its rows and partitioning), never on what
   * the session ran before — `repartitionByRange` seeds its sample from RDD
   * ids.
   */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    cellSize: Double, numFiles: Int = 32): Unit = {
    val z = withZOrder(df, xCol, yCol, cellSize)
    val sample = z.select("zval").orderBy(rand(BoundarySeed))
      .limit(SamplePerFile * numFiles).collect().map(_.getLong(0)).sorted
    def at(file: Double): Long =
      sample(math.min(sample.length - 1, (file * sample.length / numFiles).toInt))
    val bounds = if (sample.isEmpty) Nil else (1 until numFiles)
      .map(i => blockAligned(at(i - BoundarySlack), at(i + BoundarySlack))).distinct
    val file = bounds.map(b => (col("zval") >= b).cast("int")).foldLeft(lit(0))(_ + _)
    z.repartitionById(numFiles, file)
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(path)
  }

  /** the z-code in [lo, hi] that is a multiple of the largest power of 4 —
    * the start of the coarsest quadtree block beginning inside the range */
  private def blockAligned(lo: Long, hi: Long): Long =
    (31 to 0 by -1).iterator.map(k => -Math.floorDiv(-lo, 1L << 2 * k) << 2 * k)
      .find(_ <= hi).get

  /**
   * Pushdown-able bbox predicate over a z-ordered layout: OR of few zval
   * BETWEENs (file/row-group skipping) AND the exact bounds (correctness —
   * the ranges may over-cover, never under-cover; see Morton.ranges).
   * `maxRanges` caps the OR width via the quadtree depth (a too-wide OR
   * stops being a win in the parquet filter evaluator).
   */
  def bboxFilter(x: Column, y: Column, cellSize: Double,
                 minX: Double, minY: Double, maxX: Double, maxY: Double,
                 maxRanges: Int = 64): Column = {
    require(minX >= 0 && minY >= 0 && minX <= maxX && minY <= maxY, "bbox must be valid, non-negative")
    val exact = x >= minX && x <= maxX && y >= minY && y <= maxY
    zRangesFilter(cellSize, minX, minY, maxX, maxY, maxRanges) && exact
  }

  /** Just the z-interval cover of the bbox (exact refinement NOT included). */
  def zRangesFilter(cellSize: Double, minX: Double, minY: Double,
                    maxX: Double, maxY: Double, maxRanges: Int = 64): Column = {
    val rs = zRanges(cellSize, minX, minY, maxX, maxY, maxRanges)
    rs.map { case (lo, hi) => col("zval") >= lo && col("zval") <= hi }
      .reduce(_ || _)
  }

  /** z-intervals for the bbox: the exact cover, and when that exceeds
    * `maxRanges`, the smallest inter-range gaps are bridged (keeping the
    * maxRanges-1 LARGEST gaps) — a tighter over-cover than re-descending
    * the quadtree at reduced depth, computed in one decomposition pass.
    * Always a superset of the exact cover, never an under-cover. */
  def zRanges(cellSize: Double, minX: Double, minY: Double,
              maxX: Double, maxY: Double, maxRanges: Int): Array[(Long, Long)] = {
    val x0 = math.floor(minX / cellSize).toLong
    val y0 = math.floor(minY / cellSize).toLong
    val x1 = math.floor(maxX / cellSize).toLong
    val y1 = math.floor(maxY / cellSize).toLong
    val rs = Morton.ranges(x0, y0, x1, y1)
    if (rs.length <= maxRanges) return rs
    // gaps between consecutive ranges, largest maxRanges-1 kept as splits
    val gaps = (1 until rs.length).map(i => (rs(i)._1 - rs(i - 1)._2, i))
    val keep = gaps.sortBy(-_._1).take(math.max(maxRanges - 1, 0)).map(_._2).sorted
    val out = Array.newBuilder[(Long, Long)]
    var start = 0
    for (i <- keep) { out += ((rs(start)._1, rs(i - 1)._2)); start = i }
    out += ((rs(start)._1, rs.last._2))
    out.result()
  }

  /** Scan a z-ordered layout for a bbox — the read-side counterpart of
    * writeZOrdered; filters are plain column comparisons so they push down. */
  def readBbox(spark: SparkSession, path: String, xCol: String, yCol: String,
               cellSize: Double, minX: Double, minY: Double,
               maxX: Double, maxY: Double): DataFrame =
    spark.read.parquet(path)
      .filter(bboxFilter(col(xCol), col(yCol), cellSize, minX, minY, maxX, maxY))

  // ==========================================================================
  // Bucketed-table layout: SHUFFLE-FREE co-located spatial joins.
  //
  // writeZOrdered solves the SCAN problem (file skipping); this solves the
  // repeated-JOIN problem. At the 100 TB design point the persistent element
  // store is joined against every incoming upstream batch, every sync — a
  // cell equi-join that re-shuffles the multi-TB side each time. Writing both
  // sides as Spark bucketed tables hashed on the SAME grid-cell key into the
  // SAME bucket count moves that shuffle to write time, once: every later
  // `JOIN ... USING (cell)` satisfies both children's required distribution
  // from the bucket spec and Catalyst plans it with ZERO Exchange (asserted
  // in BucketedJoinSpec). The probe side is stored PRE-EXPLODED over its
  // radius-d cover cells (≤ 3×3 per point for d ≤ cellSize, the
  // dwithinCandidates cover) and the build side owns exactly one cell per
  // point row, so each true pair co-occurs in exactly one bucket — no dedup.
  //
  // One file per bucket: repartition(numBuckets, col("cell")) before the
  // write uses the SAME Murmur3 hash as the bucket assignment, so every task
  // holds exactly one bucket's rows — each bucket is a single sorted file and
  // the sorted-bucket read path can elide the join sort as well.
  // ==========================================================================

  /** Grid cell id of a point (Grid.cellOf packing) as codegen'd arithmetic —
    * shared with the spatial join so bucketed tables and ad-hoc covers key
    * identically. */
  def cellIdCol(x: Column, y: Column, cellSize: Double): Column =
    SpatialJoin.cellCol(x, y, cellSize)

  /** Distinct cells covering a point's radius-`radius` envelope (the
    * dwithin probe cover, radius ≤ cellSize); radius 0 = the point's own
    * cell. Public so layout consumers (probes, ad-hoc joins) key exactly
    * like the bucketed writer. */
  def coverCells(x: Column, y: Column, radius: Double, cellSize: Double): Column = {
    require(radius >= 0 && radius <= cellSize,
      s"radius must be in [0, cellSize], got $radius (cellSize $cellSize)")
    SpatialJoin.pointCoverCol(x, y, radius, cellSize)
  }

  /**
   * Write point rows as a bucketed table co-located on the grid cell.
   * `radius = 0` stores one row per input row keyed by its own cell (build
   * side); `radius > 0` (must be ≤ cellSize) pre-explodes each row over its
   * radius-`radius` cover cells (probe side of a dwithin join).
   * Column names must not already contain `cell`; the caller prefixes its
   * columns (e.g. `p_` / `b_`) so the two tables stay join-compatible.
   */
  def writeBucketedPoints(df: DataFrame, xCol: String, yCol: String,
                          cellSize: Double, radius: Double,
                          tableName: String, path: String,
                          numBuckets: Int = 32): Unit = {
    require(radius >= 0 && radius <= cellSize,
      s"radius must be in [0, cellSize], got $radius (cellSize $cellSize)")
    require(!df.columns.contains("cell"), "input must not already have a 'cell' column")
    val spark = df.sparkSession
    val cover = coverCells(col(xCol), col(yCol), radius, cellSize)
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    df.withColumn("cell", explode(cover))
      .repartition(numBuckets, col("cell"))
      .write.format("parquet").option("path", path)
      .bucketBy(numBuckets, "cell").sortBy("cell")
      .mode("overwrite").saveAsTable(tableName)
  }

  /**
   * Exchange-free dwithin join over two tables written by
   * `writeBucketedPoints` with the same cellSize/numBuckets (probe table
   * written with `radius = distance`, build with 0): equi-join on the bucket
   * key, exact-distance refinement in codegen. The bucket spec satisfies the
   * join's required distribution on both sides — no shuffle at any scale.
   */
  def bucketedDWithin(spark: SparkSession, probeTable: String, buildTable: String,
                      pX: String, pY: String, bX: String, bY: String,
                      distance: Double): DataFrame =
    spark.table(probeTable).join(spark.table(buildTable), Seq("cell"))
      .withColumn("dist", graft.functions.GeoFunctions.pointDist(
        col(bX), col(bY), col(pX), col(pY)))
      .filter(col("dist") <= lit(distance))
      .drop("cell")

  /** Every node of a frame's EXECUTED plan, pre-order, descending into AQE
    * query stages (a naive `collect` treats ShuffleQueryStageExec as a leaf
    * and undercounts). Run an action on `df` first so AQE has finalized the
    * plan. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => walk(q.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
  }

  /** Exchange nodes of [[executedNodes]]. Used by the bucketed-join specs
    * AND the driver-gate sync entry, which asserts its store-side join
    * planned with zero store Exchange. */
  def exchangeNodes(df: DataFrame): Seq[String] = executedNodes(df).collect {
    case e: Exchange => e.nodeName
    case _: ReusedExchangeExec => "ReusedExchange"
  }

  /** Every node name of [[executedNodes]] — gate entries assert the ABSENCE
    * of a node class (BroadcastNestedLoopJoin, CartesianProduct) with this. */
  def planNodeNames(df: DataFrame): Seq[String] = executedNodes(df).map(_.nodeName)

  /** Root paths of every file scan in a frame's EXECUTED plan — gate
    * entries assert which STORED state an incremental step actually reads
    * (e.g. the signature store, never the corpus text). */
  def scanRootPaths(df: DataFrame): Seq[String] = executedNodes(df).flatMap {
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case _ => Nil
  }

  /**
   * The per-sync shape: a fresh (un-bucketed) batch dwithin-joined against
   * the persisted bucketed store. The batch side explodes over its
   * radius-`distance` cover and shuffles into the store's bucket
   * distribution — ONE Exchange sized O(batch); the store side reads
   * straight from its buckets with zero Exchange, no matter how large it
   * is. At 100 TB this is the difference between shuffling gigabytes
   * (the batch) and terabytes (the store) per sync. BucketedJoinSpec
   * asserts the single batch-side Exchange and differential exactness.
   *
   * `buildTable` must have been written by `writeBucketedPoints` with
   * `radius = 0` and the same `cellSize`; `distance` ≤ `cellSize`.
   */
  def bucketedDWithinBatch(batch: DataFrame, buildTable: String,
                           pX: String, pY: String, bX: String, bY: String,
                           cellSize: Double, distance: Double): DataFrame = {
    require(distance >= 0 && distance <= cellSize,
      s"distance must be in [0, cellSize], got $distance (cellSize $cellSize)")
    require(!batch.columns.contains("cell"), "batch must not already have a 'cell' column")
    val spark = batch.sparkSession
    val probe = batch.withColumn("cell",
      explode(coverCells(col(pX), col(pY), distance, cellSize)))
    probe.join(spark.table(buildTable), Seq("cell"))
      .withColumn("dist", graft.functions.GeoFunctions.pointDist(
        col(bX), col(bY), col(pX), col(pY)))
      .filter(col("dist") <= lit(distance))
      .drop("cell")
  }
}
