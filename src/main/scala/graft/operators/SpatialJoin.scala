package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._

/**
 * Distributed spatial joins over WKB geometry columns, replacing the
 * reference's GiST index-nested-loop `ST_DWithin` joins (SURVEY.md §2.4
 * J1/J2/J5/J7) with cell-bucketed hash equi-joins:
 *
 *   build side: covered by the cells its geometry touches (1 cell for points)
 *   probe side: covered by cells of its envelope expanded by the join radius
 *   -> equi-join on cellId -> exact planar-distance refinement.
 *
 * Correctness: the k-ring expansion guarantees every true pair shares ≥1 cell
 * (property-tested in GeomSpec); the refinement drops false positives. A pair
 * can surface once per shared cell only when the BUILD geometry spans
 * multiple cells — `dedup=true` adds a FULL-ROW dropDuplicates for that case
 * (point build sides skip it: each build row owns exactly one cell). NOTE:
 * full-row dedup also collapses genuinely identical input rows, changing
 * join multiplicity — callers needing exact cardinality over non-distinct
 * inputs must dedup on their own key columns instead (as `knn` does).
 *
 * Scale: the equi-join shuffles both sides by cellId, so 1000 executors
 * partition cleanly. Hot cells (Stockholm: ~1000× denser per the north rule)
 * are handled by EXPLICIT salting: a cheap count-by-cell pre-pass finds cells
 * whose BUILD population exceeds `saltThreshold`; build rows in those cells
 * hash into ONE of ceil(count/threshold) sub-keys, capped at `saltFactor`
 * (the measured-hot side is the one that gets SPLIT), while probe rows
 * replicate across all of them — so each salted partition carries
 * ≈ saltThreshold build rows up to the cap. (r3 review
 * fix: the earlier design replicated the build side instead, leaving the hot
 * cell's full build population in EVERY salted partition — the straggler the
 * histogram detected survived the mitigation.) The split hash covers every
 * atomic build column, not just the geometry, so co-located duplicate
 * geometries still spread across salts as long as any column differs. If the
 * PROBE side is the dense one, its replication factor is the cost — AQE
 * skew-join remains on as the second line of defense for that direction.
 */
object SpatialJoin {

  /** @param distance   join radius in meters (planar EPSG:3006)
    * @param cellSize   grid resolution; must be >= distance for 1-ring cover
    *                   (coverEnvelope handles larger radii with wider rings)
    * @param saltThreshold build-side rows per cell above which the cell is salted
    * @param saltFactor    CAP on the per-cell sub-key count (the factor itself
    *                      adapts: ceil(count / threshold) per hot cell) */
  final case class DWithinSpec(
      distance: Double,
      cellSize: Double,
      saltThreshold: Long = Long.MaxValue,
      saltFactor: Int = 16)

  /** Adds geometry metadata columns derived from `geomCol` (WKB):
    * {prefix}cx, {prefix}cy (centroid), {prefix}is_point. These are computed
    * once at the scan so the join refinement stays in codegen arithmetic. */
  def withGeoMeta(df: DataFrame, geomCol: String, prefix: String = ""): DataFrame = {
    df.withColumn("__c", stCentroid(col(geomCol)))
      .withColumn(s"${prefix}cx", col("__c._1"))
      .withColumn(s"${prefix}cy", col("__c._2"))
      .withColumn(s"${prefix}is_point", stIsPoint(col(geomCol)))
      .drop("__c")
  }

  /** Rename every column of `df` to `prefix + name`, in one projection. */
  def prefixAll(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.toSeq.map(c => df.col(c).as(prefix + c)): _*)

  // ---- native (codegen) cell ids for point rows ----------------------------
  // Mirrors graft.core.cell.Grid.cellOf exactly: both use floor(x/s).toLong,
  // so mixed native/UDF covers land in identical cells.
  private val OFF = 1L << 30

  private[operators] def cellCol(x: Column, y: Column, s: Double): Column =
    shiftleft(floor(x / s).cast("long") + OFF, 32)
      .bitwiseOR(floor(y / s).cast("long") + OFF)

  /** cells covering a point's radius-d envelope, valid for d <= cellSize:
    * the envelope (width 2d <= 2s) spans at most 3 cells per axis, so the
    * 3x3 sample grid {x-d, x, x+d} x {y-d, y, y+d} covers every one. */
  private[operators] def pointCoverCol(cx: Column, cy: Column, d: Double, s: Double): Column =
    if (d == 0.0) array(cellCol(cx, cy, s))
    else {
      val xs = Seq(cx - d, cx, cx + d)
      val ys = Seq(cy - d, cy, cy + d)
      array_distinct(array(
        (for (x <- xs; y <- ys) yield cellCol(x, y, s)): _*))
    }

  /**
   * Candidate pairs within `spec.distance`, inner-joined. Both inputs must
   * carry (geomCol, cx, cy, is_point) — see withGeoMeta. Output columns:
   * all build columns prefixed `b_`, all probe columns prefixed `p_`, plus
   * `dist` (exact planar distance).
   */
  /** @param extraKeys additional equi-join keys (columns present on BOTH
    *   inputs, un-prefixed) — e.g. a municipality code to decorrelate the
    *   reference's per-municipality LATERAL (J6): keying the shuffle by
    *   (cell, muni) scopes the join without a second pass. */
  def dwithinCandidates(
      build: DataFrame,
      probe: DataFrame,
      buildGeom: String,
      probeGeom: String,
      spec: DWithinSpec,
      dedup: Boolean = false,
      extraKeys: Seq[String] = Nil): DataFrame = {

    val b0 = prefixAll(build, "b_")
    val p0 = prefixAll(probe, "p_")

    // point rows take the codegen'd arithmetic path; non-point geometries
    // fall back to the WKB-envelope UDF. Native probe cover requires
    // d <= cellSize (4 corner cells); wider radii use the UDF everywhere.
    val nativeProbe = spec.distance <= spec.cellSize
    val bCells =
      when(coalesce(col("b_is_point"), lit(false)),
        pointCoverCol(col("b_cx"), col("b_cy"), 0.0, spec.cellSize))
      .otherwise(cellsOf(col(s"b_$buildGeom"), lit(0.0), lit(spec.cellSize)))
    val pCells =
      if (nativeProbe)
        when(coalesce(col("p_is_point"), lit(false)),
          pointCoverCol(col("p_cx"), col("p_cy"), spec.distance, spec.cellSize))
        .otherwise(cellsOf(col(s"p_$probeGeom"), lit(spec.distance), lit(spec.cellSize)))
      else cellsOf(col(s"p_$probeGeom"), lit(spec.distance), lit(spec.cellSize))
    var b = b0.withColumn("cell", explode(bCells))
    var p = p0.withColumn("cell", explode(pCells))

    val joinKeys: Seq[String] =
      if (spec.saltThreshold == Long.MaxValue) Seq("cell")
      else {
        require(spec.saltFactor >= 1,
          s"saltFactor must be >= 1, got ${spec.saltFactor}") // 0 would null
        // the probe salt (pmod(_, 0)) and silently drop every hot-cell pair
        // explicit skew salting: histogram pre-pass over the build side; the
        // measured-hot side SPLITS, the other side replicates (see scaladoc).
        // The sub-key count is ADAPTIVE per cell — ceil(count / threshold)
        // capped at saltFactor — so a salted partition carries ≈ threshold
        // build rows (a fixed factor under-splits a 1000×-threshold cell and
        // over-replicates the probe side in a barely-hot one).
        val hot = b.groupBy("cell").count()
          .filter(col("count") > spec.saltThreshold)
          .select(col("cell"),
            least(ceil(col("count") / lit(spec.saltThreshold.toDouble)),
              lit(spec.saltFactor.toLong)).cast("int").as("__factor"))
        // hash the split over every atomic build column (ids, coords, WKB)
        // so identical geometries with any differing column still spread
        val hashable = b.schema.fields.collect {
          case f if org.apache.spark.sql.GraftBridge.isAtomic(f.dataType) =>
            col(f.name)
        }.toSeq
        b = b.join(broadcast(hot), Seq("cell"), "left")
          .withColumn("salt",
            when(col("__factor").isNotNull,
              pmod(xxhash64(hashable: _*), col("__factor").cast("long")).cast("int"))
              .otherwise(lit(0)))
          .drop("__factor")
        // broadcast the (small) hot-cell list back into both sides; a
        // generator can't sit inside when(), so hot rows get a salt ARRAY
        // (0..factor-1) and cold rows a single-element array, then explode.
        p = p.join(broadcast(hot), Seq("cell"), "left")
          .withColumn("__salts",
            when(col("__factor").isNotNull, sequence(lit(0), col("__factor") - 1))
              .otherwise(array(lit(0))))
          .withColumn("salt", explode(col("__salts")))
          .drop("__factor", "__salts")
        Seq("cell", "salt")
      }

    val joined0 = b.join(p, joinKeys, "inner")
    // extra equi-keys (J6 decorrelation): cell already localizes the pair
    // stream, so a post-join filter is equivalent and avoids a wider key
    val joined = extraKeys.foldLeft(joined0)((d, k) =>
      d.filter(col(s"b_$k") === col(s"p_$k")))

    val dist = when(col("b_is_point") && col("p_is_point"),
        pointDist(col("b_cx"), col("b_cy"), col("p_cx"), col("p_cy")))
      .otherwise(stDistanceNative(col(s"b_$buildGeom"), col(s"p_$probeGeom")))

    val refined = joined
      .withColumn("dist", dist)
      .filter(col("dist") <= lit(spec.distance))
      .drop("cell")

    val result = if (joinKeys.contains("salt")) refined.drop("salt") else refined
    if (dedup) result.dropDuplicates() else result
  }

  /**
   * k nearest build rows within `radius` of each probe row (the reference's
   * api.nearby: k=10 within 250 m — 09-api-deviation.sql:58-68), via k-ring
   * candidates + per-probe rank window. `probeKey` must uniquely identify
   * probe rows; rows with a NULL key are dropped (a null key cannot identify
   * a probe, and it would collapse into one shared rank partition).
   * Deterministic tie-break on (dist, build key columns).
   */
  def knn(
      build: DataFrame,
      probe: DataFrame,
      buildGeom: String,
      probeGeom: String,
      probeKey: String,
      buildKey: String,
      k: Int,
      radius: Double,
      cellSize: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = dwithinCandidates(build, probe.filter(col(probeKey).isNotNull),
      buildGeom, probeGeom, DWithinSpec(radius, cellSize))
    val w = Window.partitionBy(col(s"p_$probeKey"))
      .orderBy(col("dist"), col(s"b_$buildKey"))
    // a non-point build geometry covering several cells surfaces the same
    // (probe, build) pair once per shared cell; undeduped, the duplicate
    // occupies extra ranks and crowds a true neighbor out of the top k.
    // r6 (guide §2.4): the old dropDuplicates(probe, build) paid a FULL
    // extra shuffle of the candidate set just to dedup — but duplicates of
    // a pair carry the SAME (dist, build key), so under this window's order
    // they sort adjacent and a lag() test inside the rank window's own
    // partitioning removes them; the follow-up row_number runs in the same
    // exchange (one candidate shuffle total, was two).
    withDedupRank(cands, s"p_$probeKey", s"b_$buildKey", w)
      .filter(col("rank") <= k)
  }

  /** duplicate-pair-safe rank over `w` (= partitionBy(probeKey)
    * orderBy(dist, buildKey)) without a separate dedup shuffle: flags rows
    * whose predecessor in the window is the same (build key, dist) pair —
    * exactly the multi-cell duplicates, which are adjacent under this order —
    * filters them, then ranks survivors in a second Window over the SAME
    * partitioning (no new Exchange; exact same rows as
    * dropDuplicates(probe, build) + rank, since duplicate pairs are
    * bit-identical rows). */
  private def withDedupRank(cands: DataFrame, pK: String, bK: String,
                            w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null-safe equality (<=>): matches dropDuplicates' null handling should
    // a build key ever be null; `dist` is never null in candidates (the
    // refinement filter already dropped nulls), so row 1 of each partition —
    // whose lag(dist) is null — can never be flagged
    cands
      .withColumn("__dup",
        (lag(col(bK), 1).over(w) <=> col(bK)) &&
          (lag(col("dist"), 1).over(w) <=> col("dist")))
      .filter(!col("__dup")).drop("__dup")
      .withColumn("rank", row_number().over(w))
  }

  /**
   * GUARANTEED-k nearest neighbors via iterative k-ring expansion (the north
   * star's "k-ring-expansion kNN"): unlike `knn`, no fixed radius bounds the
   * answer — each probe keeps expanding its cell neighborhood until its k-th
   * neighbor is provably global.
   *
   * Round r re-cells BOTH sides at resolution R_r (R_0 = startRadius, then
   * doubling), so a probe always touches O(9) cells per round regardless of
   * how far it has expanded — the ring "grows" by coarsening the grid, not by
   * enumerating ever-more cells. Soundness of the stop rule: the candidate
   * cover is complete for dist <= R (every true pair shares a cell,
   * property-tested in GeomSpec) and the refinement keeps exactly dist <= R,
   * so any build row NOT among a probe's candidates is STRICTLY farther than
   * R — a probe holding k candidates therefore already holds its exact global
   * top-k (ties at dist == R cannot hide outside the cover). Resolved probes
   * leave the loop; the survivor set is re-materialized per round
   * (Materialize: reliable checkpoint under a configured checkpoint dir,
   * localCheckpoint in the single-JVM sandbox) so plan depth stays O(1)
   * across the O(log(maxRadius / startRadius)) rounds.
   *
   * Scale: each round is one cell equi-join of the build table against the
   * (geometrically shrinking) unresolved probes — in dense regions ~all
   * probes resolve at R_0, and the doubling schedule makes total work
   * proportional to the work of each probe's FINAL ring alone. Driver-side
   * state is one row count per round. Hot cells salt exactly as in
   * dwithinCandidates.
   *
   * @param startRadius first-round radius (≈ expected k-neighbor distance in
   *                    the densest region; too small only costs extra rounds)
   * @param maxRadius   hard cap — probes with fewer than k build rows inside
   *                    it return what exists (set ≥ the domain diameter for a
   *                    true unbounded kNN)
   */
  def knnRing(
      build: DataFrame,
      probe: DataFrame,
      buildGeom: String,
      probeGeom: String,
      probeKey: String,
      buildKey: String,
      k: Int,
      startRadius: Double,
      maxRadius: Double,
      saltThreshold: Long = Long.MaxValue,
      saltFactor: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(startRadius > 0 && maxRadius >= startRadius,
      s"need 0 < startRadius <= maxRadius, got $startRadius, $maxRadius")
    val pK = s"p_$probeKey"; val bK = s"b_$buildKey"
    val rankW = Window.partitionBy(col(pK)).orderBy(col("dist"), col(bK))
    val cntW = Window.partitionBy(col(pK))

    // NULL probe keys are dropped like in `knn` — here they would ALSO never
    // leave the unresolved set (a left_anti on a null key never matches), so
    // such a probe would re-emit its top-k every round (r3 review finding)
    var unresolved = probe.filter(col(probeKey).isNotNull)
    var out = List.empty[DataFrame]
    var radius = startRadius
    var done = false
    while (!done) {
      val last = radius >= maxRadius
      // multi-cell build geoms: one rank per pair — the lag-based dedup runs
      // inside the rank window's own shuffle (see withDedupRank; was a
      // separate dropDuplicates exchange per round)
      val ranked = withDedupRank(
          dwithinCandidates(build, unresolved, buildGeom, probeGeom,
            DWithinSpec(radius, cellSize = radius, saltThreshold, saltFactor)),
          pK, bK, rankW)
        .filter(col("rank") <= k)
      // all candidates have dist <= radius and nothing unseen can be that
      // close, so a full top-k is final; partial top-k must keep expanding
      // (emitted as-is on the capped last round).
      val emit =
        if (last) ranked
        else ranked.withColumn("__n", count(lit(1)).over(cntW))
          .filter(col("__n") === k).drop("__n")
      val settled = Materialize(emit)
      out ::= settled
      if (last) done = true
      else {
        val resolvedKeys = settled.select(col(pK).as(probeKey)).distinct()
        unresolved = Materialize(
          unresolved.join(resolvedKeys, Seq(probeKey), "left_anti"))
        if (unresolved.isEmpty) done = true
        else radius = math.min(radius * 2, maxRadius)
      }
    }
    out.reduce(_ unionByName _)
  }
}
