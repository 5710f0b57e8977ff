package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.tags.Tags
import graft.operators.SpatialJoin
import graft.sources.Pages
import graft.engine.MatchEngine.MatchConfig
import graft.engine.DeviationView._

/**
 * The flagship end-to-end pipeline over the web-scale input contract:
 * synthesize pages -> extract osm_element / upstream_item -> name-tier
 * cell-bucketed match (50 m other / 250 m name tiers) -> deviation rows.
 *
 * This is the throughput unit of BASELINE.json ("spatial-join + deviation
 * rows/sec"): everything downstream of `Pages.synthesize` is the production
 * path — at 10^12 pages only the generator is replaced by an Iceberg scan.
 */
object BenchPipeline {

  val spec: Tags.MatchSpec = Tags.MatchSpec(Some("name"), Nil, dOther = 50.0, dName = 250.0)

  val titles: Titles = Titles(
    missing = ("POI saknas", "Enligt källan ska det finnas en POI här"),
    possiblyClosed = Some(("POI möjligen stängd", "Enligt källan finns det ingen POI här")),
    missingTags = ("POI saknar taggar", "Följande taggar saknas på POI:n här"))

  // cacheCandidates stays at its default OFF: both legs of matchView read
  // ONE cell join's refined pairs, so a cache saves no join work, and
  // cached candidate blocks were the bench JVM's dominant GC pressure
  // (probed: 1-60 s of collection inside measured runs).
  def config(saltThreshold: Long = Long.MaxValue, saltFactor: Int = 16): MatchConfig =
    MatchConfig(
      matchSpec = spec,
      // r6 (guide §2.3/§1.2): candidate pairs scale with (2d+s)² per build
      // row (the probe's expanded envelope), so the old s=1000 m cells with
      // the 250 m max radius ground (1500)²-proportional pairs where
      // s=d=250 grinds (750)² — exactly 4× fewer candidate pairs for the
      // same exact refinement (measured 117.1M -> 29.4M). The trade is a
      // 3×3=9-cell probe cover (was ~2.25 avg), i.e. more exploded rows and
      // shuffle bytes for fewer refined pairs; measured at 8c/2.5M sites:
      // s=250 34.3 s, s=500 36.7 s, s=1000 62.3 s — CPU on pairs dominates
      // the local shuffle, so s=d wins. On a network cluster where shuffle
      // bytes bind first, s=2d (same bytes as s=1000, 2.25× fewer pairs) is
      // the operating point — see OPTIMIZATION_r06.md. Correct for any
      // s >= maxDistance (the 3×3 probe cover needs d <= s); match/
      // deviation row counts verified bit-identical at the 2.5M bench point
      // and by every view oracle.
      cellSize = spec.maxDistance,
      antiLeg = true,
      saltThreshold = saltThreshold,
      saltFactor = saltFactor)

  /** dataset-level filter/projection over EXTRACTED features — shared by the
    * batch pipeline and the incremental streaming path (which reads the same
    * rows back from an ElementStore instead of re-extracting). */
  def filterOsm(osmAll: DataFrame): DataFrame =
    osmAll.filter(col("tags")("amenity") === "bench_poi")

  def projectUps(upsAll: DataFrame): DataFrame =
    upsAll.filter(col("dataset_id") === Pages.BenchDatasetId)
      .withColumn("ids", array(col("id")))
      .withColumn("tags", map_filter(
        map(lit("amenity"), lit("bench_poi"),
            lit("name"), get_json_object(col("original_attributes"), "$.name")),
        (_, v) => v.isNotNull))

  /** extraction + projection of both sides from a pages frame */
  def extract(pages: DataFrame): (DataFrame, DataFrame) = (
    filterOsm(Pages.extractOsmElements(pages)),
    projectUps(Pages.extractUpstreamItems(pages)))

  /** ONE filtered+parsed pass over the pages for BOTH match sides (r6,
    * guide §1.2 "remove unnecessary passes"): the earlier path
    * cached osm and ups separately, and each cache FILL re-ran the full
    * page synthesis + text build (measured 45.9 s + 46.5 s of the 8-core
    * pipeline's 263 s total executor time). This pass filters to feature
    * rows once, parses the shared grammar positions once (E/N are
    * parts[3]/[4] on both line types), and emits a superset schema both
    * sides project from — one synthesis instead of two. Field-for-field
    * the same expressions as extractOsmElements/extractUpstreamItems +
    * filterOsm/projectUps; BenchFeaturesSpec pins row parity with the
    * unfused path. */
  private[graft] def benchFeatures(pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.functions.GeoFunctions._
    val tagMapType = MapType(StringType, StringType, valueContainsNull = true)
    val p = pages
      .filter(col("lang") === "sv" &&
        (col("text").startsWith("OSM ") || col("text").startsWith("UPSTREAM ")))
      .withColumn("parts", split(col("text"), " ", 6))
      .withColumn("is_osm", col("parts")(0) === "OSM")
    val osmTags = from_json(col("parts")(5), tagMapType)
    val upsTags = map_filter(
      map(lit("amenity"), lit("bench_poi"),
          lit("name"), get_json_object(col("parts")(5), "$.name")),
      (_, v) => v.isNotNull)
    val upsId = expr("try_cast(parts[1] as long)") * lit(1000000000000L) +
      expr("try_cast(regexp_extract(parts[2], '(\\\\d+)', 1) as long)")
    p.filter(when(col("is_osm"), osmTags(lit("amenity")) === "bench_poi")
        .otherwise(expr("try_cast(parts[1] as long)") === Pages.BenchDatasetId))
      .select(
        col("is_osm"),
        when(col("is_osm"), col("parts")(1)).as("type"),
        when(col("is_osm"), expr("try_cast(parts[2] as long)"))
          .otherwise(upsId).as("id"),
        when(col("is_osm"), osmTags).otherwise(upsTags).as("tags"),
        expr("try_cast(parts[3] as double)").as("cx"),
        expr("try_cast(parts[4] as double)").as("cy"))
      .withColumn("geom",
        when(col("type") === "a",
          stEnvelopeWkb(col("cx") - 10, col("cy") - 10, col("cx") + 10, col("cy") + 10))
        .otherwise(stPoint(col("cx"), col("cy"))))
      .withColumn("is_point", col("type").isNull || col("type") =!= "a")
  }

  /** the two match sides projected from a [[benchFeatures]] frame */
  private[graft] def sidesFromFeatures(feat: DataFrame): (DataFrame, DataFrame) = (
    feat.filter(col("is_osm"))
      .select("type", "id", "tags", "geom", "cx", "cy", "is_point"),
    feat.filter(!col("is_osm")).select(
      array(col("id")).as("ids"), col("tags"), col("geom").as("geometry"),
      col("cx"), col("cy"), col("is_point")))

  /** Match straight from pages. Both sides are projected from ONE cached
    * [[benchFeatures]] frame (one synthesis feeds both). The match view
    * reads each side twice — its cell cover in the one candidate join, its
    * sentinel rows in the rank's union — and at production scale each side
    * is one Iceberg scan (the reference materializes mv_match too), so
    * caching is the honest equivalent, not a benchmark trick. */
  def matchRows(pages: DataFrame, saltThreshold: Long = Long.MaxValue): DataFrame = {
    val feat = benchFeatures(pages).cache()
    // eager fill: the match DAG's consumer stages start CONCURRENTLY (AQE
    // off, one job) and a lazily-filled cache makes the first readers RACE —
    // each recomputes synthesis for partitions not yet stored (measured:
    // 59 s + 28 s of duplicated fill work at 8c). One count() fills every
    // partition exactly once up front.
    feat.count()
    val (osm, ups) = sidesFromFeatures(feat)
    matchRowsFrom(osm, ups, saltThreshold)
  }

  /** match over ALREADY-extracted (and caller-cached) sides — lets several
    * gate queries share ONE cached input pair instead of each `matchRows`
    * call pinning a fresh never-freed pair for the session. */
  def matchRowsFrom(osm: DataFrame, ups: DataFrame,
                    saltThreshold: Long = Long.MaxValue): DataFrame =
    MatchEngine.matchView(osm, ups, config(saltThreshold))

  /** cached gate inputs, memoized per (session, key) until
    * [[releaseSharedInputs]]: gate entries that consume the same synthesized
    * corpus within one session share one cached set of frames */
  private val inputMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Seq[DataFrame]]()
  private[graft] def memoInputs(spark: SparkSession, key: String)(fill: => Seq[DataFrame]): Seq[DataFrame] =
    inputMemo.computeIfAbsent((spark, key), _ => fill.map(_.cache()))

  /** the extracted (osm, ups) pair the five q_pipe_* entries share */
  def sharedInputs(spark: SparkSession, nSites: Long = 3000L): (DataFrame, DataFrame) = {
    val Seq(osm, ups) = memoInputs(spark, s"pipe-$nSites") {
      val (o, u) = extract(Pages.synthesize(spark, nSites))
      Seq(o, u)
    }
    (osm, ups)
  }

  /** unpersists every frame [[memoInputs]] holds for `spark` and drops it
    * from the memo, so a stopped session is not pinned; a later call fills
    * afresh */
  def releaseSharedInputs(spark: SparkSession): Unit =
    inputMemo.keySet.forEach { k =>
      if (k._1 eq spark) Option(inputMemo.remove(k)).foreach(_.foreach(_.unpersist()))
    }

  def deviations(matchDf: DataFrame): DataFrame =
    DeviationView.deviations(matchDf, DeviationConfig(
      datasetId = Pages.BenchDatasetId,
      layerId = 1L,
      viewName = "bench_pois",
      titles = titles,
      postFilter = MissingOrDiffNonEmpty))

  /** full run from synthesis; the flagship entry */
  def run(spark: SparkSession, nSites: Long, saltThreshold: Long = Long.MaxValue): DataFrame = {
    val pages = Pages.synthesize(spark, nSites)
    deviations(matchRows(pages, saltThreshold))
  }

  /** (matchRows, deviationRows) in ONE action: the deviation projection runs
    * unfiltered with an `emitted` flag, so a single aggregation counts both —
    * no intermediate cache of the match frame, one pass end to end.
    * `densityRefSites` forwards to [[Pages.synthesize]]'s constant-density
    * mode (the linear-in-corpus measurement of BASELINE.md §3f). */
  def pipelineCounts(spark: SparkSession, nSites: Long,
                     densityRefSites: Option[Long] = None): (Long, Long) =
    countsOf(pipelineFrame(spark, nSites, densityRefSites))

  /** the one-row frame whose collect is [[pipelineCounts]]' action */
  def pipelineFrame(spark: SparkSession, nSites: Long,
                    densityRefSites: Option[Long] = None): DataFrame = {
    val pages = Pages.synthesize(spark, nSites, densityRefSites = densityRefSites)
    val m = matchRows(pages)
    val all = DeviationView.deviations(m, DeviationConfig(
      datasetId = Pages.BenchDatasetId, layerId = 1L, viewName = "bench_pois",
      titles = titles, postFilter = CustomFilter(lit(true))))
      // SAME predicate object the production view filters by — an inline
      // re-statement here could silently count a different population
      .withColumn("emitted", MissingOrDiffNonEmpty.pred.cast("long"))
    all.agg(count(lit(1)).as("m"), sum(col("emitted")).as("d"))
  }

  /** collects a [[pipelineFrame]]: (match rows, emitted deviation rows) */
  def countsOf(frame: DataFrame): (Long, Long) = {
    val r = frame.collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
