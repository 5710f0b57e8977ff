package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: full pages -> extract -> spatial match -> deviations pipeline
    * on deterministically synthesized web pages (sf0.001-scale). */
  def entry(spark: SparkSession): DataFrame = {
    graft.functions.GeoFunctions.registerAll(spark)
    graft.engine.BenchPipeline.run(spark, nSites = 2000L)
  }

  /** Geospatial engine exposed through the gate on synthesized pages.
    * xxhash-seeded synthesis isn't reproducible in DuckDB -> rows-only. */
  private def pipeInputs(s: SparkSession) =
    graft.engine.BenchPipeline.sharedInputs(s, 3000L)

  private val pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipe_extract" -> ((s, _) => {
      val pages = graft.sources.Pages.synthesize(s, 3000L)
      graft.sources.Pages.extractOsmElements(pages)
        .select(col("type"), col("id"), col("cx"), col("cy"),
          graft.functions.GeoFunctions.tagsToJson(col("tags")).as("tags_json"))
    }),
    "q_pipe_match" -> ((s, _) => {
      val (osm, ups) = pipeInputs(s)
      graft.engine.BenchPipeline.matchRowsFrom(osm, ups, saltThreshold = 200L)
        .select(idsToStr(col("upstream_item_ids")).as("upstream_item_ids"),
          col("osm_element_id"),
          col("osm_element_type"), round(col("dist"), 3).as("dist"))
    }),
    "q_pipe_deviations" -> ((s, _) => {
      val (osm, ups) = pipeInputs(s)
      graft.engine.BenchPipeline
        .deviations(graft.engine.BenchPipeline.matchRowsFrom(osm, ups))
        .select(col("dataset_id"), col("layer_id"),
          idsToStr(col("upstream_item_ids")).as("upstream_item_ids"),
          col("osm_element_id"), col("osm_element_type"), col("title"),
          graft.functions.GeoFunctions.tagsToJson(col("suggested_tags")).as("suggested_tags_json"))
    }),
    "q_pipe_tiles" -> ((s, _) => {
      val (osm, ups) = pipeInputs(s)
      graft.engine.Tiles
        .tileAssignment(graft.engine.BenchPipeline.matchRowsFrom(osm, ups), z = 14)
        .select(col("tile_x"), col("tile_y"), col("z"), col("state"),
          col("osm_element_id"),
          idsToStr(col("upstream_item_ids")).as("upstream_item_ids"))
    }),
    // S7/S8/S9 sinks: osmChange + JOSM + GPX over a deterministic deviation
    // frame derived from orders keys (driver-side XML build over the
    // TakeOrdered top rows, as designed); projected to per-format counts —
    // a change to escaping, the n-only-modify quirk or the bounds logic
    // shifts the lengths
    "q_pipe_exports" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val eng = graft.engine.Exports
      val base = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("k")).orderBy("k").limit(400)
        .withColumn("x", (pmod(col("k") * 48271L, lit(500000L)) + 100000L).cast("double"))
        .withColumn("y", (pmod(col("k") * 69621L, lit(500000L)) + 6400000L).cast("double"))
      val devs = base.select(
        lit(1L).as("dataset_id"), lit(1L).as("layer_id"),
        array(col("k")).as("upstream_item_ids"),
        when(pmod(col("k"), lit(2L)) === 0,
          graft.functions.GeoFunctions.stPoint(col("x"), col("y"))).as("suggested_geom"),
        map(lit("amenity"), lit("toilets"),
          lit("name"), concat(lit("T"), col("k"))).as("suggested_tags"),
        when(pmod(col("k"), lit(2L)) === 1, col("k") + 4000L).as("osm_element_id"),
        when(pmod(col("k"), lit(2L)) === 1, "n").as("osm_element_type"),
        when(pmod(col("k"), lit(2L)) === 0, "Missing").otherwise("Incomplete").as("title"),
        lit("d").as("description"), lit("").as("note"), lit("v").as("view_name"),
        graft.functions.GeoFunctions.stPoint(col("x"), col("y")).as("center"),
        lit("0180").as("municipality_code"),
        lit(null).cast("string").as("action"))
      val elements = base.filter(pmod(col("k"), lit(2L)) === 1)
        .select(lit("n").as("type"), (col("k") + 4000L).as("id"),
          map(lit("amenity"), lit("toilets")).as("tags"))
      val osc = eng.osmChange(devs, elements)
      val josm = eng.josmChange(devs, elements)
      val firstDev = devs.filter(col("suggested_geom").isNotNull)
        .orderBy(element_at(col("upstream_item_ids"), 1)).head()
      val gpx = eng.gpx(firstDev, Seq(Map("orig" -> "x")), "2026-01-01T00:00:00Z")
      def count(hay: String, needle: String): Long =
        needle.r.findAllIn(hay).size.toLong
      import s.implicits._
      Seq(
        ("osmchange", osc.length.toLong, count(osc, "<node"), count(osc, "<modify>")),
        ("josm", josm.length.toLong, count(josm, "<node"), count(josm, "action=\"modify\"")),
        ("gpx", gpx.length.toLong, count(gpx, "<wpt"), count(gpx, "<trk")))
        .toDF("format", "n_chars", "n_a", "n_b")
    }),

    // S6 byte sink: real MVT 2.1 blobs per tile (feature order pinned, so
    // bytes are deterministic); projected to counts+length for the harness
    "q_pipe_mvt" -> ((s, _) => {
      val (osm, ups) = pipeInputs(s)
      graft.engine.Tiles
        .mvtTiles(graft.engine.Tiles.tileAssignment(
          graft.engine.BenchPipeline.matchRowsFrom(osm, ups), z = 14),
          tagsJsonCol = Some("tags_json")) // reference ST_AsMVT attrs 12:88-92
        .select(col("z"), col("tile_x"), col("tile_y"), col("n_features"),
          length(col("mvt")).as("mvt_bytes"))
    }))

  /** The driver's pandas harness can't sort/hash rows holding numpy arrays,
    * so gate entries project ARRAY columns to a stable string form. */
  private def idsToStr(c: org.apache.spark.sql.Column) =
    concat_ws(",", transform(c, _.cast("string")))

  /** One rows-only gate entry per ported reference dataset view (20/20),
    * exercised end-to-end on synthesized per-dataset pages. The extracted
    * inputs are synthesized once per session and cached — all 20 entries
    * share them (the driver runs the queries sequentially) until
    * `BenchPipeline.releaseSharedInputs`. */
  private[graft] def datasetInputs(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val Seq(osm, items, munis) = graft.engine.BenchPipeline.memoInputs(s, "datasets") {
      val pages = graft.sources.DatasetPages.synthesize(s, 150L)
      Seq(graft.sources.Pages.extractOsmElements(pages),
        graft.sources.Pages.extractUpstreamItems(pages),
        graft.sources.Pages.extractMunicipalities(pages))
    }
    (osm, items, munis)
  }

  private val datasetQueries: Map[String, (SparkSession, String) => DataFrame] =
    graft.engine.DatasetRegistry.all.map { vd =>
      (s"q_ds_${vd.name}",
        (s: SparkSession, _: String) => {
          val (osm, items, munis) = datasetInputs(s)
          vd.deviations(osm, items, munis)
            .select(col("dataset_id"), col("layer_id"),
              idsToStr(col("upstream_item_ids")).as("upstream_item_ids"),
              col("osm_element_id"), col("osm_element_type"), col("title"),
              graft.functions.GeoFunctions.tagsToJson(col("suggested_tags")).as("suggested_tags_json"),
              col("note"))
        })
    }.toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesRelational.queries ++ QueriesSpatial.queries ++
      QueriesText.queries ++ QueriesDatasetOracle.queries ++
      QueriesSchoolsOracle.queries ++ QueriesAtervinningOracle.queries ++
      QueriesGavleOracle.queries ++ QueriesMoreViewsOracle.queries ++
      QueriesTopo50Oracle.queries ++ QueriesEmbOracle.queries ++
      QueriesDedupOracle.queries ++
      QueriesRaster.queries ++ QueriesStore.queries ++
      QueriesTemporal.queries ++ QueriesSampling.queries ++
      QueriesPipelineOracle.queries ++ QueriesWebGraph.queries ++
      QueriesBpe.queries ++ QueriesIncrPipe.queries ++
      pipelineQueries ++ datasetQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for hash-based / synthesized-input
    * operators -> driver records a rows-only check. */
  def oracleSql: Map[String, String] =
    QueriesRelational.oracle ++ QueriesSpatial.oracle ++ QueriesText.oracle ++
      QueriesDatasetOracle.oracle ++ QueriesSchoolsOracle.oracle ++
      QueriesAtervinningOracle.oracle ++ QueriesGavleOracle.oracle ++
      QueriesMoreViewsOracle.oracle ++ QueriesTopo50Oracle.oracle ++
      QueriesEmbOracle.oracle ++ QueriesDedupOracle.oracle ++
      QueriesRaster.oracle ++ QueriesStore.oracle ++ QueriesTemporal.oracle ++
      QueriesSampling.oracle ++ QueriesPipelineOracle.oracle ++
      QueriesWebGraph.oracle ++ QueriesBpe.oracle ++ QueriesIncrPipe.oracle
}
