package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GeoFunctions._

/**
 * The `v_deviation_<name>` stage — projection of a match view into deviation
 * rows (12-v-deviation_preschools_scb.sql:43-69,
 * 14-v_deviation_trees_gavle.sql:37-62):
 *
 *  - explode tag alternatives and keep the alternative minimizing
 *    count_jsonb_keys(tag_diff(osm_tags, alt)) (window W2; ties broken by
 *    array position, the Postgres scan order);
 *  - suggested_geom = upstream geom iff the object is missing from OSM (P5);
 *  - suggested_tags = tag_diff(osm_tags, upstream_tags);
 *  - three-way title/description CASE (P6);
 *  - post-filter (P7), configurable per dataset.
 */
object DeviationView {

  /** title/description for the three states (possiblyClosed only when the
    * dataset has an anti leg). */
  final case class Titles(
      missing: (String, String),
      possiblyClosed: Option[(String, String)],
      missingTags: (String, String))

  /** Each variant carries its predicate so every consumer (the view filter,
    * BenchPipeline's emitted-flag counting) evaluates the SAME expression —
    * a re-implementation could silently diverge from what the view emits. */
  sealed trait PostFilter { def pred: Column }
  /** WHERE osm_tags IS NULL OR upstream_tags IS NULL OR tag_diff <> '{}' (14:62) */
  case object DiffNonEmptyOrEitherNull extends PostFilter {
    def pred: Column = col("osm_tags").isNull || col("ups_tags").isNull ||
      size(col("suggested_tags")) > 0
  }
  /** WHERE osm_element_id IS NULL OR suggested_tags <> '{}' (12:69) */
  case object MissingOrDiffNonEmpty extends PostFilter {
    def pred: Column = col("osm_element_id").isNull || size(col("suggested_tags")) > 0
  }
  /** WHERE osm IS NULL OR ids IS EMPTY OR diff <> '{}' (36:74) — keeps all
    * three states including the anti leg */
  case object MissingOrClosedOrDiffNonEmpty extends PostFilter {
    def pred: Column = col("osm_element_id").isNull ||
      size(col("upstream_item_ids")) === 0 || size(col("suggested_tags")) > 0
  }
  /** custom column predicate over the pre-projection frame */
  final case class CustomFilter(pred: Column) extends PostFilter

  /** Optional column overrides support the topo50 family, where layer id,
    * title and description are COMPUTED from carried attribute columns
    * (26-v_deviation_anlaggningsomradespunkt_topo50.sql:131-153). */
  final case class DeviationConfig(
      datasetId: Long,
      layerId: Long,
      viewName: String,
      titles: Titles,
      postFilter: PostFilter = MissingOrDiffNonEmpty,
      note: String = "",
      layerCol: Option[Column] = None,
      titleCols: Option[(Column, Column)] = None,
      noteCol: Option[Column] = None)

  /**
   * matchDf: output of MatchEngine.matchView. If `upstream_tags` is an
   * ARRAY<MAP>, alternatives are exploded here.
   * Output schema = upstream.calculated_deviation (09-api-deviation.sql:26-40)
   * + center coordinates + osm_geom carried for the center rule.
   */
  def deviations(matchDf: DataFrame, cfg: DeviationConfig): DataFrame = {
    val hasAlts = matchDf.schema("upstream_tags").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]

    // pick the best alternative per match row (W2): min diff-key-count, then
    // array position — deterministic replication of DISTINCT ON scan order.
    val picked: DataFrame =
      if (!hasAlts) matchDf.withColumn("ups_tags", col("upstream_tags"))
      else {
        // scalar surrogate for the ids ARRAY (as in MatchEngine's rank
        // window, VERDICT r2 #7): the FIRST item id is unique per upstream
        // row (group-collapse emits disjoint sorted arrays), so the window
        // shuffle hashes a LONG per row instead of an ARRAY<LONG>. `get`
        // (0-based, null on out-of-bounds — ANSI-safe) maps the anti leg's
        // empty array to null, whose rows stay distinct via the osm id/type.
        val key = Seq(get(col("upstream_item_ids"), lit(0)),
          col("osm_element_id"), col("osm_element_type"))
        val exploded = matchDf.select(col("*"),
          posexplode_outer(col("upstream_tags")).as(Seq("alt_pos", "ups_tags")))
        val w = Window.partitionBy(key: _*)
          .orderBy(countTagKeys(tagDiff(col("osm_tags"), col("ups_tags"))).asc,
            col("alt_pos").asc)
        exploded.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "alt_pos")
      }

    val withDiff = picked
      .withColumn("suggested_tags", tagDiff(col("osm_tags"), col("ups_tags")))
      .withColumn("suggested_geom",
        when(col("osm_element_id").isNull, col("upstream_geom"))
          .otherwise(lit(null).cast("binary")))

    val filtered = withDiff.filter(cfg.postFilter.pred)

    val (mT, mD) = cfg.titles.missing
    val (tT, tD) = cfg.titles.missingTags
    val title = cfg.titles.possiblyClosed match {
      case Some((cT, _)) =>
        when(col("osm_element_id").isNull, mT)
          .when(size(col("upstream_item_ids")) === 0, cT)
          .otherwise(tT)
      case None =>
        when(col("osm_element_id").isNull, mT).otherwise(tT)
    }
    val desc = cfg.titles.possiblyClosed match {
      case Some((_, cD)) =>
        when(col("osm_element_id").isNull, mD)
          .when(size(col("upstream_item_ids")) === 0, cD)
          .otherwise(tD)
      case None =>
        when(col("osm_element_id").isNull, mD).otherwise(tD)
    }

    // center = ST_Centroid(COALESCE(osm_geom, suggested_geom)) — the
    // BEFORE-INSERT trigger rule (09-api-deviation.sql:89-97)
    filtered.select(
      lit(cfg.datasetId).as("dataset_id"),
      cfg.layerCol.getOrElse(lit(cfg.layerId)).as("layer_id"),
      col("upstream_item_ids"),
      col("suggested_geom"),
      col("suggested_tags"),
      col("osm_element_id"),
      col("osm_element_type"),
      cfg.titleCols.map(_._1).getOrElse(title).as("title"),
      cfg.titleCols.map(_._2).getOrElse(desc).as("description"),
      cfg.noteCol.getOrElse(lit(cfg.note)).as("note"),
      lit(cfg.viewName).as("view_name"),
      stCentroidWkb(coalesce(col("osm_geom"), col("suggested_geom"), col("upstream_geom")))
        .as("center"))
  }
}
