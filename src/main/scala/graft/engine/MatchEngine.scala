package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.broadcast.Broadcast
import graft.core.geom.{Geom, Pt}
import graft.core.tags.Tags
import graft.functions.GeoFunctions._
import graft.operators.SpatialJoin
import graft.operators.SpatialJoin.DWithinSpec

/**
 * The per-dataset match pipeline — Spark re-expression of the reference's
 * `v_match_<name>` views (e.g. 12-v-deviation_preschools_scb.sql:1-37,
 * 14-v_deviation_trees_gavle.sql:1-33):
 *
 *   ups LEFT JOIN osm ON match_condition(...)      (J1/J2)
 *   DISTINCT ON (ups.id) ORDER BY match_score(...) (J4 rank-1)
 *   UNION ALL unmatched-OSM anti leg               (J5)
 *
 * as a cell-bucketed candidate join + window rank + left_anti, all Catalyst-
 * planned. Determinism: the reference's DISTINCT ON is tie-unstable; we pin
 * the total order (score, osm type, osm id) — divergence only on exact ties.
 */
object MatchEngine {

  /** Declarative per-dataset config (the 20 reference views become data).
    *
    * @param tagsVisibleToMatch false replicates the reference quirk where
    *   upstream tags are a JSON ARRAY of alternatives and `->>` on an array
    *   yields NULL inside match_condition/match_score — so name/ref tiers
    *   never fire (12-v-deviation_preschools_scb.sql:27: tag_alternatives
    *   output is passed straight into match_condition).
    * @param muniGuardWhere replicates `WHERE osm.code = ups.code` placed
    *   AFTER the left join (12:28): null-extended rows are filtered, so
    *   upstream items only survive leg 1 when a same-municipality candidate
    *   matched.
    * @param muniGuardCondition replicates `ON match_condition(...) AND
    *   osm.code = ups.code` (36:35): the guard restricts candidates but the
    *   left extension survives (missing rows still emitted), and the anti
    *   leg is NOT scoped by it.
    * @param antiMatchSpec the anti leg may use different distances than the
    *   main match (tests/test_recalculate_on_element.sql:83: 500 m vs 100 m).
    */
  final case class MatchConfig(
      matchSpec: Tags.MatchSpec,
      cellSize: Double = 1000.0,
      antiLeg: Boolean = true,
      antiMatchSpec: Option[Tags.MatchSpec] = None,
      tagsVisibleToMatch: Boolean = true,
      muniGuardWhere: Boolean = false,
      muniGuardCondition: Boolean = false,
      extraJoinKeys: Seq[String] = Nil,
      /** the anti leg may be UNSCOPED by extraJoinKeys even when the main leg
        * uses them: 18-v_deviation_atervinning_gavle.sql joins on
        * recycling_type in the match leg but its possibly-closed leg has no
        * such equi-condition (ADVICE r1). None = same as extraJoinKeys. */
      antiExtraJoinKeys: Option[Seq[String]] = None,
      /** upstream columns carried verbatim through the match into the output
        * (e.g. atervinning's `note`, grillplatser's `comment`); null on the
        * anti leg, as in the reference UNION (18:48). */
      carryUps: Seq[String] = Nil,
      /** extra predicate over candidate pairs (b_/p_-prefixed columns +
        * `dist`), applied with match_condition — e.g. the fused topo50 join's
        * per-category radius `dist <= p___dmax` (matchSpec distances must
        * then be the widest of the per-row radii). */
      extraCandidateFilter: Option[Column] = None,
      saltThreshold: Long = Long.MaxValue,
      saltFactor: Int = 16,
      /** persist the refined candidate set so leg 1 and the anti leg share
        * ONE cell-join execution (Catalyst does not reuse the exchange
        * across the two consumers) — the in-memory analog of the
        * reference's materialized mv_match_*. */
      cacheCandidates: Boolean = false)

  /**
   * Point-in-polygon municipality stamping (J3) — broadcast a [[MuniIndex]]
   * (polygons decoded ONCE per executor, envelope pre-filter so typically ≤1
   * winding-number test runs per row; VERDICT r2 #1 killed the per-row WKB
   * re-decode); optional closest-fallback replicates
   * 32-api-municipality-code-trigger-closest.sql.
   *
   * Containment is on the FULL geometry (reference: ST_Within(element.geom,
   * municipality.geom), 09-element-triggers.sql) — an area straddling a
   * border gets NO code, exactly like the reference; centroid-only stamping
   * was an r1 divergence (ADVICE r1).
   */
  def municipalityCodeUdf(
      munis: Broadcast[MuniIndex],
      closestFallback: Boolean) = {
    udf((wkb: Array[Byte]) => {
      if (wkb == null) null
      else munis.value.codeOf(Geom.fromWkb(wkb), closestFallback)
    })
  }

  /** Stamp `muni_code` from the geometry column using the broadcast index. */
  def withMunicipality(df: DataFrame, munis: Broadcast[MuniIndex],
                       closestFallback: Boolean = false,
                       geomCol: String = "geom"): DataFrame = {
    val gc = if (df.columns.contains(geomCol)) geomCol
             else if (df.columns.contains("geometry")) "geometry" else geomCol
    df.withColumn("muni_code",
      municipalityCodeUdf(munis, closestFallback)(col(gc)))
  }

  /**
   * Build the match view.
   *
   * Inputs (caller pre-filters/projects, mirroring the views' CTEs):
   *  - osm: (type, id, tags MAP, geom WKB, cx, cy, is_point [, muni_code])
   *  - ups: (ids ARRAY<LONG>, tags MAP or tag_alts ARRAY<MAP>, geometry WKB,
   *          cx, cy, is_point [, muni_code])
   *
   * Output (the mv_match_* schema, 12:23-29 + osm geom carried for tiles):
   *   upstream_item_ids, upstream_tags (same type as input tags),
   *   upstream_geom, osm_element_id, osm_element_type, osm_tags, osm_geom,
   *   dist
   */
  // ---- hoisted condition/score (r6, guide §1.2 "per-task work" + §2.3
  // "project before the exchange"): matchConditionCol/matchScoreCol evaluate
  // map_contains_key / split / lower on BOTH tag maps once per candidate
  // PAIR — at bench density each row participates in ~100s of pairs, so the
  // same row-local sub-expressions were recomputed that many times. The
  // hoisted form materializes them as projection columns on each input row
  // BEFORE the cell join and leaves only null-safe comparisons of
  // precomputed columns in the pair loop. Null semantics are identical by
  // construction: the columns are the very same sub-expressions, evaluated
  // on the same rows, just earlier (oracle-verified across all 20 views).

  private[engine] def withHoistA(df: DataFrame, spec: Tags.MatchSpec): DataFrame = {
    val t = col("tags")
    var d = df
    spec.refKeys.zipWithIndex.foreach { case (k, i) =>
      d = d.withColumn(s"__ah$i", map_contains_key(t, lit(k)))
        .withColumn(s"__aa$i", split(t(k), ";"))
        .withColumn(s"__av$i", t(k))
    }
    spec.nameKey.foreach { nk =>
      d = d.withColumn("__ahn", map_contains_key(t, lit(nk)))
        .withColumn("__aln", lower(t(nk)))
        .withColumn("__avn", t(nk))
    }
    d
  }

  private[engine] def withHoistB(df: DataFrame, spec: Tags.MatchSpec, tagsB: Column): DataFrame = {
    var d = df
    spec.refKeys.zipWithIndex.foreach { case (k, i) =>
      d = d.withColumn(s"__ba$i", split(tagsB(k), ";"))
        .withColumn(s"__bv$i", tagsB(k))
    }
    spec.nameKey.foreach { nk =>
      d = d.withColumn("__bln", lower(tagsB(nk)))
        .withColumn("__bvn", tagsB(nk))
    }
    d
  }

  /** matchConditionCol over the hoisted columns (same truth table, same
    * null propagation — see GeoFunctions.matchConditionCol). */
  private[engine] def condHoisted(spec: Tags.MatchSpec, dist: Column): Column = {
    val refsAgree = spec.refKeys.indices.map(i =>
        col(s"b___ah$i") && arrays_overlap(col(s"b___aa$i"), col(s"p___ba$i")))
      .reduceOption(_ && _).getOrElse(lit(false))
    val namesAgree = spec.nameKey.map(_ =>
      col("b___ahn") && (col("b___aln") === col("p___bln"))).getOrElse(lit(false))
    (refsAgree && dist <= spec.dRef) || (namesAgree && dist <= spec.dName) ||
      dist <= spec.dOther
  }

  /** matchScoreCol over the hoisted columns (incl. the 03a overload quirks:
    * ref2 equality, case-sensitive name-only tier). */
  private[engine] def scoreHoisted(spec: Tags.MatchSpec, dist: Column): Column = {
    val refTier: Column = spec.refKeys match {
      case Seq(_) => col("b___ah0") && arrays_overlap(col("b___aa0"), col("p___ba0"))
      case Seq(_, _) =>
        col("b___ah0") && col("b___ah1") &&
          arrays_overlap(col("b___aa0"), col("p___ba0")) &&
          (col("b___av1") === col("p___bv1"))
      case _ => lit(false)
    }
    val nameTier: Column = spec.nameKey.map { _ =>
      if (spec.refKeys.nonEmpty) col("b___ahn") && (col("b___aln") === col("p___bln"))
      else col("b___avn") === col("p___bvn")
    }.getOrElse(lit(false))
    when(refTier, lit(spec.dRef) + dist)
      .when(nameTier, lit(spec.dName) + dist)
      .otherwise(lit(spec.dOther) + dist)
  }

  def matchView(osm: DataFrame, ups: DataFrame, cfg: MatchConfig): DataFrame = {
    val spec = cfg.matchSpec
    val upsTagsCol = if (ups.columns.contains("tag_alts")) "tag_alts" else "tags"

    // tags_b as seen by match_condition/match_score — empty map when the
    // upstream side is an alternatives ARRAY (reference quirk, see MatchConfig)
    val tagsBRaw: Column =
      if (cfg.tagsVisibleToMatch && upsTagsCol == "tags") col("tags")
      else map().cast("map<string,string>")

    val candidates = SpatialJoin.dwithinCandidates(
      build = withHoistA(osm, spec), probe = withHoistB(ups, spec, tagsBRaw),
      buildGeom = "geom", probeGeom = "geometry",
      spec = DWithinSpec(spec.maxDistance, cfg.cellSize, cfg.saltThreshold, cfg.saltFactor),
      extraKeys = cfg.extraJoinKeys)

    // native codegen'd condition/score over the hoisted columns (semantics-
    // equivalence vs the Scala reference functions is property-tested in
    // MatchEngineSpec; hoisted == unhoisted is pinned in MatchEngineSpec too)
    val matched00 = candidates
      .filter(cfg.extraCandidateFilter
        .map(condHoisted(spec, col("dist")) && _)
        .getOrElse(condHoisted(spec, col("dist"))))
      .withColumn("score", scoreHoisted(spec, col("dist")))
    // NOTE: when enabled, this cache lives until the session ends (the legs
    // that consume it are returned lazily, so there is no safe unpersist
    // point inside this function) — no production caller enables it
    // (default OFF, see BenchPipeline.config)
    val matched0 = if (cfg.cacheCandidates) matched00.cache() else matched00

    val matched =
      if (cfg.muniGuardWhere || cfg.muniGuardCondition)
        matched0.filter(col("b_muni_code") === col("p_muni_code"))
      else matched0

    // rank-1 per upstream row; key on the ids array (unique per ups row).
    // The left extension ("missing from OSM") is NOT a join back to ups:
    // every ups row contributes one synthetic null-candidate with +inf score,
    // so rank-1 over (candidates ∪ sentinels) IS the left outer best-match —
    // one shuffle instead of a window plus an extra shuffle join. With the
    // WHERE-guard (reference behavior, 12:28) the sentinel is omitted and
    // guard-filtered ups rows vanish from leg 1.
    val candCols = Seq(
      col("p_ids"), col(s"p_$upsTagsCol"), col("p_geometry"),
      col("b_id"), col("b_type"), col("b_tags"), col("b_geom"),
      col("dist"), col("score")) ++ cfg.carryUps.map(c => col(s"p_$c"))
    val ranked0 = matched.select(candCols: _*)
    val ranked =
      if (cfg.muniGuardWhere) ranked0
      else ranked0.unionByName(ups.select(Seq(
        col("ids").as("p_ids"),
        col(upsTagsCol).as(s"p_$upsTagsCol"),
        col("geometry").as("p_geometry"),
        lit(null).cast("long").as("b_id"),
        lit(null).cast("string").as("b_type"),
        lit(null).cast("map<string,string>").as("b_tags"),
        lit(null).cast("binary").as("b_geom"),
        lit(null).cast("double").as("dist"),
        lit(Double.MaxValue).as("score")) ++
          cfg.carryUps.map(c => col(c).as(s"p_$c")): _*))
    // rank-window key: the FIRST item id is a scalar surrogate for the ids
    // array (group-collapse always emits disjoint sorted arrays, so first
    // elements are unique across ups rows) — hashing a LONG for the window
    // shuffle instead of an ARRAY<LONG> per row (VERDICT r1 watch item).
    // CONTRACT: every ups row must carry a NON-EMPTY ids array with a unique
    // first element — an empty/null-first array would key to __pk = NULL and
    // all such rows would collapse into one window partition (rank-1 keeps a
    // single row, silently dropping the rest). All registry views satisfy
    // this by construction (array(id) / sorted collect_list of ≥1 id); a
    // NULL key fails the query in-plan (the BM25 overflow guard's
    // raise_error pattern — no extra action).
    // rank-1 is a sort window over the unique total order (score, b_type,
    // b_id); groups are per upstream key and cell-bounded, so the candidate
    // join already caps per-key skew (a min_by aggregation lost its A/B to
    // the window's one sort: BASELINE.md "Rank-form A/B").
    val firstId = get(col("p_ids"), lit(0))
    val keyed = ranked.withColumn("__pk", when(firstId.isNotNull, firstId)
      .otherwise(raise_error(concat(lit("matchView rank-key contract: an upstream " +
        "row's ids array is null, empty or starts with null (ids = "),
        coalesce(col("p_ids").cast("string"), lit("NULL")), lit(")")))))
    val w = Window.partitionBy(col("__pk"))
      .orderBy(col("score"), col("b_type"), col("b_id"))
    val top1 = keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val leg1 = top1
      .select(Seq(
        col("p_ids").as("upstream_item_ids"),
        col(s"p_$upsTagsCol").as("upstream_tags"),
        col("p_geometry").as("upstream_geom"),
        col("b_id").as("osm_element_id"),
        col("b_type").as("osm_element_type"),
        col("b_tags").as("osm_tags"),
        col("b_geom").as("osm_geom"),
        col("dist")) ++ cfg.carryUps.map(c => col(s"p_$c").as(c)): _*)

    if (!cfg.antiLeg) leg1
    else {
      // anti leg (J5): OSM rows with NO upstream candidate under the anti
      // spec (which may widen the distance), ignoring the muni guard —
      // matching `FROM osm LEFT JOIN ups ON match_condition WHERE ups.id IS
      // NULL` (12:31-37). When the anti spec IS the match spec, the matched
      // OSM keys are exactly matched0's build keys — reuse them instead of
      // recomputing the whole cell join (halves the candidate work).
      val antiSpec = cfg.antiMatchSpec.getOrElse(spec)
      val antiKeys = cfg.antiExtraJoinKeys.getOrElse(cfg.extraJoinKeys)
      val antiMatched =
        if (cfg.antiMatchSpec.isEmpty && antiKeys == cfg.extraJoinKeys) matched0
        else SpatialJoin.dwithinCandidates(
            build = withHoistA(osm, antiSpec), probe = withHoistB(ups, antiSpec, tagsBRaw),
            buildGeom = "geom", probeGeom = "geometry",
            spec = DWithinSpec(antiSpec.maxDistance, cfg.cellSize, cfg.saltThreshold, cfg.saltFactor),
            extraKeys = antiKeys)
          // extraCandidateFilter applies here too — the reuse branch above
          // (matched0) includes it, and the two branches must agree on what
          // counts as "matched" or the anti population depends on which
          // branch a config happens to take
          .filter(cfg.extraCandidateFilter
            .map(condHoisted(antiSpec, col("dist")) && _)
            .getOrElse(condHoisted(antiSpec, col("dist"))))
      val antiCands = antiMatched
        .select(col("b_type").as("type"), col("b_id").as("id"))
        .distinct()
      val anti = osm.join(antiCands, Seq("type", "id"), "left_anti")
        .select(Seq(
          array().cast("array<long>").as("upstream_item_ids"),
          lit(null).cast(leg1.schema("upstream_tags").dataType).as("upstream_tags"),
          lit(null).cast("binary").as("upstream_geom"),
          col("id").as("osm_element_id"),
          col("type").as("osm_element_type"),
          col("tags").as("osm_tags"),
          col("geom").as("osm_geom"),
          lit(null).cast("double").as("dist")) ++
            cfg.carryUps.map(c => lit(null).cast(leg1.schema(c).dataType).as(c)): _*)
      leg1.select(anti.columns.map(col): _*).unionByName(anti)
    }
  }
}
