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
 * as ONE cell-bucketed candidate join whose refined pairs feed ONE window:
 * rank-1 per upstream row for J4, "no match marker" per osm row for J5, all
 * Catalyst-planned. Determinism: the reference's DISTINCT ON is tie-unstable;
 * we pin the total order (score, osm type, osm id) — divergence only on exact
 * ties.
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
    *   matched (and no upstream sentinel checks the rank-key contract).
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
      /** persist the refined candidate set. Both legs already read it
        * from ONE cell-join execution, so this only pays off for a caller
        * that re-executes the returned frame. */
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
  // `ns` namespaces the columns of a second spec that reads other tag keys.

  private[engine] def withHoistA(df: DataFrame, spec: Tags.MatchSpec, ns: String = ""): DataFrame = {
    val t = col("tags")
    df.select(col("*") +: (spec.refKeys.zipWithIndex.flatMap { case (k, i) =>
      Seq(map_contains_key(t, lit(k)).as(s"__${ns}ah$i"), split(t(k), ";").as(s"__${ns}aa$i"),
        t(k).as(s"__${ns}av$i"))
    } ++ spec.nameKey.toSeq.flatMap(nk => Seq(map_contains_key(t, lit(nk)).as(s"__${ns}ahn"),
      lower(t(nk)).as(s"__${ns}aln"), t(nk).as(s"__${ns}avn")))): _*)
  }

  private[engine] def withHoistB(df: DataFrame, spec: Tags.MatchSpec, tagsB: Column,
                                 ns: String = ""): DataFrame =
    df.select(col("*") +: (spec.refKeys.zipWithIndex.flatMap { case (k, i) =>
      Seq(split(tagsB(k), ";").as(s"__${ns}ba$i"), tagsB(k).as(s"__${ns}bv$i"))
    } ++ spec.nameKey.toSeq.flatMap(nk =>
      Seq(lower(tagsB(nk)).as(s"__${ns}bln"), tagsB(nk).as(s"__${ns}bvn")))): _*)

  /** matchConditionCol over the hoisted columns (same truth table, same
    * null propagation — see GeoFunctions.matchConditionCol). */
  private[engine] def condHoisted(spec: Tags.MatchSpec, dist: Column, ns: String = ""): Column = {
    val refsAgree = spec.refKeys.indices.map(i =>
        col(s"b___${ns}ah$i") && arrays_overlap(col(s"b___${ns}aa$i"), col(s"p___${ns}ba$i")))
      .reduceOption(_ && _).getOrElse(lit(false))
    val namesAgree = spec.nameKey.map(_ =>
      col(s"b___${ns}ahn") && (col(s"b___${ns}aln") === col(s"p___${ns}bln"))).getOrElse(lit(false))
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
   *   dist [, carryUps]
   *
   * Leg 1 (J1/J2/J4) is the best candidate per upstream row, or the row
   * with null osm columns when it has none. The anti leg (J5) is every osm
   * row without a candidate under the anti spec and anti keys, with an empty
   * ids array. Both come from one candidate set, one explode and one
   * window; no config takes a second cell join.
   *
   * Rank-key contract: every ups row has a non-empty `ids` array whose first
   * element no other ups row shares. A violation fails the query in-plan.
   * Under `muniGuardWhere` there are no upstream sentinels, so a shared
   * first id goes unchecked there.
   */
  def matchView(osm: DataFrame, ups: DataFrame, cfg: MatchConfig): DataFrame = {
    val spec = cfg.matchSpec
    val antiSpec = cfg.antiMatchSpec.getOrElse(spec)
    val upsTagsCol = if (ups.columns.contains("tag_alts")) "tag_alts" else "tags"

    // tags_b as seen by match_condition/match_score — empty map when the
    // upstream side is an alternatives ARRAY (reference quirk, see MatchConfig)
    val tagsBRaw: Column =
      if (cfg.tagsVisibleToMatch && upsTagsCol == "tags") col("tags")
      else map().cast("map<string,string>")

    // ONE cell join serves both legs: at the wider radius, on the equi-keys
    // both legs share; each leg's own keys, spec and guard become per-pair
    // conditions. The anti spec hoists its own columns only when it reads
    // other tag keys than the match spec.
    val antiKeys =
      if (cfg.antiLeg) cfg.antiExtraJoinKeys.getOrElse(cfg.extraJoinKeys) else cfg.extraJoinKeys
    val sharedKeys = cfg.extraJoinKeys.intersect(antiKeys)
    val antiNs =
      if (antiSpec.nameKey == spec.nameKey && antiSpec.refKeys == spec.refKeys) "" else "x"
    def hoisted(df: DataFrame, hoist: (DataFrame, Tags.MatchSpec, String) => DataFrame) = {
      val d = hoist(df, spec, "")
      if (cfg.antiLeg && antiNs.nonEmpty) hoist(d, antiSpec, antiNs) else d
    }
    val radius = if (cfg.antiLeg) spec.maxDistance max antiSpec.maxDistance else spec.maxDistance
    val candidates = SpatialJoin.dwithinCandidates(
      build = hoisted(osm, withHoistA(_, _, _)),
      probe = hoisted(ups, withHoistB(_, _, tagsBRaw, _)),
      buildGeom = "geom", probeGeom = "geometry",
      spec = DWithinSpec(radius, cfg.cellSize, cfg.saltThreshold, cfg.saltFactor),
      extraKeys = sharedKeys)

    // native codegen'd condition/score over the hoisted columns (semantics-
    // equivalence vs the Scala reference functions is property-tested in
    // MatchEngineSpec; hoisted == unhoisted is pinned in MatchEngineSpec too).
    // A spec's condition implies dist <= its own maxDistance, so the wider
    // radius adds no pair to the narrower leg.
    def keysEqual(ks: Seq[String]): Column =
      ks.map(k => col(s"b_$k") === col(s"p_$k")).foldLeft(lit(true))(_ && _)
    val extra = cfg.extraCandidateFilter.getOrElse(lit(true))
    val legCond = condHoisted(spec, col("dist")) && extra &&
      keysEqual(cfg.extraJoinKeys.diff(sharedKeys)) &&
      (if (cfg.muniGuardWhere || cfg.muniGuardCondition)
        col("b_muni_code") === col("p_muni_code") else lit(true))
    // the anti leg ignores the muni guard (12:31-37); a NULL osm key never
    // matches in the reference's anti join, so it leaves no marker
    val antiCond = condHoisted(antiSpec, col("dist"), antiNs) && extra &&
      keysEqual(antiKeys.diff(sharedKeys)) && col("b_type").isNotNull && col("b_id").isNotNull
    val pairs0 = candidates.filter(if (cfg.antiLeg) legCond || antiCond else legCond)
    // NOTE: when enabled, this cache lives until the session ends (the frame
    // that consumes it is returned lazily, so there is no safe unpersist
    // point inside this function); no production caller enables it
    val pairs = if (cfg.cacheCandidates) pairs0.cache() else pairs0

    // Each refined pair explodes into a full-payload leg-1 row keyed by the
    // upstream key (__osm = false) and a narrow "matched" marker keyed by the
    // osm key (__osm = true). Sentinels (__s) are unioned in: one per ups row
    // with +inf score, so rank-1 over (pairs ∪ sentinel) IS the left outer
    // best-match (omitted under the WHERE-guard, 12:28, where guard-filtered
    // ups rows vanish from leg 1), and one per osm row carrying its anti-leg
    // payload, kept iff its partition holds no marker — the left_anti of
    // `FROM osm LEFT JOIN ups ... WHERE ups.id IS NULL` (12:31-37), under
    // which duplicate unmatched osm rows all survive.
    val kind =
      if (cfg.antiLeg) explode(array(when(legCond, false), when(antiCond, true))) else lit(false)
    def legOnly(c: String) = when(!col("__osm"), col(c)).as(c)
    val upsPayload = Seq("ids", upsTagsCol, "geometry") ++ cfg.carryUps
    val rows = pairs
      .withColumn("score", scoreHoisted(spec, col("dist")))
      .withColumn("__osm", kind).filter(col("__osm").isNotNull)
      .select(Seq(col("__osm"), lit(false).as("__s"), col("b_id"), col("b_type")) ++
        (upsPayload.map("p_" + _) ++ Seq("b_tags", "b_geom", "dist", "score")).map(legOnly): _*)
    val upsSentinels = ups.select(Seq(lit(false).as("__osm"), lit(true).as("__s"),
      lit(Double.MaxValue).as("score")) ++ upsPayload.map(c => col(c).as(s"p_$c")): _*)
    val osmSentinels = osm.select(lit(true).as("__osm"), lit(true).as("__s"),
      array().cast("array<long>").as("p_ids"), col("id").as("b_id"), col("type").as("b_type"),
      col("tags").as("b_tags"), col("geom").as("b_geom"))
    val withUps =
      if (cfg.muniGuardWhere) rows else rows.unionByName(upsSentinels, allowMissingColumns = true)
    val all =
      if (cfg.antiLeg) withUps.unionByName(osmSentinels, allowMissingColumns = true) else withUps

    // ONE window ranks leg 1 and decides the anti leg: partitions are
    // (kind, key). The upstream key is the FIRST item id, a scalar surrogate
    // for the ids array (hashing a LONG for the window shuffle instead of an
    // ARRAY<LONG> per row, VERDICT r1 watch item). Both halves of the
    // rank-key contract (see the scaladoc) fail the query in-plan, with the
    // BM25 overflow guard's raise_error pattern and no extra action: a NULL
    // first id here, and a second sentinel in one upstream partition below,
    // which would otherwise let rank-1 silently drop all but one of the rows.
    // rank-1 is a sort window over the unique total order (score, b_type,
    // b_id); groups are per key and cell-bounded, so the candidate join
    // already caps per-key skew (a min_by aggregation lost its A/B to the
    // window's one sort: BASELINE.md "Rank-form A/B").
    val firstId = get(col("p_ids"), lit(0))
    def contract(what: String, ids: Column) = raise_error(concat(
      lit(s"matchView rank-key contract: $what (ids = "),
      coalesce(ids.cast("string"), lit("NULL")), lit(")")))
    val w = Window.partitionBy(col("__osm"), col("__k"), col("__t"))
      .orderBy(col("score"), col("b_type"), col("b_id"))
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val uniqueKey = when(col("__sentinels") <= 1, lit(true)).otherwise(contract(
      "two upstream rows share the first id", col("p_ids")))
    all
      .withColumn("__k", when(col("__osm"), col("b_id")).when(firstId.isNotNull, firstId)
        .otherwise(contract("an upstream row's ids array is null, empty or starts with null",
          col("p_ids"))))
      .withColumn("__t", when(col("__osm"), col("b_type")))
      // one select, so the three window functions share ONE Window operator
      .select(col("*"), row_number().over(w).as("__rn"),
        count(when(col("__s"), 1)).over(whole).as("__sentinels"),
        count(when(!col("__s"), 1)).over(whole).as("__markers"))
      .filter(when(col("__osm"), col("__s") && col("__markers") === 0)
        .otherwise(col("__rn") === 1 && uniqueKey))
      .select(Seq(
        col("p_ids").as("upstream_item_ids"),
        col(s"p_$upsTagsCol").as("upstream_tags"),
        col("p_geometry").as("upstream_geom"),
        col("b_id").as("osm_element_id"),
        col("b_type").as("osm_element_type"),
        col("b_tags").as("osm_tags"),
        col("b_geom").as("osm_geom"),
        col("dist")) ++ cfg.carryUps.map(c => col(s"p_$c").as(c)): _*)
  }
}
