package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}
import graft.core.geom.Geom
import graft.core.tags.Tags.MatchSpec
import graft.engine.MatchEngine.MatchConfig
import graft.operators.SpatialJoin
import graft.operators.SpatialJoin.DWithinSpec

/** Inputs and configs that cover every way a view can configure the match:
  * the bench config (plain and salted), both muni guards, an anti spec that
  * is wider or reads other tag keys, leg-only and anti-only equi-keys with
  * carried columns, an extra candidate filter and a view without an anti
  * leg. The osm side holds exact duplicate rows, rows sharing a (type, id)
  * at different places, rows with a NULL type or id, and polygons that
  * span several cells. */
object MatchSinglePassSpec {
  private def tags(rnd: scala.util.Random): Map[String, String] = {
    def pick(xs: String*): Option[String] = xs.lift(rnd.nextInt(xs.size + 1))
    Seq(
      "name" -> pick("Alfa", "alfa", "Beta", "Gamma"),
      "ref" -> pick("1", "2", "1;3"),
      "operator" -> pick("Op", "op", "Other"),
      "addr:street" -> pick("Storgatan", "Kyrkvägen"),
      "addr:housenumber" -> pick("1", "2")).collect { case (k, Some(v)) => k -> v }.toMap
  }

  def fixture(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def xy() = (rnd.nextDouble() * 4000, rnd.nextDouble() * 4000)
    val base = (0 until 400).map { i =>
      val (x, y) = xy()
      val geom =
        if (i % 10 == 9) { val w = 30 + rnd.nextDouble() * 600; Geom.envelopePoly(x, y, x + w, y + w / 2) }
        else Geom.point(x, y)
      (Option(Seq("n", "w", "a")(i % 3)), Option(i.toLong), tags(rnd), Geom.toWkb(geom),
        Seq("0180", "0181")(rnd.nextInt(2)), Seq("container", "centre")(rnd.nextInt(2)))
    }
    val sameKeyElsewhere = base.slice(10, 15).map { r =>
      val (x, y) = xy(); r.copy(_4 = Geom.toWkb(Geom.point(x, y)))
    }
    val nullKeys = base.slice(15, 25).zipWithIndex.map { case (r, k) =>
      if (k < 5) r.copy(_1 = None) else r.copy(_2 = None)
    }
    val osm = SpatialJoin.withGeoMeta(
      (base ++ base.take(10) ++ sameKeyElsewhere ++ nullKeys)
        .toDF("type", "id", "tags", "geom", "muni_code", "recycling_type"), "geom")
    val ups = SpatialJoin.withGeoMeta((0 until 250).map { j =>
      val (x, y) = xy()
      val id = 10000L + j
      (id, if (j % 7 == 0) Seq(id, id + 100000) else Seq(id), tags(rnd),
        Geom.toWkb(Geom.point(x, y)), Seq("0180", "0181")(rnd.nextInt(2)),
        Seq("container", "centre")(rnd.nextInt(2)), s"note $j")
    }.toDF("id", "ids", "tags", "geometry", "muni_code", "recycling_type", "note"), "geometry")
    (osm, ups)
  }

  /** ups with its tags as an alternatives ARRAY (the preschools shape) */
  def withAlternatives(ups: DataFrame): DataFrame =
    ups.withColumn("tag_alts", array(col("tags"),
      map_concat(col("tags"), map(lit("amenity"), lit("x"))))).drop("tags")

  /** (name, config, alternatives-shaped ups) */
  val configs: Seq[(String, MatchConfig, Boolean)] = {
    val name = MatchSpec(Some("name"), Nil, dOther = 100.0, dName = 500.0)
    Seq(
      ("bench", BenchPipeline.config(), false),
      ("muniGuardWhere", MatchConfig(name, antiLeg = true, tagsVisibleToMatch = false,
        muniGuardWhere = true), true),
      ("muniGuardCondition", MatchConfig(MatchSpec(Some("ref"), Nil, dOther = 25.0, dName = 100.0),
        muniGuardCondition = true), false),
      ("wider antiMatchSpec", MatchConfig(MatchSpec(None, Nil, dOther = 100.0),
        antiMatchSpec = Some(MatchSpec(None, Nil, dOther = 500.0))), false),
      ("anti spec on other tag keys", MatchConfig(
        MatchSpec(Some("name"), Seq("ref"), dOther = 50.0, dName = 200.0, dRef = 400.0),
        antiMatchSpec = Some(MatchSpec(Some("operator"), Seq("ref", "operator"),
          dOther = 80.0, dName = 150.0, dRef = 300.0))), false),
      ("leg-1-only keys + carryUps", MatchConfig(
        MatchSpec(Some("addr:street"), Seq("addr:street", "addr:housenumber"),
          dOther = 250.0, dName = 500.0, dRef = 1000.0),
        extraJoinKeys = Seq("recycling_type"), antiExtraJoinKeys = Some(Nil),
        carryUps = Seq("note")), false),
      ("anti-only keys", MatchConfig(name, antiExtraJoinKeys = Some(Seq("muni_code"))), false),
      ("shared keys + extraCandidateFilter", MatchConfig(name, extraJoinKeys = Seq("muni_code"),
        extraCandidateFilter = Some(col("b_recycling_type") === col("p_recycling_type") ||
          col("dist") <= 60.0)), false),
      ("no anti leg", MatchConfig(name, antiLeg = false, carryUps = Seq("note")), false))
  }

  /** The two-join formulation the single pass replaced: leg 1 (rank-1 over
    * guarded candidates ∪ sentinels) UNION the osm rows a second cell join
    * at the anti spec leaves unmatched (left_anti). */
  def twoJoin(osm: DataFrame, ups: DataFrame, cfg: MatchConfig): DataFrame = {
    import MatchEngine._
    val spec = cfg.matchSpec
    val upsTagsCol = if (ups.columns.contains("tag_alts")) "tag_alts" else "tags"
    val tagsB: Column =
      if (cfg.tagsVisibleToMatch && upsTagsCol == "tags") col("tags")
      else map().cast("map<string,string>")
    def candidates(s: MatchSpec, keys: Seq[String]) = SpatialJoin.dwithinCandidates(
        build = withHoistA(osm, s), probe = withHoistB(ups, s, tagsB),
        buildGeom = "geom", probeGeom = "geometry",
        spec = DWithinSpec(s.maxDistance, cfg.cellSize, cfg.saltThreshold, cfg.saltFactor),
        extraKeys = keys)
      .filter(cfg.extraCandidateFilter.foldLeft(condHoisted(s, col("dist")))(_ && _))
    val matched0 = candidates(spec, cfg.extraJoinKeys)
      .withColumn("score", scoreHoisted(spec, col("dist")))
    val matched =
      if (cfg.muniGuardWhere || cfg.muniGuardCondition)
        matched0.filter(col("b_muni_code") === col("p_muni_code"))
      else matched0
    val ranked0 = matched.select(Seq(col("p_ids"), col(s"p_$upsTagsCol"), col("p_geometry"),
      col("b_id"), col("b_type"), col("b_tags"), col("b_geom"), col("dist"), col("score")) ++
      cfg.carryUps.map(c => col(s"p_$c")): _*)
    val ranked =
      if (cfg.muniGuardWhere) ranked0
      else ranked0.unionByName(ups.select(Seq(col("ids").as("p_ids"),
        col(upsTagsCol).as(s"p_$upsTagsCol"), col("geometry").as("p_geometry"),
        lit(null).cast("long").as("b_id"), lit(null).cast("string").as("b_type"),
        lit(null).cast("map<string,string>").as("b_tags"), lit(null).cast("binary").as("b_geom"),
        lit(null).cast("double").as("dist"), lit(Double.MaxValue).as("score")) ++
        cfg.carryUps.map(c => col(c).as(s"p_$c")): _*))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(get(col("p_ids"), lit(0)))
      .orderBy(col("score"), col("b_type"), col("b_id"))
    val leg1 = ranked.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(Seq(col("p_ids").as("upstream_item_ids"), col(s"p_$upsTagsCol").as("upstream_tags"),
        col("p_geometry").as("upstream_geom"), col("b_id").as("osm_element_id"),
        col("b_type").as("osm_element_type"), col("b_tags").as("osm_tags"),
        col("b_geom").as("osm_geom"), col("dist")) ++ cfg.carryUps.map(c => col(s"p_$c").as(c)): _*)
    if (!cfg.antiLeg) leg1
    else {
      val antiCands = candidates(cfg.antiMatchSpec.getOrElse(spec),
          cfg.antiExtraJoinKeys.getOrElse(cfg.extraJoinKeys))
        .select(col("b_type").as("type"), col("b_id").as("id")).distinct()
      val anti = osm.join(antiCands, Seq("type", "id"), "left_anti").select(Seq(
        array().cast("array<long>").as("upstream_item_ids"),
        lit(null).cast(leg1.schema("upstream_tags").dataType).as("upstream_tags"),
        lit(null).cast("binary").as("upstream_geom"), col("id").as("osm_element_id"),
        col("type").as("osm_element_type"), col("tags").as("osm_tags"),
        col("geom").as("osm_geom"), lit(null).cast("double").as("dist")) ++
        cfg.carryUps.map(c => lit(null).cast(leg1.schema(c).dataType).as(c)): _*)
      leg1.select(anti.columns.map(col): _*).unionByName(anti)
    }
  }
}

/** The single-pass `matchView` is row-identical to the two-join formulation
  * under every config shape, and on the bench config it is (and stays) the
  * left join plus the left_anti it replaced — duplicate unmatched osm rows
  * and NULL-keyed osm rows all survive the anti leg. */
class MatchSinglePassSpec extends AnyFunSuite {
  import MatchSinglePassSpec._
  val spark = SparkTestBase.spark

  /** map-typed columns as JSON, so `exceptAll` can compare them */
  private def comparable(df: DataFrame): DataFrame = df.select(df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType | ArrayType(_: MapType, _) => to_json(col(f.name)).as(f.name)
      case _ => col(f.name)
    }
  }: _*)

  private val (osm, ups) = fixture(spark)

  for ((name, cfg, alts) <- configs) test(s"single pass == leg 1 ∪ left_anti: $name") {
    val u = if (alts) withAlternatives(ups) else ups
    val got = MatchEngine.matchView(osm, u, cfg)
    val want = twoJoin(osm, u, cfg)
    assert(got.schema.map(f => f.name -> f.dataType.catalogString) ==
      want.schema.map(f => f.name -> f.dataType.catalogString))
    val (g, w) = (comparable(got).cache(), comparable(want).cache())
    try {
      val missing = w.exceptAll(g).count()
      val extra = g.exceptAll(w).count()
      assert(missing == 0 && extra == 0,
        s"$name: $missing rows missing, $extra extra of ${w.count()}")
      val anti = w.filter(size(col("upstream_item_ids")) === 0)
      val matched = w.filter(col("osm_element_id").isNotNull && size(col("upstream_item_ids")) > 0)
      assert(matched.count() > 0, s"$name: no leg-1 match in the fixture")
      if (cfg.antiLeg) assert(anti.count() > 0, s"$name: no anti-leg row in the fixture")
    } finally { g.unpersist(); w.unpersist() }
  }

  test("the anti leg keeps duplicate and NULL-keyed osm rows (bench config)") {
    val anti = MatchEngine.matchView(osm, ups, BenchPipeline.config())
      .filter(size(col("upstream_item_ids")) === 0).cache()
    try {
      val nullKeys = anti.filter(col("osm_element_type").isNull || col("osm_element_id").isNull)
      assert(nullKeys.count() == osm.filter(col("type").isNull || col("id").isNull).count(),
        "every NULL-keyed osm row is unmatched in the reference's anti join")
      val dupKeys = anti.groupBy("osm_element_type", "osm_element_id").count()
        .filter(col("osm_element_id").isNotNull && col("osm_element_type").isNotNull &&
          col("count") > 1)
      assert(dupKeys.count() > 0, "duplicate unmatched osm rows must all survive")
    } finally anti.unpersist()
  }

  test("single pass == leg 1 ∪ left_anti: bench config, salted cell join") {
    val cfg = BenchPipeline.config(saltThreshold = 2L, saltFactor = 4)
    val got = comparable(MatchEngine.matchView(osm, ups, cfg))
    val want = comparable(twoJoin(osm, ups, cfg))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }
}
