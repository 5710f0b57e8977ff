package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.tags.Tags
import graft.core.tags.Tags.MatchSpec
import graft.functions.GeoFunctions._

/** Property: the native Column implementations of match_condition /
  * match_score agree with the pure-Scala reference (Tags.*) on random tag
  * maps — the codegen hot path can't drift from the golden-tested semantics. */
class MatchEngineSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private val specs = Seq(
    MatchSpec(None, Nil, 100.0),
    MatchSpec(Some("name"), Nil, 100.0, 500.0),
    MatchSpec(Some("name"), Seq("ref"), 50.0, 500.0, 1000.0),
    MatchSpec(Some("name"), Seq("r1", "r2"), 50.0, 500.0, 1000.0))

  private def randomTags(rnd: scala.util.Random): Map[String, String] = {
    val keys = Seq("name", "ref", "r1", "r2", "amenity")
    keys.filter(_ => rnd.nextBoolean()).map { k =>
      val v = rnd.nextInt(6) match {
        case 0 => "alpha"
        case 1 => "Alpha"
        case 2 => "alpha;beta"
        // trailing/leading ';': PG's STRING_TO_ARRAY keeps the empty element,
        // so "alpha;" overlaps "gamma;" on "" — both forms must agree on it
        case 3 => "alpha;"
        case 4 => ";gamma"
        case _ => "gamma"
      }
      k -> v
    }.toMap
  }

  test("native matchConditionCol/matchScoreCol == Tags reference on 500 random cases") {
    val rnd = new scala.util.Random(7)
    val cases = (1 to 500).map { i =>
      (i, randomTags(rnd), randomTags(rnd), rnd.nextDouble() * 1200.0)
    }
    val df = cases.toDF("i", "ta", "tb", "dist")
    for (spec <- specs) {
      val got = df.select(col("i"),
          matchConditionCol(spec, col("ta"), col("tb"), col("dist")).as("cond"),
          matchScoreCol(spec, col("ta"), col("tb"), col("dist")).as("score"))
        .collect().map(r => (r.getInt(0),
          // SQL three-valued: null condition == not-matched
          !r.isNullAt(1) && r.getBoolean(1),
          r.getDouble(2))).sortBy(_._1)
      val want = cases.map { case (i, ta, tb, d) =>
        (i, Tags.matchCondition(spec, ta, tb, d), Tags.matchScore(spec, ta, tb, d))
      }.sortBy(_._1)
      got.zip(want).foreach { case (g, w) =>
        assert(g._2 == w._2, s"condition mismatch spec=$spec case=${cases(g._1 - 1)}")
        assert(math.abs(g._3 - w._3) < 1e-9, s"score mismatch spec=$spec case=${cases(g._1 - 1)}")
      }
    }
  }

  test("r6 hoisted condition/score (pre-join row projections) == Tags reference") {
    // the hoisted form moves the row-local sub-expressions (map_contains_key,
    // split, lower) out of the pair loop into per-side projections — this
    // pins its truth table (incl. null propagation through the hoisted
    // columns) to the same golden reference as the per-pair form
    val rnd = new scala.util.Random(7)
    val cases = (1 to 500).map { i =>
      (i, randomTags(rnd), randomTags(rnd), rnd.nextDouble() * 1200.0)
    }
    for (spec <- specs) {
      val a = graft.operators.SpatialJoin.prefixAll(
        MatchEngine.withHoistA(cases.map(c => (c._1, c._2)).toDF("i", "tags"), spec), "b_")
      val b = graft.operators.SpatialJoin.prefixAll(
        MatchEngine.withHoistB(
          cases.map(c => (c._1, c._3, c._4)).toDF("i", "tags", "dist"),
          spec, col("tags")), "p_")
      val got = a.join(b, col("b_i") === col("p_i"))
        .select(col("b_i").as("i"),
          MatchEngine.condHoisted(spec, col("p_dist")).as("cond"),
          MatchEngine.scoreHoisted(spec, col("p_dist")).as("score"))
        .collect().map(r => (r.getInt(0),
          !r.isNullAt(1) && r.getBoolean(1), r.getDouble(2))).sortBy(_._1)
      val want = cases.map { case (i, ta, tb, d) =>
        (i, Tags.matchCondition(spec, ta, tb, d), Tags.matchScore(spec, ta, tb, d))
      }.sortBy(_._1)
      got.zip(want).foreach { case (g, w) =>
        assert(g._2 == w._2, s"hoisted condition mismatch spec=$spec case=${cases(g._1 - 1)}")
        assert(math.abs(g._3 - w._3) < 1e-9,
          s"hoisted score mismatch spec=$spec case=${cases(g._1 - 1)}")
      }
    }
  }

  test("an upstream row without a first id fails the match (rank-key contract)") {
    val (osm, ups) = BenchPipeline.extract(graft.sources.Pages.synthesize(spark, 40L))
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + messages(t.getCause)
    // two rows without a first id would key ONE rank window, and all but one
    // of them would vanish from the match; a NULL array did so silently, an
    // empty one failed on ANSI's array index check
    for (noIds <- Seq(array().cast("array<bigint>"), lit(null).cast("array<bigint>"))) {
      val broken = ups.withColumn("ids",
        when(col("id") % 2 === 0, noIds).otherwise(col("ids")))
      assert(broken.filter(coalesce(size(col("ids")), lit(0)) <= 0).count() >= 2)
      val e = intercept[Exception] {
        MatchEngine.matchView(osm, broken, BenchPipeline.config()).collect()
      }
      assert(messages(e).contains("matchView rank-key contract"),
        s"wanted the contract error, got: ${messages(e).take(300)}")
    }
  }

  test("two upstream rows sharing a first id fail the match (rank-key contract)") {
    val (osm, ups) = BenchPipeline.extract(graft.sources.Pages.synthesize(spark, 40L))
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + messages(t.getCause)
    // a second row keyed like an existing one lands in that row's rank
    // partition, and rank-1 kept only one of the two
    val first = ups.limit(1)
    val clash = ups.unionByName(first.withColumn("ids",
      concat(col("ids"), array(lit(Long.MaxValue)))))
    val e = intercept[Exception] {
      MatchEngine.matchView(osm, clash, BenchPipeline.config()).collect()
    }
    assert(messages(e).contains("matchView rank-key contract: two upstream rows share"),
      s"wanted the contract error, got: ${messages(e).take(300)}")
  }
}
