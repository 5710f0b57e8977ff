package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r6: the fused single-pass extraction (BenchPipeline.benchFeatures +
  * sidesFromFeatures) must produce EXACTLY the rows of the unfused
  * extract() path (extractOsmElements/extractUpstreamItems + filterOsm/
  * projectUps) — the fusion only removes the duplicated synthesis pass,
  * never a row or a field. Compared as order-insensitive row-hash sums over
  * every column (tags canonicalized, WKB hexed). */
class BenchFeaturesSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark

  private def rowSum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val canon = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.BinaryType => hex(col(c))
        case _: org.apache.spark.sql.types.MapType =>
          graft.functions.GeoFunctions.tagsToJson(col(c))
        case _: org.apache.spark.sql.types.ArrayType =>
          concat_ws(",", transform(col(c), _.cast("string")))
        case _ => col(c).cast("string")
      }
    }
    val r = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(canon: _*).cast("decimal(38,0)")).as("h")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }

  test("fused benchFeatures == unfused extract, row for row") {
    // 5000 sites exercises every branch: areas (id%20==0), missing names,
    // OSM-only anti rows, noise+muni rows that must be filtered out
    val pages = graft.sources.Pages.synthesize(spark, 5000L)
    val (osmOld, upsOld) = BenchPipeline.extract(pages)
    val (osmNew, upsNew) =
      BenchPipeline.sidesFromFeatures(BenchPipeline.benchFeatures(pages))
    val osmCols = Seq("type", "id", "tags", "geom", "cx", "cy", "is_point")
    val upsCols = Seq("ids", "tags", "geometry", "cx", "cy", "is_point")
    assert(rowSum(osmOld.selectExpr(osmCols: _*)) ==
      rowSum(osmNew.selectExpr(osmCols: _*)), "osm side diverged")
    assert(rowSum(upsOld.selectExpr(upsCols: _*)) ==
      rowSum(upsNew.selectExpr(upsCols: _*)), "ups side diverged")
  }

  test("releaseSharedInputs unpersists the session's shared inputs; a fresh call refills them") {
    import org.apache.spark.storage.StorageLevel.NONE
    val (osm, ups) = BenchPipeline.sharedInputs(spark, 200L)
    assert(osm.count() > 0 && ups.count() > 0)
    assert(osm.storageLevel != NONE && ups.storageLevel != NONE)
    assert(BenchPipeline.sharedInputs(spark, 200L) == ((osm, ups)), "memoized per session")
    BenchPipeline.releaseSharedInputs(spark)
    assert(osm.storageLevel == NONE && ups.storageLevel == NONE)
    val (osm2, ups2) = BenchPipeline.sharedInputs(spark, 200L)
    assert(!(osm2 eq osm) && !(ups2 eq ups), "a released entry must not be served again")
    assert(osm2.storageLevel != NONE && ups2.storageLevel != NONE)
    assert(osm2.count() == osm.count())
    BenchPipeline.releaseSharedInputs(spark)
  }

  test("releaseSharedInputs also releases the q_ds_* dataset inputs") {
    import org.apache.spark.storage.StorageLevel.NONE
    def inputs(): Seq[DataFrame] = {
      val (osm, items, munis) = graft.SparkEntry.datasetInputs(spark)
      Seq(osm, items, munis)
    }
    val held = inputs()
    assert(held.forall(_.storageLevel != NONE))
    BenchPipeline.releaseSharedInputs(spark)
    assert(held.forall(_.storageLevel == NONE), "released dataset inputs still cached")
    val again = inputs()
    assert(again.zip(held).forall { case (a, h) => !(a eq h) && a.storageLevel != NONE },
      "a released entry must not be served again")
    BenchPipeline.releaseSharedInputs(spark)
  }
}
