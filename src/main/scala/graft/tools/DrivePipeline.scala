package graft.tools

import org.apache.spark.sql.functions._
import graft.engine.{BenchPipeline, Tiles}
import graft.sources.Pages

/** Drives the flagship pipeline end-to-end (verify-skill surface): pages ->
  * extract -> match -> deviations -> tiles, printing counts and plan info. */
object DrivePipeline {
  def main(args: Array[String]): Unit = {
    val nSites = if (args.nonEmpty) args(0).toLong else 2000L
    val spark = Sessions.local(Sessions.gateCores, Sessions.Gate)

    val pages = Pages.synthesize(spark, nSites).cache()
    println(s"DRIVE pages=${pages.count()}")
    pages.groupBy("lang").count().collect().foreach(r => println(s"DRIVE lang ${r.get(0)}=${r.get(1)}"))

    val matchDf = BenchPipeline.matchRows(pages).cache()
    val byState = matchDf
      .withColumn("state",
        when(col("osm_element_id").isNull, "not-in-osm")
          .when(size(col("upstream_item_ids")) === 0, "not-in-upstream")
          .otherwise("in-both"))
      .groupBy("state").count().collect()
    byState.foreach(r => println(s"DRIVE match state ${r.get(0)}=${r.get(1)}"))

    val dev = BenchPipeline.deviations(matchDf).cache()
    println(s"DRIVE deviations=${dev.count()}")
    dev.groupBy("title").count().collect().foreach(r => println(s"DRIVE title ${r.get(0)}=${r.get(1)}"))
    dev.limit(3).collect().foreach(r => println(s"DRIVE sample $r"))

    val tiles = Tiles.tileAssignment(matchDf)
    println(s"DRIVE tile rows=${tiles.count()} distinct tiles=${tiles.select("tile_x", "tile_y").distinct().count()}")

    // PROBE: salted vs unsalted must agree exactly
    val salted = BenchPipeline.matchRows(pages, saltThreshold = 50L)
    println(s"PROBE salted match count=${salted.count()} unsalted=${matchDf.count()}")

    // PROBE: empty input
    val empty = BenchPipeline.deviations(BenchPipeline.matchRows(pages.limit(0)))
    println(s"PROBE empty pages -> deviations=${empty.count()}")

    spark.stop()
  }
}
