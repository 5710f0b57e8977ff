package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{SpatialJoin, SpatialLayout}

/**
 * Measured evidence for the bucketed-table layout (SpatialLayout
 * .writeBucketedPoints / bucketedDWithin): at the 100 TB design point the
 * persistent element store is re-joined against upstream data every sync,
 * and the ad-hoc cell equi-join re-shuffles BOTH sides on every run. The
 * bucketed layout pays the shuffle once, at write time; every later join
 * plans with zero Exchange. This probe measures both paths end to end from
 * disk — write cost (plain parquet vs bucketed table) and per-join cost
 * (shuffled vs exchange-free) — and reports the break-even join count
 * (how many repeated joins amortize the extra write cost). Results feed
 * BASELINE.md.
 *
 * Both paths scan the same rows from disk and evaluate the same codegen'd
 * cell/cover expressions and distance refinement; the ONLY difference is
 * where the cover explode + shuffle happen (per-join vs at write time).
 *
 * Envs: BUCKET_N (rows per side, default 2M), BUCKET_D (distance = cell
 * size, default 100.0 over a 100km square), BUCKET_CORES (default 8),
 * BUCKET_BUCKETS (default 64), BUCKET_JOINS (timed joins per path,
 * default 3).
 */
object BucketedProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("BUCKET_N", "2000000").toLong
    val d = sys.env.getOrElse("BUCKET_D", "100.0").toDouble
    val cores = sys.env.getOrElse("BUCKET_CORES", "8").toInt
    val buckets = sys.env.getOrElse("BUCKET_BUCKETS", "64").toInt
    val joins = sys.env.getOrElse("BUCKET_JOINS", "3").toInt
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("bucketed-probe")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "false")
      // 100 TB design point: neither side broadcasts (same as SkewProbe) —
      // otherwise the sandbox-sized build side broadcasts and BOTH paths
      // are exchange-free, hiding exactly the cost being measured.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("bucketed_probe").toString
    def pts(prefix: String, seed: Long): DataFrame =
      s.range(n).select(col("id").as(s"${prefix}id"),
        pmod(col("id") * seed, lit(100000L)).cast("double").as(s"${prefix}x"),
        pmod(col("id") * (seed + 2), lit(100000L)).cast("double").as(s"${prefix}y"))

    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // ---- plain layout: raw rows on disk, cover-explode + shuffle per join
    val (tPlainWrite, _) = timed {
      pts("p_", 48271L).write.mode("overwrite").parquet(s"$dir/plain_p")
      pts("b_", 94261L).write.mode("overwrite").parquet(s"$dir/plain_b")
    }
    def adhocJoin(): Long = {
      val p = s.read.parquet(s"$dir/plain_p")
        .withColumn("cell", explode(SpatialLayout.coverCells(col("p_x"), col("p_y"), d, d)))
      val b = s.read.parquet(s"$dir/plain_b")
        .withColumn("cell", SpatialLayout.cellIdCol(col("b_x"), col("b_y"), d))
      p.join(b, Seq("cell"))
        .filter(graft.functions.GeoFunctions.pointDist(
          col("p_x"), col("p_y"), col("b_x"), col("b_y")) <= lit(d))
        .count()
    }

    // ---- bucketed layout: shuffle once at write, exchange-free joins
    val (tBucketWrite, _) = timed {
      SpatialLayout.writeBucketedPoints(pts("p_", 48271L), "p_x", "p_y",
        cellSize = d, radius = d, "bucketed_probe_p", s"$dir/bt_p", buckets)
      SpatialLayout.writeBucketedPoints(pts("b_", 94261L), "b_x", "b_y",
        cellSize = d, radius = 0.0, "bucketed_probe_b", s"$dir/bt_b", buckets)
    }
    def bucketedJoin(): Long =
      SpatialLayout.bucketedDWithin(s, "bucketed_probe_p", "bucketed_probe_b",
        "p_x", "p_y", "b_x", "b_y", d).count()

    // warm-up both shapes (codegen/JIT), then interleaved timed runs
    adhocJoin(); bucketedJoin()
    val adhocTimes = Array.fill(joins)(0.0)
    val bucketTimes = Array.fill(joins)(0.0)
    var pairsA = 0L; var pairsB = 0L
    for (i <- 0 until joins) {
      val (ta, na) = timed(adhocJoin()); adhocTimes(i) = ta; pairsA = na
      val (tb, nb) = timed(bucketedJoin()); bucketTimes(i) = tb; pairsB = nb
    }
    require(pairsA == pairsB, s"pair counts diverged: $pairsA vs $pairsB")
    val tA = adhocTimes.min
    val tB = bucketTimes.min
    val extraWrite = tBucketWrite - tPlainWrite
    val perJoinSaving = tA - tB
    val breakEven =
      if (perJoinSaving > 0) math.ceil(extraWrite / perJoinSaving).toLong else -1L
    println(f"BUCKETEDPROBE n=$n d=$d cores=$cores buckets=$buckets pairs=$pairsA " +
      f"plainWrite=${tPlainWrite}%.2fs bucketWrite=${tBucketWrite}%.2fs " +
      f"adhocJoin=${tA}%.2fs bucketedJoin=${tB}%.2fs " +
      f"speedup=${tA / tB}%.2fx breakEvenJoins=$breakEven")

    s.sql("DROP TABLE IF EXISTS bucketed_probe_p")
    s.sql("DROP TABLE IF EXISTS bucketed_probe_b")
    graft.engine.PartitionedStore.deleteRecursively(java.nio.file.Paths.get(dir))
    s.stop()
  }
}
