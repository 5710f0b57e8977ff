package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.engine.SparkTestBase
import graft.core.cell.Morton

/**
 * Z-order layout: column-form z-codes bit-match the kernel, bbox scans are
 * differentially correct, the zval ranges reach the parquet reader as
 * PushedFilters, and the layout DEMONSTRABLY skips data — the scan over the
 * z-ordered layout reads a fraction of what the same query reads over a
 * randomly placed layout.
 */
class SpatialLayoutSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private val cell = 512.0
  private def pts(n: Int, session: SparkSession = spark): DataFrame =
    session.range(n).select(col("id"),
      pmod(col("id") * 48271L, lit(100000L)).cast("double").as("x"),
      pmod(col("id") * 69621L, lit(100000L)).cast("double").as("y"))

  private val (bx0, by0, bx1, by1) = (20000.0, 60000.0, 30000.0, 70000.0)

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val stream = java.nio.file.Files.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally stream.close()
    }
  }

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet scan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("zRanges caps the interval count by bridging the smallest gaps (superset)") {
    val exact = SpatialLayout.zRanges(cell, bx0, by0, bx1, by1, maxRanges = Int.MaxValue)
    assert(exact.length > 4, s"fixture bbox should decompose non-trivially: ${exact.length}")
    val capped = SpatialLayout.zRanges(cell, bx0, by0, bx1, by1, maxRanges = 4)
    assert(capped.length == 4)
    for ((lo, hi) <- exact)
      assert(capped.exists(c => lo >= c._1 && hi <= c._2),
        s"capped cover must contain exact range ($lo,$hi)")
  }

  test("property: bboxFilter == plain bounds filter for random boxes and cell sizes") {
    // the z-range cover may over-cover (harmless behind the exact bounds) but
    // an under-cover loses rows — differential against the plain filter
    // codegen fallback off: a filter whose generated code fails to compile
    // (it outgrew the 64 KB method limit when zval's arithmetic was
    // substituted into every range comparison) fails here instead of
    // silently running interpreted
    val fallbackKey = "spark.sql.codegen.fallback"
    val fallback = spark.conf.getOption(fallbackKey)
    spark.conf.set(fallbackKey, "false")
    try {
      val rnd = new scala.util.Random(7)
      for (_ <- 0 until 12) {
        val cs = Seq(128.0, 512.0, 1000.0, 4096.0)(rnd.nextInt(4))
        val x0 = rnd.nextInt(90000).toDouble; val y0 = rnd.nextInt(90000).toDouble
        val x1 = x0 + 1 + rnd.nextInt(30000); val y1 = y0 + 1 + rnd.nextInt(30000)
        val df = SpatialLayout.withZOrder(pts(8000), "x", "y", cs)
        val got = df.filter(SpatialLayout.bboxFilter(col("x"), col("y"), cs, x0, y0, x1, y1))
          .select("id").as[Long].collect().sorted.toSeq
        val want = df.filter(col("x") >= x0 && col("x") <= x1 && col("y") >= y0 && col("y") <= y1)
          .select("id").as[Long].collect().sorted.toSeq
        assert(got == want, s"cover mismatch for cs=$cs bbox=($x0,$y0,$x1,$y1)")
      }
    } finally fallback.fold(spark.conf.unset(fallbackKey))(spark.conf.set(fallbackKey, _))
  }

  test("zOrderCol bit-matches Morton.interleave") {
    val rows = pts(500)
      .withColumn("zval", SpatialLayout.zOrderCol(col("x"), col("y"), cell))
      .collect()
    for (r <- rows) {
      val exp = Morton.interleave(
        math.floor(r.getAs[Double]("x") / cell).toLong,
        math.floor(r.getAs[Double]("y") / cell).toLong)
      assert(r.getAs[Long]("zval") == exp, s"row ${r.getLong(0)}")
    }
  }

  test("bbox scan over the z-layout is differentially exact and pushes zval filters") {
    val n = 50000
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      SpatialLayout.writeZOrdered(pts(n), s"$dir/z", "x", "y", cell, numFiles = 16)
      val scan = SpatialLayout.readBbox(spark, s"$dir/z", "x", "y", cell, bx0, by0, bx1, by1)
      val got = scan.select("id").as[Long].collect().sorted
      val expect = pts(n)
        .filter(col("x") >= bx0 && col("x") <= bx1 && col("y") >= by0 && col("y") <= by1)
        .select("id").as[Long].collect().sorted
      assert(got.toSeq == expect.toSeq)
      assert(expect.nonEmpty, "fixture bbox must be non-trivial")
      val p = scan.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
      assert(pushed.contains("zval"), s"zval ranges must reach the reader: $pushed")
      assert(pushed.contains("Or("), s"range cover should push as Or of bounds: $pushed")
    } finally rmTree(dir)
  }

  test("z-ordered layout skips most data; a random layout reads everything") {
    val n = 50000
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      SpatialLayout.writeZOrdered(pts(n), s"$dir/z", "x", "y", cell, numFiles = 16)
      // same rows, same zval column, but placed without spatial clustering
      SpatialLayout.withZOrder(pts(n), "x", "y", cell)
        .repartition(16, col("id")).write.parquet(s"$dir/shuffled")
      def bbox(path: String) = spark.read.parquet(path).filter(
        SpatialLayout.bboxFilter(col("x"), col("y"), cell, bx0, by0, bx1, by1))
      val zRows = scanRows(bbox(s"$dir/z"))
      val sRows = scanRows(bbox(s"$dir/shuffled"))
      // bbox is 1% of the domain: the clustered layout must read a small
      // fraction; the unclustered one reads ~everything (no stats help)
      assert(zRows * 4 < sRows,
        s"expected file/row-group skipping: z-ordered read $zRows rows, shuffled $sRows")
    } finally rmTree(dir)
  }

  test("z-ordered file split is the same in a fresh session and after unrelated jobs") {
    // per file, in part order: (rows, min zval, max zval)
    def split(session: SparkSession, dir: String): Seq[(Long, Long, Long)] = {
      SpatialLayout.writeZOrdered(pts(50000, session), dir, "x", "y", cell, numFiles = 16)
      session.read.parquet(dir).groupBy(input_file_name().as("f"))
        .agg(count(lit(1)), min("zval"), max("zval")).collect()
        .sortBy(_.getString(0)).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      val fresh = split(spark.newSession(), s"$dir/a")
      // unrelated jobs move the session's RDD ids on
      (1 to 3).foreach(i => spark.range(1000L * i).repartition(7).count())
      val later = split(spark, s"$dir/b")
      assert(fresh.size == 16 && fresh.map(_._1).sum == 50000L, fresh.toString)
      assert(fresh == later, s"file split moved:\n$fresh\n$later")
    } finally rmTree(dir)
  }
}
