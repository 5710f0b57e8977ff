package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Keyed MERGE over the two-level (cell-block data + hash key-index) store:
  * upserts, moved-key cleanup via the index, dirty-block reporting, and
  * emptied-partition clearing (SURVEY.md §2.1 S2 / §2.10 T4). */
class ElementStoreSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private def df(rows: (String, Long, Double, Double)*) =
    rows.toDF("type", "id", "cx", "cy")

  test("merge upserts by key, tracks moves through the index, clears emptied blocks") {
    val dir = java.nio.file.Files.createTempDirectory("estore").toString
    val es = new ElementStore(spark, dir, blockMeters = 10000.0)

    // two features in two far-apart blocks
    val d1 = es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 2L, 105000.0, 105000.0)))
    assert(d1.size == 2)
    assert(es.read("elements", None).count() == 2)

    // update feature 1 in place (same block): one dirty block, value updated
    val d2 = es.merge("elements", Seq("type", "id"), df(("n", 1L, 6000.0, 6000.0)))
    assert(d2.size == 1)
    val r = es.read("elements", None).filter(col("id") === 1).collect()
    assert(r.length == 1 && r(0).getAs[Double]("cx") == 6000.0)

    // MOVE feature 2 to a third block: dirty must include the OLD block (via
    // the key index), the stale row must vanish, and the emptied old block's
    // partition directory must be cleared
    val oldBlock = es.read("elements", None).filter(col("id") === 2)
      .select("cb").collect()(0).getLong(0)
    val d3 = es.merge("elements", Seq("type", "id"), df(("n", 2L, 205000.0, 205000.0)))
    assert(d3.contains(oldBlock), "move must dirty the previous block")
    val rows = es.read("elements", None).filter(col("id") === 2).collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("cx") == 205000.0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "elements", "data", s"cb=$oldBlock")),
      "emptied block partition must be cleared")

    // partition-pruned read returns only requested blocks
    val b1 = es.read("elements", None).filter(col("id") === 1)
      .select("cb").collect()(0).getLong(0)
    assert(es.read("elements", Some(Seq(b1))).count() == 1)
  }

  test("a staged merge sizes its rewrite before reading a dirty block; abort writes nothing") {
    import java.nio.file.{Files, Path, Paths}
    val dir = Files.createTempDirectory("estore_stage").toString
    val es = new ElementStore(spark, dir, blockMeters = 10000.0)
    es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 2L, 105000.0, 105000.0)))
    def parquetBytes(p: Path): Long = {
      val files = Files.walk(p)
      try files.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
      finally files.close()
    }
    def cxOf2 = es.read("elements").filter(col("id") === 2).select("cx").collect().map(_.getDouble(0))
    val oldBlock = es.read("elements").filter(col("id") === 2).select("cb").collect()(0).getLong(0)
    val move = df(("n", 2L, 205000.0, 205000.0))

    // a move of feature 2: its old block and a block never written are
    // dirty; the rewrite reads the old block and the key's index bucket
    val staged = es.stage("elements", Seq("type", "id"), move)
    assert(staged.dirtyBlocks.size == 2 && staged.dirtyBlocks.contains(oldBlock))
    val data = parquetBytes(Paths.get(dir, "elements", "data", s"cb=$oldBlock"))
    val idx = parquetBytes(Paths.get(dir, "elements", "idx"))
    assert(staged.bytes > data && staged.bytes <= data + idx, s"${staged.bytes} vs $data + $idx")
    staged.abort()
    assert(cxOf2.toSeq == Seq(105000.0), "an aborted merge must write nothing")

    val again = es.stage("elements", Seq("type", "id"), move)
    assert(again.commit().toSet == staged.dirtyBlocks.toSet)
    assert(cxOf2.toSeq == Seq(205000.0))
  }

  test("a missing key index is rebuilt from data (crash between data and index writes)") {
    val dir = java.nio.file.Files.createTempDirectory("estore_rebuild").toString
    val es = new ElementStore(spark, dir, blockMeters = 10000.0)
    es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 2L, 105000.0, 105000.0)))
    // simulate a crash that persisted data but lost the index
    PartitionedStore.deleteRecursively(java.nio.file.Paths.get(dir, "elements", "idx"))
    val oldBlock = es.read("elements", None).filter(col("id") === 2)
      .select("cb").collect()(0).getLong(0)
    // next merge MOVES feature 2: the rebuilt index must find its old block
    // (pre-fix behavior: AnalysisException on the missing kb column)
    val dirty = es.merge("elements", Seq("type", "id"),
      df(("n", 2L, 205000.0, 205000.0)))
    assert(dirty.contains(oldBlock), "rebuilt index must expose the previous block")
    val rows = es.read("elements", None).filter(col("id") === 2).collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("cx") == 205000.0,
      "stale row in the old block must be dropped via the rebuilt index")
  }

  test("a batch with duplicate keys writes exactly one row per key (ADVICE r2)") {
    val dir = java.nio.file.Files.createTempDirectory("estore_dup").toString
    val es = new ElementStore(spark, dir)
    // same key twice in ONE batch (e.g. two stream pages for one element)
    es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 1L, 6000.0, 6000.0), ("n", 2L, 7000.0, 7000.0)))
    assert(es.read("elements", None).count() == 2, "one row per key after dedup")
    // with a recency column the LATEST duplicate wins (own sub-store: the
    // row schema carries the extra `seq` column)
    val seqDf = Seq(("n", 3L, 1000.0, 1000.0, 1L), ("n", 3L, 2000.0, 2000.0, 2L))
      .toDF("type", "id", "cx", "cy", "seq")
    es.merge("versioned", Seq("type", "id"), seqDf, recencyCol = Some("seq"))
    val r3 = es.read("versioned", None).filter(col("id") === 3).collect()
    assert(r3.length == 1 && r3(0).getAs[Double]("cx") == 2000.0)
  }

  test("an empty FIRST batch leaves the store uninitialized (ADVICE r2)") {
    val dir = java.nio.file.Files.createTempDirectory("estore_empty").toString
    val es = new ElementStore(spark, dir)
    val dirty = es.merge("elements", Seq("type", "id"), df().limit(0))
    assert(dirty.isEmpty)
    assert(!es.exists("elements"), "zero-row first write must not poison exists()")
    // a later real batch initializes normally
    es.merge("elements", Seq("type", "id"), df(("n", 1L, 5000.0, 5000.0)))
    assert(es.read("elements", None).count() == 1)
    // and an empty FOLLOW-UP batch is a no-op, not a rewrite
    assert(es.merge("elements", Seq("type", "id"), df().limit(0)).isEmpty)
    assert(es.read("elements", None).count() == 1)
  }

  test("a small merge into a many-partition store reads only its partitions, in a fixed job budget") {
    val dir = java.nio.file.Files.createTempDirectory("estore_budget").toString
    val es = new ElementStore(spark, dir, blockMeters = 100.0) // 64 index buckets
    // more block and bucket directories than Spark's 32-path threshold, above
    // which listing a table root launches a job of one task per directory
    val nBlocks = 41
    es.merge("elements", Seq("type", "id"), df((0 until nBlocks * 25).map(i =>
      ("n", i.toLong, (i % nBlocks) * 100.0 + 50.0, 50.0)): _*))
    def dirs(sub: String): Long = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "elements", sub))
      try st.filter(java.nio.file.Files.isDirectory(_)).count() finally st.close()
    }
    assert(dirs("data") == nBlocks && dirs("idx") == 64)

    val group = s"estore-budget-${System.nanoTime}"
    val stageTasks = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Seq[Int])]()
    @volatile var flushed = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => stageTasks.add(e.jobId -> e.stageInfos.map(_.numTasks))
          case g if g == group + "-flush" => flushed = true
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "merge under a job budget")
      // an update in place, a move to a new block, and a new key
      val dirty = es.merge("elements", Seq("type", "id"), df(
        ("n", 0L, 60.0, 60.0), ("n", 1L, 9050.0, 50.0), ("n", 99999L, 150.0, 50.0)))
      assert(dirty.toSet.size == 3)
      // listener events arrive in order: once the flush job shows up, every
      // job of the merge has been seen
      spark.sparkContext.setJobGroup(group + "-flush", "listener flush")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!flushed && System.nanoTime < deadline) Thread.sleep(20)
      assert(flushed, "listener did not see the flush job")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val jobs = stageTasks.asScala.toSeq.sortBy(_._1)
    val listing = jobs.filter(_._2.exists(n => n == nBlocks || n == 64))
    assert(listing.isEmpty, s"partition-listing jobs ran: $listing")
    // the merge's fixed job set, each shuffle stage a job of its own under
    // this suite's AQE session; it does not grow with the store
    assert(jobs.size <= 12, s"merge ran ${jobs.size} jobs (budget 12): $jobs")
    assert(es.read("elements").count() == nBlocks * 25 + 1)
  }

  test("property: random batch sequence matches a last-write-wins key model") {
    val dir = java.nio.file.Files.createTempDirectory("estore_prop").toString
    // small blocks + few keys force in-batch duplicates, moves, block churn,
    // and emptied partitions across the sequence
    val es = new ElementStore(spark, dir, blockMeters = 100.0, idxBuckets = 8)
    val OFF = graft.core.cell.Grid.OFF.toLong
    def blockOf(cx: Double, cy: Double): Long =
      ((math.floor(cx / 100.0).toLong + OFF) << 32) |
        (math.floor(cy / 100.0).toLong + OFF)

    val model = scala.collection.mutable.Map.empty[(String, Long), (Double, Double, Long)]
    def step(all: Seq[(String, Long, Double, Double, Long)]): Unit = {
      val preModel = model.toMap
      val dirty = es.merge("el", Seq("type", "id"),
        all.toDF("type", "id", "cx", "cy", "seq"), recencyCol = Some("seq")).toSet

      all.groupBy(r => (r._1, r._2)).foreach { case (k, rs) =>
        val w = rs.maxBy(_._5)
        model(k) = (w._3, w._4, w._5)
      }
      val got = es.read("el").select("type", "id", "cx", "cy", "seq").collect()
      assert(got.length == model.size, "store must hold exactly one row per key")
      val gotMap = got.map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
      assert(gotMap == model.toMap, "store state diverged from the model")

      // dirty must cover each key's WINNING row's block (losing in-batch
      // duplicates are dedup'd away before the write and need no recompute)
      // AND the old block of every key the batch touches — the recompute
      // frontier must see the vacated region
      val winners = all.groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._5))
      val expect = winners.map(r => blockOf(r._3, r._4)).toSet ++
        all.flatMap(r => preModel.get((r._1, r._2)))
          .map(p => blockOf(p._1, p._2)).toSet
      assert(expect.subsetOf(dirty),
        s"dirty blocks missing ${expect.diff(dirty)}")
    }
    var seq = 0L
    def next(): Long = { seq += 1; seq }

    // the first two inputs reach directories that do not exist yet: a
    // one-key store, then a batch whose every index bucket is new and whose
    // dirty blocks include one never written
    val bucket = (0 until 30).map(i => ("n", i.toLong)).toDF("type", "id")
      .select(col("id"), pmod(xxhash64(col("type"), col("id")), lit(8L)).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fresh = (1L until 30L).filter(bucket(_) != bucket(0L)).take(3)
    assert(fresh.size == 3)
    step(Seq(("n", 0L, 50.0, 50.0, next())))
    // a read of blocks none of which exists: an empty local frame of the
    // store's schema, without a data source to resolve
    val none = es.read("el", Some(Seq(blockOf(950.0, 250.0))))
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(typed(none) == typed(es.read("el")) && none.count() == 0)
    assert(none.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    step(fresh.map(id => ("n", id, if (id == fresh.head) 50.0 else 950.0, 250.0, next())))

    val rnd = new scala.util.Random(20260818L)
    (1 to 8).foreach { _ =>
      val base = (1 to 5 + rnd.nextInt(20)).map { _ =>
        (if (rnd.nextBoolean()) "n" else "w", rnd.nextInt(30).toLong,
          rnd.nextInt(10) * 100.0 + 50.0, rnd.nextInt(3) * 100.0 + 50.0, next())
      }
      // in-batch duplicate keys: recency (seq) must decide, deterministically
      val dups = base.take(rnd.nextInt(3)).map(r =>
        (r._1, r._2, rnd.nextInt(10) * 100.0 + 50.0, r._4, next()))
      step(rnd.shuffle(base ++ dups))
    }
  }
}
