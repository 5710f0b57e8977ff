package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.geom.Geom

class UpstreamSyncSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private def pt(x: Double, y: Double) = Geom.toWkb(Geom.point(x, y))
  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val ts2 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")

  private def batch(rows: (String, Array[Byte], String, java.sql.Timestamp)*) =
    rows.toDF("original_id", "geometry", "original_attributes", "updated_at")

  test("keyed upsert: update in place (stable id), insert new, prune deleted") {
    val dir = java.nio.file.Files.createTempDirectory("upssync").toString
    val sync = new UpstreamSync(spark, dir)

    sync.fullRefresh(7L, batch(
      ("a", pt(1, 1), """{"v":1}""", ts),
      ("b", pt(2, 2), """{"v":1}""", ts)))
    val first = sync.items().collect().map(r => r.getAs[String]("original_id") -> r.getAs[Long]("id")).toMap
    assert(first.keySet == Set("a", "b"))

    // second fetch: a updated, b gone, c new
    val (u, i, p) = sync.upsert(7L, batch(
      ("a", pt(1, 5), """{"v":2}""", ts2),
      ("c", pt(3, 3), """{"v":1}""", ts2)))
    assert((u, i, p) == (1L, 1L, 1L))
    val rows = sync.items().collect()
    assert(rows.map(_.getAs[String]("original_id")).toSet == Set("a", "c"))
    val a = rows.find(_.getAs[String]("original_id") == "a").get
    assert(a.getAs[Long]("id") == first("a"), "id stable across upsert")
    assert(a.getAs[String]("original_attributes") == """{"v":2}""")
    assert(a.getAs[java.sql.Timestamp]("updated_at") == ts2)

    // re-running the same fetch is idempotent
    sync.upsert(7L, batch(
      ("a", pt(1, 5), """{"v":2}""", ts2),
      ("c", pt(3, 3), """{"v":1}""", ts2)))
    assert(sync.items().count() == 2)

    // other datasets untouched by a full refresh of dataset 7 — both rows
    // AND files (per-dataset snapshot partitioning: O(dataset) per sync)
    sync.fullRefresh(8L, batch(("x", pt(9, 9), """{}""", ts)))
    def filesOf(ds: Long) = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, s"ds=$ds")).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          out(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val ds8Before = filesOf(8L)
    sync.fullRefresh(7L, batch(("z", pt(4, 4), """{}""", ts)))
    assert(filesOf(8L) == ds8Before, "dataset 8 partition rewritten by a dataset-7 sync")
    val byDs = sync.items().groupBy("dataset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDs == Map(7L -> 1L, 8L -> 1L))
  }

  test("every commit records its _metrics lineage; a never-synced dataset is a 0-byte local relation") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("upssync_meta").toString
    val sync = new UpstreamSync(spark, dir)
    sync.fullRefresh(7L, batch(("a", pt(1, 1), """{"v":1}""", ts)))
    sync.upsert(7L, batch(("a", pt(1, 2), """{"v":2}""", ts2), ("b", pt(2, 2), "{}", ts2)))
    val metrics = Paths.get(dir, "ds=7", "_metrics", "2.json")
    assert(Files.exists(metrics), "an upsert must write its metrics file")
    val json = new String(Files.readAllBytes(metrics), "UTF-8")
    assert(json.contains("\"version\":2") && json.contains("upsert"), json)

    val none = sync.itemsFor(99L)
    val plan = none.queryExecution.analyzed
    assert(plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(plan.stats.sizeInBytes == 0)
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(typed(none) == typed(sync.itemsFor(7L)) && none.count() == 0)
  }

  test("a batch with duplicate original_ids is rejected loudly (PG ON CONFLICT parity)") {
    val dir = java.nio.file.Files.createTempDirectory("upssync_dup").toString
    val sync = new UpstreamSync(spark, dir)
    val dup = batch(
      ("a", pt(1, 1), """{"v":1}""", ts),
      ("a", pt(2, 2), """{"v":2}""", ts)) // same original_id twice
    val e = intercept[IllegalArgumentException](sync.fullRefresh(7L, dup))
    assert(e.getMessage.contains("duplicated original_ids"), e.getMessage)
    // upsert path too, against an existing snapshot
    sync.fullRefresh(7L, batch(("a", pt(1, 1), """{"v":1}""", ts)))
    intercept[IllegalArgumentException](sync.upsert(7L, dup))
    // the rejected batch must not have committed anything
    assert(sync.items().count() == 1)
  }

  test("property: random fetch sequence — partition mirrors each batch, ids stable forever") {
    val dir = java.nio.file.Files.createTempDirectory("upssync_prop").toString
    val sync = new UpstreamSync(spark, dir)
    val rnd = new scala.util.Random(20260818L)
    val idOf = scala.collection.mutable.Map.empty[String, Long]
    var prev = Set.empty[String]

    (1 to 8).foreach { batchNo =>
      val oids = rnd.shuffle((0 until 20).map(i => s"o$i"))
        .take(1 + rnd.nextInt(15)).toSet
      val ts = java.sql.Timestamp.valueOf(f"2026-01-${batchNo}%02d 00:00:00")
      val rows = oids.toSeq.map(o => (o, pt(batchNo, 1), s"""{"b":$batchNo}""", ts))
      val (u, i, p) = sync.upsert(7L, batch(rows: _*))

      // counts follow straight set algebra on the key sets
      assert((u, i, p) ==
        ((oids & prev).size.toLong, (oids -- prev).size.toLong, (prev -- oids).size.toLong),
        s"batch $batchNo counts")

      // the partition must mirror the batch exactly, with THIS batch's payload
      val got = sync.itemsFor(7L).collect().map(r =>
        r.getAs[String]("original_id") ->
          (r.getAs[Long]("id"), r.getAs[String]("original_attributes"),
            r.getAs[java.sql.Timestamp]("updated_at"))).toMap
      assert(got.keySet == oids, s"batch $batchNo survivors")
      got.foreach { case (o, (id, attrs, at)) =>
        assert(attrs == s"""{"b":$batchNo}""" && at == ts,
          s"$o not updated in place at batch $batchNo")
        // ids are stable across updates AND across prune/re-insert cycles
        // (deterministic hash of (dataset_id, original_id))
        idOf.get(o).foreach(expected => assert(id == expected, s"id of $o drifted"))
        idOf(o) = id
      }
      prev = oids
    }
  }
}
