package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Pages

/** Idempotent cell-range resume of the match checkpoint (north rule). */
class MatchStoreSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark

  test("resume of one cell range reproduces exactly the original partition") {
    val dir = java.nio.file.Files.createTempDirectory("matchstore").toString
    val store = new MatchStore(spark, dir)
    val pages = Pages.synthesize(spark, 3000L).cache()
    val m = BenchPipeline.matchRows(pages)

    store.writeAll(m, "full")
    val before = store.read().cache()
    val total = before.count()
    val someRanges = store.ranges().take(3)
    assert(someRanges.nonEmpty && total > 0)

    val victim = someRanges.head
    val victimRows = before.filter(col("range") === victim)
      .select("upstream_item_ids", "osm_element_id", "osm_element_type")
      .collect().map(_.toString).sorted

    // wipe the victim partition on disk, then resume just that range
    // (drop the cache first — it would otherwise serve the deleted files)
    before.unpersist(blocking = true)
    val vdir = java.nio.file.Paths.get(dir, "data", s"range=$victim")
    PartitionedStore.deleteRecursively(vdir)
    assert(store.read().filter(col("range") === victim).count() == 0)

    store.resume(BenchPipeline.matchRows(pages), Seq(victim), "test")
    val after = store.read()
    assert(after.count() == total, "resume restores exactly the missing rows")
    val restored = after.filter(col("range") === victim)
      .select("upstream_item_ids", "osm_element_id", "osm_element_type")
      .collect().map(_.toString).sorted
    assert(restored.sameElements(victimRows), "byte-stable per-range recompute")

    // resuming again is a no-op in content terms (idempotence)
    store.resume(BenchPipeline.matchRows(pages), Seq(victim), "test2")
    assert(store.read().count() == total)

    // metrics present
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_metrics")).count() >= 2)
  }

  test("writeAll deletes ranges absent from the new input; empty resume deletes the range") {
    val dir = java.nio.file.Files.createTempDirectory("matchstore2").toString
    val store = new MatchStore(spark, dir)
    val pages = Pages.synthesize(spark, 3000L).cache()
    val m = BenchPipeline.matchRows(pages).cache()
    store.writeAll(m, "full")
    val allRanges = store.ranges()
    assert(allRanges.size >= 2)

    // full rewrite WITHOUT one range: its partition dir must be gone (static
    // overwrite; dynamic mode would leave the stale dir and resurrect rows)
    val dropped = allRanges.max
    // materialize on the driver before overwriting the same path (a lazy
    // read-then-overwrite would recompute from deleted files)
    val prev = store.read().filter(col("range") =!= dropped).drop("range")
    val shrunk = spark.createDataFrame(
      java.util.Arrays.asList(prev.collect(): _*), prev.schema)
    store.writeAll(shrunk, "shrunk")
    assert(!store.ranges().contains(dropped), "stale range partition survived writeAll")

    // resume of a range whose recompute is EMPTY deletes that partition
    val victim = store.ranges().head
    store.resume(m.limit(0), Seq(victim), "empty-resume")
    assert(!store.ranges().contains(victim), "empty resume left stale partition")

    // writeAll's static overwrite is scoped to data/: the metrics version
    // sequence (lineage history) survives full rewrites — writeAll, writeAll,
    // resume must have produced versions 1..3, not a reset-to-1
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_metrics"))
    val versions =
      try {
        val b = scala.collection.mutable.ArrayBuffer.empty[Long]
        st.iterator().forEachRemaining(p =>
          b += p.getFileName.toString.stripSuffix(".json").toLong)
        b.sorted.toSeq
      } finally st.close()
    assert(versions == Seq(1L, 2L, 3L),
      s"writeAll wiped or reset the metrics history: $versions")
    m.unpersist(); pages.unpersist()
  }
}
