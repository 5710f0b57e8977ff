package graft.engine

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType

/** The versioned-snapshot protocol's pointer flip: a run killed inside it
  * leaves the previous snapshot readable and the next commit working. */
class PartitionedStoreSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private val schema = StructType.fromDDL("k LONG, v STRING")

  test("a half-written pointer flip is invisible: the previous version is read, the next commit succeeds") {
    val dir = Files.createTempDirectory("pstore_flip").toString
    val snaps = new PartitionedStore.Snapshots(spark, dir, "key", schema)
    def rows(key: String) = snaps.latest(key).as[(Long, String)].collect().toSeq
    assert(snaps.commit("a", Seq((1L, "one")).toDF("k", "v"), "first") == 1)
    assert(snaps.commit("a", Seq((2L, "two")).toDF("k", "v"), "second") == 2)

    // a kill inside version 3's flip: its snapshot is written,
    // the temporary pointer is truncated, the pointer itself untouched
    Seq((3L, "lost")).toDF("k", "v").write.parquet(s"$dir/key=a/v=3")
    val tmp = Paths.get(dir, "key=a", "_latest.tmp")
    Files.write(tmp, Array.emptyByteArray)
    assert(snaps.currentVersion("a") == 2)
    assert(rows("a") == Seq((2L, "two")))

    // a key killed inside its first flip has no committed snapshot
    Seq((9L, "never")).toDF("k", "v").write.parquet(s"$dir/key=b/v=1")
    Files.write(Paths.get(dir, "key=b", "_latest.tmp"), Array.emptyByteArray)
    assert(snaps.keys == Seq("a"))
    assert(snaps.currentVersion("b") == 0 && rows("b").isEmpty)

    // the next commit overwrites the abandoned version and flips cleanly
    assert(snaps.commit("a", Seq((3L, "three")).toDF("k", "v"), "third") == 3)
    assert(rows("a") == Seq((3L, "three")))
    assert(!Files.exists(tmp), "the temporary pointer must be renamed, not left behind")
    assert(Files.exists(Paths.get(dir, "key=a", "_metrics", "3.json")))
    assert(snaps.latest(snaps.keys).count() == 1)
  }
}
