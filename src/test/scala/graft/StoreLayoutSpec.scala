package graft

import org.scalatest.funsuite.AnyFunSuite

/** The storage layout is decided in one module: no source under
  * `src/main/scala/graft` but `engine/PartitionedStore.scala` names the
  * dynamic-overwrite option or the snapshot pointer and metrics files. */
class StoreLayoutSpec extends AnyFunSuite {

  private val layoutTokens = Seq("partitionOverwriteMode", "\"_latest\"", "\"_metrics\"")

  test("only PartitionedStore names the store layout") {
    val owner = MainSources.root.resolve("graft/engine/PartitionedStore.scala")
    val files = MainSources.files("graft")
    assert(files.contains(owner), s"$owner not found")
    val hits = MainSources.lines(files.filter(_ != owner))(line => layoutTokens.exists(line.contains))
    assert(hits.isEmpty, hits.mkString("store layout named outside PartitionedStore:\n", "\n", ""))
  }
}
