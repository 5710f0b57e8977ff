package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place: no source under `src/main/scala` but
  * `graft/tools/Sessions.scala` and the frozen `graft/Bench.scala` calls
  * `SparkSession.builder`. */
class SessionFactorySpec extends AnyFunSuite {

  private val owners = Seq("graft/tools/Sessions.scala", "graft/Bench.scala")
    .map(MainSources.root.resolve)

  test("only Sessions and Bench build a SparkSession") {
    val files = MainSources.files(".").map(_.normalize)
    val hits = MainSources.lines(files.filterNot(owners.contains))(_.contains("SparkSession.builder"))
    assert(hits.isEmpty, hits.mkString("SparkSession built outside Sessions:\n", "\n", ""))
    owners.foreach(o => assert(files.contains(o), s"$o not found"))
  }
}
