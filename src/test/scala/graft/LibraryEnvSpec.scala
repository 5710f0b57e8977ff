package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its configuration as arguments: no package under
  * `graft.{core,engine,functions,operators,plans,sources,streaming}` or the
  * `org.apache.spark.sql` shim reads the environment or system properties.
  * Entry points (`Bench`, `Verify`, `graft.tools`) are out of scope. */
class LibraryEnvSpec extends AnyFunSuite {

  private val libraryDirs = Seq("core", "engine", "functions", "operators", "plans",
    "sources", "streaming").map("graft/" + _) :+ "org/apache/spark/sql"
  private val envRead = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r

  test("library sources read no environment variables or system properties") {
    val files = libraryDirs.flatMap(MainSources.files)
    assert(files.size > 40, s"only ${files.size} library sources found under ${MainSources.root}")
    val hits = MainSources.lines(files)(envRead.findFirstIn(_).isDefined)
    assert(hits.isEmpty, hits.mkString("library code reads the environment:\n", "\n", ""))
  }
}
