package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

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
    val root = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("src/main/scala"))
      .find(p => Files.isDirectory(p.resolve("graft/engine")))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    val files: Seq[Path] = libraryDirs.flatMap { d =>
      val st = Files.walk(root.resolve(d))
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally st.close()
    }
    assert(files.size > 40, s"only ${files.size} library sources found under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("library code reads the environment:\n", "\n", ""))
  }
}
