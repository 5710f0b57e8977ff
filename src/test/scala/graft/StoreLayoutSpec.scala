package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The storage layout is decided in one module: no source under
  * `src/main/scala/graft` but `engine/PartitionedStore.scala` names the
  * dynamic-overwrite option or the snapshot pointer and metrics files. */
class StoreLayoutSpec extends AnyFunSuite {

  private val layoutTokens = Seq("partitionOverwriteMode", "\"_latest\"", "\"_metrics\"")

  test("only PartitionedStore names the store layout") {
    val root = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("src/main/scala/graft"))
      .find(p => Files.isDirectory(p.resolve("engine")))
      .getOrElse(fail("src/main/scala/graft not found above the working directory"))
    val owner = root.resolve("engine/PartitionedStore.scala")
    val files: Seq[Path] = {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally st.close()
    }
    assert(files.contains(owner), s"$owner not found")
    val hits = for {
      f <- files if f != owner
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if layoutTokens.exists(line.contains)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("store layout named outside PartitionedStore:\n", "\n", ""))
  }
}
