package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** `src/main/scala` of this checkout and a line scan over its sources, for
  * the specs that pin which files may hold a construct. */
object MainSources {

  lazy val root: Path = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).map(_.resolve("src/main/scala"))
    .find(p => Files.isDirectory(p.resolve("graft/engine")))
    .getOrElse(throw new IllegalStateException(
      "src/main/scala not found above the working directory"))

  /** every Scala source under `dir` (relative to [[root]]) */
  def files(dir: String): Seq[Path] = {
    val st = Files.walk(root.resolve(dir))
    try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally st.close()
  }

  /** `path:line: text` of each line of `files` that `hit` accepts */
  def lines(files: Seq[Path])(hit: String => Boolean): Seq[String] = for {
    f <- files
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    if hit(line)
  } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
}
