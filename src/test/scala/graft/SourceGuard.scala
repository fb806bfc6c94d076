package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The lines the source-guard specs search. */
object SourceGuard {

  /** (file, 1-based line, line) for every src/main Scala line. */
  def mainLines(): List[(Path, Int, String)] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"cannot locate src/main from ${Paths.get("").toAbsolutePath}")
    val stream = Files.walk(main)
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) => (p, i + 1, l) }
      }.toList
    finally stream.close()
  }

  def show(hits: Seq[(Path, Int, String)]): String =
    hits.map { case (p, i, l) => s"$p:$i: ${l.trim}" }.mkString("\n")
}
