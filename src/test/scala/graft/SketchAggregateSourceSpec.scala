package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: Spark's aggregate protocol is implemented in one module.
  * Every custom aggregate is a `SketchKind` run by
  * `exec/SketchAggregate.scala`, so an `extends TypedImperativeAggregate`
  * anywhere else in `src/main` fails here.
  */
class SketchAggregateSourceSpec extends AnyFunSuite {

  test("extends TypedImperativeAggregate appears in src/main only in " +
      "exec/SketchAggregate.scala") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"cannot locate src/main from ${Paths.get("").toAbsolutePath}")
    val stream = Files.walk(main)
    val hits = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.getFileName.toString == "SketchAggregate.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("extends TypedImperativeAggregate") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally stream.close()
    assert(hits.isEmpty,
      s"add a graft.exec.SketchKind instead:\n${hits.mkString("\n")}")
  }
}
