package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: how graft pins a frame is decided in one module. Every
  * pin goes through `exec/Materialize.scala` (and the Spark bridge it
  * uses), so a `localCheckpoint(` or `.checkpoint(` anywhere else in
  * `src/main` fails here.
  */
class MaterializeSourceSpec extends AnyFunSuite {

  test("localCheckpoint( and .checkpoint( appear in src/main only in " +
      "exec/Materialize.scala and its bridge") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"cannot locate src/main from ${Paths.get("").toAbsolutePath}")
    val allowed = Set("Materialize.scala", "CheckpointBridge.scala")
    val stream = Files.walk(main)
    val hits = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") || line.contains(".checkpoint(") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally stream.close()
    assert(hits.isEmpty,
      s"pin through graft.exec.Materialize instead:\n${hits.mkString("\n")}")
  }
}
