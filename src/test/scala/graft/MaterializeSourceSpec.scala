package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: how graft holds rows is decided in one module. Every
  * pin goes through `exec/Materialize.scala` (and the Spark bridge it
  * uses), so a `localCheckpoint(` or `.checkpoint(` anywhere else in
  * `src/main` fails here. Every operator-internal cache is scoped by
  * `Materialize.scoped`, so `.persist(`, `.cache()`, `.unpersist(` and
  * `StorageLevel` appear only there and in the two user-facing caches,
  * `Session` views and `KeySet.cache`.
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

  test(".persist(, .cache(), .unpersist( and StorageLevel appear in src/main " +
      "only in exec/Materialize.scala, session/Session.scala and keyset/KeySet.scala") {
    val allowed = Seq(Paths.get("exec", "Materialize.scala"),
      Paths.get("session", "Session.scala"), Paths.get("keyset", "KeySet.scala"))
    val tokens = Seq(".persist(", ".cache()", ".unpersist(", "StorageLevel")
    val hits = SourceGuard.mainLines().filter { case (p, _, l) =>
      tokens.exists(l.contains) && !allowed.exists(a => p.endsWith(Paths.get("graft").resolve(a)))
    }
    assert(hits.isEmpty,
      s"cache through graft.exec.Materialize.scoped instead:\n${SourceGuard.show(hits)}")
  }
}
