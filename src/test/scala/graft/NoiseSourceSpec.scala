package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: randomness has one seam and exact sampling one coin.
  * `ThreadLocalRandom` is named in `src/main` only by `exec/Noise.scala`'s
  * `Noise.rng()`, which every entry point passes to the samplers, and the
  * CKS Bernoulli(exp(-num/den)) step `bernoulliExpFrac` is defined once.
  */
class NoiseSourceSpec extends AnyFunSuite {

  /** (file, 1-based line, line) for every src/main Scala line. */
  private def mainLines(): List[(Path, Int, String)] = {
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

  private def show(hits: Seq[(Path, Int, String)]) =
    hits.map { case (p, i, l) => s"$p:$i: ${l.trim}" }.mkString("\n")

  test("ThreadLocalRandom appears in src/main only in exec/Noise.scala") {
    val hits = mainLines().filter { case (p, _, l) =>
      l.contains("ThreadLocalRandom") &&
        !p.endsWith(Paths.get("graft", "exec", "Noise.scala"))
    }
    assert(hits.isEmpty, s"take a RandomGenerator and pass Noise.rng():\n${show(hits)}")
  }

  test("one bernoulliExpFrac* coin is defined") {
    val defs = mainLines().filter { case (_, _, l) => l.contains("def bernoulliExpFrac") }
    assert(defs.size === 1, s"one exact coin, not several:\n${show(defs)}")
  }
}
