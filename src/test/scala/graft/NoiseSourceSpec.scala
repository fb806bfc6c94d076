package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceGuard.{mainLines, show}

/** Source guard: randomness has one seam and exact sampling one coin.
  * `ThreadLocalRandom` is named in `src/main` only by `exec/Noise.scala`'s
  * `Noise.rng()`, which every entry point passes to the samplers, and the
  * CKS Bernoulli(exp(-num/den)) step `bernoulliExpFrac` is defined once.
  */
class NoiseSourceSpec extends AnyFunSuite {

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
