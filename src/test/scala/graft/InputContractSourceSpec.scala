package graft

import java.nio.file.{Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceGuard.{mainLines, show}

/** Source guard: an input rule shared by several pipeline operators is
  * written once. The graph operators read their edge lists through
  * Graph's contract (`bipartiteProject` reads a two-mode list and keeps its
  * own); the attribution arguments and the percentile labels are checked
  * only in `pipeline/Inputs.scala`. Comment lines do not count.
  */
class InputContractSourceSpec extends AnyFunSuite {

  private val lines = mainLines()
  private val code = lines.filterNot { case (_, _, l) =>
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  private def hits(literal: String) = code.filter(_._3.contains(literal))

  private val defName = """\bdef\s+(\w+)""".r

  /** The name of the nearest `def` above line `at` of `file`. */
  private def enclosingDef(file: Path, at: Int): String =
    lines.filter { case (p, i, _) => p == file && i <= at }
      .reverse.flatMap { case (_, _, l) => defName.findFirstMatchIn(l) }
      .headOption.map(_.group(1)).getOrElse("")

  test("\"edge list\" appears only in Graph's edge contract and bipartiteProject") {
    val found = hits("\"edge list\"")
    assert(found.forall(_._1.endsWith(Paths.get("graft", "pipeline", "Graph.scala"))) &&
      found.map { case (p, i, _) => enclosingDef(p, i) }.toSet ===
        Set("directed", "bipartiteProject") && found.size === 2,
      s"read edges through Graph.directed / simple / symmetric:\n${show(found)}")
  }

  test("attribution and percentile-label checks live only in Inputs.scala") {
    for (literal <- Seq("attribution needs at least one touch type",
        "duplicate percentile labels")) {
      val found = hits(literal)
      assert(found.size === 1 &&
        found.forall(_._1.endsWith(Paths.get("graft", "pipeline", "Inputs.scala"))),
        s"call Inputs.attribution / Inputs.percentileLabels:\n${show(found)}")
    }
  }
}
