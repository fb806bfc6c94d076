package graft

import java.nio.file.{Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceGuard.{mainLines, show}

/** Source guard: the word split that text operators read — Spark `trim`,
  * then a `\s+` split — is written once, in `pipeline/TextAnalysis.scala`
  * (`words`, its lowercased form and the JVM twin `wordsOf`); every other
  * operator calls it. The registry's inline examples (`Queries.scala`) and
  * the DP ledger's lease-line parser, which is no text operator, are
  * exempt. Comment lines do not count.
  */
class WordSplitSourceSpec extends AnyFunSuite {

  private val lines = mainLines()
  private val code = lines.filterNot { case (_, _, l) =>
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  private val defName = """\bdef\s+(\w+)""".r

  /** The name of the nearest `def` above line `at` of `file`. */
  private def enclosingDef(file: Path, at: Int): String =
    lines.filter { case (p, i, _) => p == file && i <= at }
      .reverse.flatMap { case (_, _, l) => defName.findFirstMatchIn(l) }
      .headOption.map(_.group(1)).getOrElse("")

  test("the \\s+ word-split literal appears only in TextAnalysis") {
    val found = code.filter(_._3.contains("\"\\\\s+\""))
    val stray = found.filterNot { case (p, i, _) =>
      p.endsWith(Paths.get("graft", "pipeline", "TextAnalysis.scala")) ||
        p.endsWith(Paths.get("graft", "Queries.scala")) ||
        (p.endsWith(Paths.get("graft", "streaming", "Streaming.scala")) &&
          enclosingDef(p, i) == "readLease")
    }
    assert(found.exists(_._1.endsWith(Paths.get("graft", "pipeline", "TextAnalysis.scala"))))
    assert(stray.isEmpty,
      s"split words with TextAnalysis.words / wordsLower / wordsOf:\n${show(stray)}")
  }
}
