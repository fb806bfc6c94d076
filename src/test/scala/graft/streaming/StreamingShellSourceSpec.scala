package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the per-entity streaming operators share one state shell.
  * Their TTL input prep (`eventTimeTtl match`) and event-time re-arm
  * (`setTimeoutTimestamp(math.max(`) live only in `Streaming.EntityTtl`,
  * and the DP stream accountant enforces its cap through `enforcedBatcher`
  * alone, so no `StreamingQueryListener` appears anywhere in `src/main`.
  */
class StreamingShellSourceSpec extends AnyFunSuite {

  private val shellOpen = "private object EntityTtl {"

  /** Line range (0-based, inclusive) of the brace block opened on `start`. */
  private def blockOf(lines: Seq[String], start: Int): Range = {
    var depth = 0
    var i = start
    var opened = false
    while (i < lines.length && !(opened && depth == 0)) {
      lines(i).foreach {
        case '{' => depth += 1; opened = true
        case '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    start until i
  }

  test("eventTimeTtl match, setTimeoutTimestamp(math.max( and " +
      "StreamingQueryListener appear in src/main only inside the " +
      "per-entity shell helper") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"cannot locate src/main from ${Paths.get("").toAbsolutePath}")
    val shellOnly = Seq("eventTimeTtl match", "setTimeoutTimestamp(math.max(")
    val nowhere = Seq("StreamingQueryListener")
    var shellSeen = false
    val stream = Files.walk(main)
    val hits = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        val lines = Files.readAllLines(p).asScala.toSeq
        val shell = lines.indexWhere(_.contains(shellOpen)) match {
          case -1 => Range(0, 0)
          case i if p.getFileName.toString == "Streaming.scala" =>
            shellSeen = true
            blockOf(lines, i)
          case _ => Range(0, 0)
        }
        lines.zipWithIndex.collect {
          case (line, i) if nowhere.exists(line.contains) ||
              (shellOnly.exists(line.contains) && !shell.contains(i)) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally stream.close()
    assert(shellSeen, s"'$shellOpen' not found in streaming/Streaming.scala")
    assert(hits.isEmpty,
      "per-entity TTL plumbing belongs in Streaming.EntityTtl, and the DP " +
        s"stream cap in enforcedBatcher:\n${hits.mkString("\n")}")
  }
}
