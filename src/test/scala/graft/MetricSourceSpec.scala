package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceGuard.{mainLines, show}

/** Source guard: a private table carries one metric. The declared protected
  * change is lowered to a metric only where the session is built
  * (`session/Session.scala`); views and partition children store a metric,
  * never a patch over the declaration.
  */
class MetricSourceSpec extends AnyFunSuite {

  test("fromProtectedChange( is called in src/main once, in session/Session.scala") {
    val calls = mainLines().filter { case (_, _, l) =>
      l.contains("fromProtectedChange(") && !l.contains("def fromProtectedChange(")
    }
    assert(calls.size === 1 &&
      calls.forall(_._1.endsWith(Paths.get("graft", "session", "Session.scala"))),
      s"lower a declaration once, in Session.Builder.build; read PrivateTable.metric " +
        s"everywhere else:\n${show(calls)}")
  }

  test("no viewStability or idDistance patch fields in src/main") {
    val hits = mainLines().filter { case (_, _, l) =>
      l.contains("viewStability") || l.contains("idDistance")
    }
    assert(hits.isEmpty, s"store the metric itself:\n${show(hits)}")
  }
}
