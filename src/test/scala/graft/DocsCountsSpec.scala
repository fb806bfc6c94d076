package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** Round-close invariant enforcement: the machine-owned `GEN:counts`
  * blocks in README.md / PLANS.md must agree with the artifacts they are
  * derived from (the query registry, bench_out.json, test_out.txt).
  *
  * The doc counts drifted four rounds running when the regeneration tool
  * existed but was not re-run at round close; this spec makes `sbt test`
  * itself fail on drift, so a stale block can never ship. Fix = rerun
  * `python3 tools/gen_counts.py` (after refreshing bench_out.json via
  * graft.Bench and test_out.txt via `sbt -batch test | tee
  * /tmp/test_run.log; cp /tmp/test_run.log test_out.txt` when those
  * changed). The log goes elsewhere first because this spec reads
  * test_out.txt during the very run that would be writing it.
  */
class DocsCountsSpec extends AnyFunSuite {

  test("GEN:counts blocks in README.md and PLANS.md are current") {
    val repoRoot = {
      // tests run with cwd = project root under sbt; guard in case not
      val here = new java.io.File(".").getCanonicalFile
      assert(new java.io.File(here, "tools/gen_counts.py").isFile,
        s"cannot locate tools/gen_counts.py from cwd $here")
      here
    }
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'))
    val rc = Process(
      Seq("python3", "tools/gen_counts.py", "--check"), repoRoot) ! logger
    assert(rc == 0,
      s"docs-count drift (exit $rc):\n$out\n" +
        "Run `python3 tools/gen_counts.py` to regenerate the GEN:counts " +
        "blocks (refresh bench_out.json / test_out.txt first if the " +
        "registry or tests changed).")
  }
}
