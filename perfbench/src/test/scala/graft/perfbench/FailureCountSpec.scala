package graft.perfbench

import scala.util.Random

import graft.budget.{ApproxDPBudget, Rat}
import graft.ir.QueryBuilder

/** A wrong output or a budget that does not reconcile counts as a failed
  * query, and so shows in `failed` / `attempted`.
  */
class FailureCountSpec extends SparkSuite {

  private def entry(name: String): Registry.Entry =
    Registry.load("registry_lazy").find(_.name == name).get

  test("a registry query matching its committed fingerprint passes") {
    val run = new Runner(spark, None)
    run(Registry.task(spark, dataDir, entry("q01_count")))
    assert(run.attempted == 1 && run.failed == 0)
  }

  test("a fingerprint mismatch is a failure") {
    val run = new Runner(spark, None)
    run(Registry.task(spark, dataDir, entry("q01_count").copy(hash = "0.0")))
    assert(run.attempted == 1 && run.failed == 1)
    assert(run.failures.head.contains("fingerprint"))
  }

  test("a row-count or schema mismatch fails a shape-only check") {
    val e = entry("q01_count").copy(exact = false, hash = "0.0")
    val run = new Runner(spark, None)
    run(Registry.task(spark, dataDir, e))
    run(Registry.task(spark, dataDir, e.copy(rows = e.rows + 1)))
    run(Registry.task(spark, dataDir, e.copy(schema = "count:int")))
    assert(run.attempted == 3 && run.failed == 2)
  }

  test("dp releases pass their row, column and budget checks") {
    val analyst = new DpRelease(spark, dataDir)
    analyst.prepare()
    val run = new Runner(spark, None)
    analyst.round(0, new Random(7)).map(analyst.task).foreach(run.apply)
    assert(run.failed == 0, run.failures.mkString("; "))
    assert(run.attempted == 14)
  }

  test("a budget that does not reconcile is a failure") {
    val analyst = new DpRelease(spark, dataDir)
    analyst.prepare()
    // a noise-addition count charges (eps, 0) under ApproxDP; a ledger that
    // books the requested delta as spent no longer matches the session
    val spec = DpRelease.Spec("get_groups/3/approx", "approx",
      QueryBuilder("lineitem").count("v"), ApproxDPBudget(Rat(1, 2), Rat(1, 1000000)),
      DpRelease.Exactly(1), Seq("v"))
    val run = new Runner(spark, None)
    run(analyst.task(spec))
    assert(run.attempted == 1 && run.failed == 1)
    assert(run.failures.head.contains("remaining"))
  }

  test("a release with the wrong row count is a failure") {
    val analyst = new DpRelease(spark, dataDir)
    analyst.prepare()
    val spec = DpRelease.Spec("count/1/pure", "pure",
      QueryBuilder("lineitem").count("v"), graft.budget.PureDPBudget(Rat(1, 2)),
      DpRelease.Exactly(2), Seq("v"))
    val run = new Runner(spark, None)
    run(analyst.task(spec))
    assert(run.failed == 1 && run.failures.head.contains("rows"))
  }
}
