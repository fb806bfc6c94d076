package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Reserved-column audit table — one row per operator that decorates a
  * USER frame with internal (`__x`) or declared-output columns.
  * `withColumn` silently REPLACES an existing column, so before round 13 a
  * user frame that happened to carry e.g. `__rn` lost that column to
  * `Dedup.exact`'s row-number scratch, or got scratch values back under
  * its own name — silent wrong results either way. Every such operator now
  * refuses loudly ([[Inputs.free]]); this table feeds each one an adversarial
  * frame carrying its reserved name and pins the refusal, so a new
  * decorate-in-place operator added without a guard gets caught the moment
  * it's listed here (and the audit sweep in the round-13 notes says new
  * operators MUST be).
  *
  * Operators whose internals live only on self-contained projections
  * (select-down pipelines that never rejoin the user frame — the Graph /
  * Similarity / Ivf / CorpusStats aggregate families) need no guard: the
  * user's columns are gone before any `__x` exists.
  */
class ReservedColumnsSpec extends SparkSpec {

  private def df(names: String*): DataFrame = makeDf(
    StructType(names.map(n =>
      if (n.startsWith("id") || n.startsWith("t") || n.startsWith("v") ||
        n.startsWith("qty") || n == "score") longCol(n)
      else strCol(n)).toIndexedSeq),
    Seq(Row(names.map(n =>
      if (n.startsWith("id") || n.startsWith("t") || n.startsWith("v") ||
        n.startsWith("qty") || n == "score") 1L.asInstanceOf[AnyRef]
      else "x").toIndexedSeq: _*)))

  // (operator, reserved name shown in the message, adversarial invocation)
  private lazy val table: Seq[(String, String, () => Any)] = Seq(
    ("Dedup.exact", "__rn",
      () => Dedup.exact(df("id", "k", "__rn"), Seq("k"), "id")),
    ("Dedup.exactAgainst", "__fp",
      () => Dedup.exactAgainst(
        df("id", "k", "__fp"), df("id", "k"), "id", "k")),
    ("Dedup.survivorship", "__clu",
      () => Dedup.survivorship(
        df("id", "score", "__clu"), "id", "score", df("id", "cluster_id"))),
    ("Dedup.survivorship(output name)", "cluster_id",
      () => Dedup.survivorship(
        df("id", "score", "cluster_id"), "id", "score",
        df("id", "cluster_id"))),
    ("Sampling.stratifiedQuota", "__rk",
      () => Sampling.stratifiedQuota(df("id", "k", "__rk"), "k", "id", 1)),
    ("Sampling.weightedQuota", "__rk",
      () => Sampling.weightedQuota(
        df("id", "k", "v", "__rk"), "k", "id", "v", 1)),
    ("Sampling.hashSplit", "split",
      () => Sampling.hashSplit(
        df("id", "split"), "id", Seq("a" -> 0.5, "b" -> 0.5))),
    ("CorpusStats.stripBoilerplateLines", "__rw",
      () => CorpusStats.stripBoilerplateLines(
        df("id", "k", "__rw"), "id", "k", minDocs = 2)),
    ("CorpusStats.stripBoilerplateLines(output)", "n_removed",
      () => CorpusStats.stripBoilerplateLines(
        df("id", "k", "n_removed"), "id", "k", minDocs = 2)),
    ("Relational.paretoFrontier", "__mm",
      () => Relational.paretoFrontier(
        df("k", "v1", "v2", "__mm"), Seq("k"), "v1", "v2")),
    // pre-round-13 guards, pinned here so the audit table is the one place
    // listing every reserved surface
    ("Relational.asOfJoin", "__t",
      () => Relational.asOfJoin(
        df("k", "t1", "__t"), df("k", "t1"), Seq("k"), "t1")),
    ("Relational.sessionTable", "session_id",
      () => Relational.sessionTable(
        df("k", "t1", "session_id"), "k", "t1", 10L)),
    ("Relational.applyChangelog", "__rn",
      () => Relational.applyChangelog(
        df("k", "p", "__rn"), df("k", "p", "__rn", "tver", "op"),
        Seq("k"), "tver", "op")),
    ("Quality.robustZScores", "__absdev",
      () => Quality.robustZScores(df("k", "v1", "__absdev"), Seq("k"), "v1")),
    ("Quality.imputeMode", "__mode",
      () => Quality.imputeMode(df("k", "v1", "__mode"), Seq("k"), "v1")),
    ("Clustering.kMeansMicro", "cluster",
      () => Clustering.kMeansMicro(df("id", "v1", "cluster"), "id", "v1", 2, 2)),
    ("Ranks.globalRowNumber", "__rk_pid",
      () => graft.exec.Ranks.globalRowNumber(
        df("id", "__rk_pid"), Seq(col("id")))))

  test("every decorate-in-place operator refuses a colliding reserved name") {
    val failures = table.flatMap { case (op, reserved, run) =>
      val thrown =
        try { run(); None }
        catch { case e: IllegalArgumentException => Some(e.getMessage) }
      thrown match {
        case None =>
          Some(s"$op: accepted an input that already carries '$reserved'")
        case Some(msg)
          if !msg.contains(reserved) ||
            !(msg.contains("rename") || msg.contains("different") ||
              msg.contains("reserved") || msg.contains("already")) =>
          Some(s"$op: refusal does not name the collision: $msg")
        case _ => None
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
