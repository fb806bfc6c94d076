package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The edge-list and seed-set contract of the graph operators, one table
  * row per operator: a dirty input releases exactly what the clean input
  * releases. Every operator drops NULL endpoints (and, weighted, NULL
  * weights) and reads its seeds as a distinct non-NULL set; the
  * undirected operators also drop self-loops and collapse duplicate rows
  * and mutual orientations; the reachability operators are invariant to
  * self-loops and multi-edges by their own semantics. A seed outside the
  * graph changes nothing for the PageRank family (teleport mass lands on
  * in-graph seeds only); bfs, sssp and reach release it at distance 0.
  */
class GraphEdgeContractSpec extends SparkSpec {

  private val eSchema = StructType(Seq(strCol("src"), strCol("dst"), longCol("w")))
  private val sSchema = StructType(Seq(strCol("seed")))

  // K4 on {a,b,c,d}, a triangle {c,d,x} on one of its edges, a pendant p:
  // every operator below releases a nontrivial table on it
  private val clean = Seq(
    ("a", "b", 3L), ("a", "c", 1L), ("a", "d", 2L), ("b", "c", 1L),
    ("b", "d", 4L), ("c", "d", 1L), ("c", "x", 2L), ("d", "x", 5L),
    ("d", "p", 1L))
  private val cleanSeeds = Seq("a", "c")

  private sealed trait Dirt
  private case object NullEndpoint extends Dirt
  private case object NullWeight extends Dirt
  private case object SelfLoop extends Dirt
  private case object Duplicate extends Dirt
  private case object Reversed extends Dirt

  private def dirtRows(d: Dirt): Seq[Row] = d match {
    case NullEndpoint => Seq(Row(null, "a", 1L), Row("b", null, 1L), Row(null, null, 1L))
    // a new node behind a NULL weight: it must not appear in any release
    case NullWeight => Seq(Row("p", "zz", null))
    case SelfLoop => Seq(Row("c", "c", 1L), Row("p", "p", 1L))
    case Duplicate => Seq(Row("a", "b", 3L), Row("c", "x", 2L))
    case Reversed => Seq(Row("b", "a", 3L), Row("x", "d", 5L))
  }

  private def edges(dirt: Seq[Dirt]): DataFrame = makeDf(eSchema,
    clean.map { case (s, d, w) => Row(s, d, w) } ++ dirt.flatMap(dirtRows))

  private def seeds(ids: Seq[String]): DataFrame = makeDf(sSchema, ids.map(Row(_)))

  private val dirtySeeds = cleanSeeds ++ Seq("a", null, "outside")

  private def release(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val directed = Seq(NullEndpoint)
  private val reach = Seq(NullEndpoint, SelfLoop, Duplicate)
  private val undirected = Seq(NullEndpoint, SelfLoop, Duplicate, Reversed)

  /** (operator, dirt it must absorb, rows an outside seed adds, run) */
  private val table: Seq[(String, Seq[Dirt], Seq[String],
      (DataFrame, DataFrame) => DataFrame)] = Seq(
    ("pageRank", directed, Nil,
      (e, _) => Graph.pageRank(e, "src", "dst", iterations = 3)),
    ("pageRankWeighted", directed :+ NullWeight, Nil,
      (e, _) => Graph.pageRankWeighted(e, "src", "dst", "w", iterations = 3)),
    ("personalizedPageRank", directed, Nil,
      (e, s) => Graph.personalizedPageRank(e, "src", "dst", s, "seed",
        iterations = 3)),
    ("personalizedPageRankWeighted", directed :+ NullWeight, Nil,
      (e, s) => Graph.personalizedPageRankWeighted(e, "src", "dst", "w", s,
        "seed", iterations = 3)),
    ("labelPropagation", undirected, Nil,
      (e, _) => Graph.labelPropagation(e, "src", "dst", 2)),
    ("triangleCounts", undirected, Nil,
      (e, _) => Graph.triangleCounts(e, "src", "dst")),
    ("bfsDistances", reach, Seq("outside|0"),
      (e, s) => Graph.bfsDistances(e, "src", "dst", s, "seed", maxHops = 3)),
    ("kCore", undirected, Nil,
      (e, _) => Graph.kCore(e, "src", "dst", k = 3)),
    ("kTruss", undirected, Nil,
      (e, _) => Graph.kTruss(e, "src", "dst", k = 3)),
    ("ssspWeighted", reach :+ NullWeight, Seq("outside|0"),
      (e, s) => Graph.ssspWeighted(e, "src", "dst", "w", s, "seed",
        maxRounds = 4)),
    ("reachProfile", reach, Seq("outside|0|0|0"),
      (e, s) => Graph.reachProfile(e, "src", "dst", s, "seed", maxHops = 3)),
    ("linkPrediction", undirected, Nil,
      (e, _) => Graph.linkPrediction(e, "src", "dst")))

  test("every graph operator releases the clean table from dirty edges and seeds") {
    table.foreach { case (op, dirt, outsideRows, run) =>
      val want = release(run(edges(Nil), seeds(cleanSeeds)))
      assert(want.nonEmpty, s"$op: the clean release is empty")
      val got = release(run(edges(dirt), seeds(dirtySeeds)))
      assert(got === (want ++ outsideRows).sorted, s"$op, absorbing $dirt")
    }
  }

  private val fractional = makeDf(
    StructType(Seq(strCol("src"), strCol("dst"), dblCol("w"))),
    Seq(Row("a", "b", 2.5), Row("b", "a", 0.9)))

  private def refusesBeforeAnyJob(op: String)(body: => Unit): Unit = {
    var msg = ""
    val jobs = jobsLaunchedBy {
      msg = intercept[IllegalArgumentException](body).getMessage
    }
    assert(msg.contains(s"$op needs an integral weight column, got double in 'w'"),
      msg)
    assert(jobs === 0)
  }

  test("pageRankWeighted refuses a fractional weight column before any job") {
    refusesBeforeAnyJob("pageRankWeighted") {
      Graph.pageRankWeighted(fractional, "src", "dst", "w", iterations = 2)
    }
    refusesBeforeAnyJob("pageRankWeighted") {
      Graph.personalizedPageRankWeighted(fractional, "src", "dst", "w",
        seeds(Seq("a")), "seed", iterations = 2)
    }
  }

  test("ssspWeighted refuses a fractional weight column before any job") {
    refusesBeforeAnyJob("ssspWeighted") {
      Graph.ssspWeighted(fractional, "src", "dst", "w", seeds(Seq("a")),
        "seed", maxRounds = 2)
    }
  }
}
