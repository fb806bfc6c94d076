package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.accounting.{AddOneRow, AddRowsWithID}
import graft.budget._
import graft.constraints.MaxRowsPerID
import graft.ir.{Query, QueryBuilder}
import graft.keyset.KeySet
import graft.session.Session

/** The `dp_release` workload: one analyst issuing seeded finite-ε queries
  * through the public API (`Session`, `QueryBuilder`, `KeySet`).
  *
  * The analyst keeps four sessions open, one per privacy definition the
  * engine accounts for: PureDP, ApproxDP, zCDP, and a PureDP session over an
  * identifier space whose queries truncate with `MaxRowsPerID`. A session is
  * opened on its first query, so that query's latency includes the open.
  *
  * Queries come in rounds. A round has one query per slot below; a slot
  * fixes the aggregation family and the size class of its keyset, covering
  * count, count-distinct, sum, average, variance, stdev, quantile,
  * get_groups and get_bounds, with keysets of 3 to 15,000 keys. The round's
  * number rotates each slot through the privacy definitions and keysets it
  * allows, so any three consecutive rounds do the same work; the seed orders
  * each round and picks the bounds, quantile, truncation and budget.
  *
  * Each release is checked for its row count against its keyset and for its
  * column names, and after every charge the session's remaining budget must
  * equal its initial budget minus the charges so far, exactly as `Rat`.
  */
final class DpRelease(spark: SparkSession, dataDir: String) {
  import DpRelease._

  private def table(name: String): DataFrame = BenchSpark.table(spark, dataDir, name)

  private val lineitem = table("lineitem")
  private val orders = table("orders")
  private val events = table("events")

  private def keysFrom(df: DataFrame, from: String, to: String): KeySet =
    KeySet.fromDataFrame(df.select(col(from).cast(LongType).as(to)))

  private val flags = KeySet.fromColumn("l_returnflag", Seq("A", "N", "R"))
  private val flagStatus = flags * KeySet.fromColumn("l_linestatus", Seq("F", "O"))
  private val supps = keysFrom(table("supplier"), "s_suppkey", "l_suppkey")
  private val parts = keysFrom(table("part"), "p_partkey", "l_partkey")
  private val orderKeys = keysFrom(orders, "o_orderkey", "l_orderkey")
  private val statuses = KeySet.fromColumn("o_orderstatus", Seq("F", "O", "P"))
  private val priorities = KeySet.fromColumn("o_orderpriority",
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))

  /** Keysets with their key columns and sizes, by size class. */
  private lazy val small = Seq(sized(flags), sized(flagStatus))
  private lazy val medium = Seq(sized(supps), sized(parts))
  private lazy val large = Seq(sized(parts), sized(orderKeys))
  private lazy val orderGroups = Seq(sized(statuses), sized(priorities))
  private lazy val eventTypes: Long = events.select("event_type").distinct().count()

  private def sized(k: KeySet): Keys = Keys(k, k.dataframe(spark).columns.toSeq, k.size(spark))

  /** Computes keyset sizes once, outside the timed pass. */
  def prepare(): Unit = { small; medium; large; orderGroups; eventTypes }

  private val initial: Map[String, PrivacyBudget] = Map(
    "pure" -> PureDPBudget(Rat(1000)),
    "approx" -> ApproxDPBudget(Rat(1000), Rat(1, 10)),
    "zcdp" -> RhoZCDPBudget(Rat(1000)),
    "ids" -> PureDPBudget(Rat(1000)))

  private val sessions = mutable.Map.empty[String, Session]
  private val charged = mutable.Map.empty[String, Seq[PrivacyBudget]]

  private def open(kind: String): Session = kind match {
    case "ids" =>
      new Session.Builder().withPrivacyBudget(initial(kind)).withIdSpace("customers")
        .withPrivateDataFrame("orders", orders, AddRowsWithID("o_custkey", "customers"))
        .build(spark)
    case "approx" =>
      new Session.Builder().withPrivacyBudget(initial(kind))
        .withPrivateDataFrame("lineitem", lineitem, AddOneRow())
        .withPrivateDataFrame("events", events, AddOneRow())
        .build(spark)
    case _ =>
      new Session.Builder().withPrivacyBudget(initial(kind))
        .withPrivateDataFrame("lineitem", lineitem, AddOneRow())
        .build(spark)
  }

  /** Closes every session, so the next query opens a fresh one. */
  def reset(): Unit = { sessions.clear(); charged.clear() }

  /** Remaining budget must be the initial budget minus every charge. */
  private def budgetError(kind: String, s: Session): Option[String] = {
    val expected = charged.getOrElse(kind, Nil).foldLeft(initial(kind))(_ - _)
    if (s.remainingPrivacyBudget == expected) None
    else Some(s"$kind session: remaining ${s.remainingPrivacyBudget}, expected $expected")
  }

  private def charge(kind: String, rng: Random): PrivacyBudget = {
    val eps = Rat(1, Seq(2L, 4L, 10L)(rng.nextInt(3)))
    kind match {
      case "approx" => ApproxDPBudget(eps, Rat(1, 1000000))
      case "zcdp"   => RhoZCDPBudget(eps / Rat(4))
      case _        => PureDPBudget(eps)
    }
  }

  /** Round number `r` of the session, in a seeded order. */
  def round(r: Int, rng: Random): Seq[Spec] = {
    val rowKinds = Seq("pure", "approx", "zcdp")
    var slot = 0
    def rotate[A](xs: Seq[A]): A = xs((slot + r) % xs.size)
    def grouped(keys: Seq[Keys], agg: (QueryBuilder, KeySet) => Query,
        kinds: Seq[String] = rowKinds, value: Seq[String] = Seq("v"),
        name: String): Spec = {
      slot += 1
      val k = rotate(keys)
      val kind = rotate(kinds)
      Spec(s"$name/${k.size}/$kind", kind,
        agg(QueryBuilder(if (kind == "ids") "orders" else "lineitem"), k.keys),
        charge(kind, rng), Exactly(k.size), k.columns ++ value)
    }
    val lo = Seq(0.0, 1.0, 5.0)(rng.nextInt(3))
    val q = Seq(0.1, 0.5, 0.9)(rng.nextInt(3))
    val cap = Seq(2, 5, 10)(rng.nextInt(3))
    val slots = Seq(
      grouped(small, (b, k) => b.groupby(k).count("v"), name = "count"),
      grouped(large, (b, k) => b.groupby(k).count("v"), name = "count"),
      grouped(small, (b, k) => b.groupby(k).countDistinct(Seq("l_suppkey"), "v"),
        name = "count_distinct"),
      grouped(medium, (b, k) => b.groupby(k).sum("l_quantity", lo, 50.0, "v"), name = "sum"),
      grouped(small, (b, k) => b.groupby(k).average("l_quantity", lo, 50.0, "v"),
        name = "average"),
      grouped(large, (b, k) => b.groupby(k).average("l_discount", 0.0, 0.1, "v"),
        name = "average"),
      grouped(small, (b, k) => b.groupby(k).variance("l_extendedprice", 0.0, 1e5, "v"),
        name = "variance"),
      grouped(medium, (b, k) => b.groupby(k).stdev("l_discount", 0.0, 0.1, "v"),
        name = "stdev"),
      grouped(small, (b, k) => b.groupby(k).quantile("l_quantity", q, lo, 50.0, "v"),
        name = "quantile"),
      grouped(orderGroups, (b, k) => b.enforce(MaxRowsPerID(cap)).groupby(k).count("v"),
        Seq("ids"), name = "ids_count"),
      grouped(orderGroups,
        (b, k) => b.enforce(MaxRowsPerID(cap)).groupby(k).sum("o_totalprice", 0.0, 5e5, "v"),
        Seq("ids"), name = "ids_sum"),
      {
        val kind = "ids"
        Spec("ids_count_distinct/1/ids", kind,
          QueryBuilder("orders").countDistinct(Seq("o_custkey"), "v"),
          charge(kind, rng), Exactly(1), Seq("v"))
      },
      {
        val kind = "approx"
        Spec(s"get_groups/$eventTypes/$kind", kind,
          QueryBuilder("events").getGroups("event_type"),
          charge(kind, rng), AtMost(eventTypes), Seq("event_type"))
      },
      {
        val kind = rotate(rowKinds)
        Spec(s"get_bounds/1/$kind", kind,
          QueryBuilder("lineitem").getBounds("l_quantity", "lo", "hi"),
          charge(kind, rng), Exactly(1), Seq("lo", "hi"))
      })
    rng.shuffle(slots)
  }

  def task(spec: Spec): Task = {
    var budgetCheck: Option[String] = None
    def build(layers: Layers): DataFrame = {
      val s = sessions.getOrElseUpdate(spec.kind,
        layers.time("session.build_s")(open(spec.kind)))
      if (layers.on) layers.time("compile.measure_s")(s.noiseInfo(spec.query, spec.charge))
      val df = layers.time("session.evaluate_s")(s.evaluate(spec.query, spec.charge))
      charged(spec.kind) = charged.getOrElse(spec.kind, Nil) :+ spec.spent
      layers.add("budget.charges", 1)
      budgetCheck = budgetError(spec.kind, s)
      df
    }
    def check(fp: Fingerprint.Result): Option[String] = {
      val cols = fp.schema.split(",").map(_.takeWhile(_ != ':')).toSeq
      budgetCheck.orElse {
        if (cols != spec.columns.sorted) Some(s"${spec.name}: columns $cols, expected ${spec.columns.sorted}")
        else spec.rows match {
          case Exactly(n) if fp.rows != n => Some(s"${spec.name}: ${fp.rows} rows, expected $n")
          case AtMost(n) if fp.rows > n   => Some(s"${spec.name}: ${fp.rows} rows, at most $n")
          case _                          => None
        }
      }
    }
    Task(spec.name, build, check, "session")
  }
}

object DpRelease {
  final case class Keys(keys: KeySet, columns: Seq[String], size: Long)

  sealed trait Rows
  final case class Exactly(n: Long) extends Rows
  final case class AtMost(n: Long) extends Rows

  /** One generated query and what its release must look like. */
  final case class Spec(name: String, kind: String, query: Query,
      charge: PrivacyBudget, rows: Rows, columns: Seq[String]) {
    /** What the session must deduct: under ApproxDP only partition
      * selection spends δ; noise addition and the exponential mechanism
      * charge (ε, 0), as in the reference.
      */
    def spent: PrivacyBudget = charge match {
      case ApproxDPBudget(eps, _) if !name.startsWith("get_groups/") => ApproxDPBudget(eps, Rat.zero)
      case other => other
    }
  }
}
