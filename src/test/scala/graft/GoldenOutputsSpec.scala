package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.accounting._
import graft.budget._
import graft.exec.{NoiseInfo, NoiseMechanism}
import graft.ir._
import graft.keyset.KeySet
import graft.pipeline.{Similarity, TextAnalysis}
import graft.session.Session

/** Doctest-style GOLDEN pins for public entry points beyond describe()
  * (whose full-text pins live in DescribeGoldenSpec): exact outputs a
  * user's first script would see, locked verbatim so an accidental change
  * to a public surface fails a test instead of shipping silently.
  * Everything here runs at eps = infinity or on pure functions, so every
  * pinned value is deterministic.
  */
class GoldenOutputsSpec extends SparkSpec {

  private def df = makeDf(
    StructType(Seq(strCol("flag"), longCol("qty"), longCol("uid"))),
    Seq(Row("A", 1L, 1L), Row("B", 2L, 2L), Row("B", 3L, 3L)))

  private val Inf = PureDPBudget(Rat.Inf)

  test("golden: Session.evaluate of a grouped count — schema and rows") {
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    val out = s.evaluate(
      QueryBuilder("t").groupby(KeySet.fromColumn("flag", Seq("A", "B", "C")))
        .count(), Inf)
    assert(out.schema.map(f => s"${f.name}:${f.dataType.simpleString}") ===
      Seq("flag:string", "count:bigint"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq(("A", 1L), ("B", 2L), ("C", 0L)))
  }

  test("golden: Session.describe(query) — the exact output-schema rendering") {
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    assert(s.describe(
      QueryBuilder("t").groupby(KeySet.fromColumn("flag", Seq("A", "B")))
        .sum("qty", 0, 10)) ===
      """Column Name              Column Type  Nullable
        |flag                     VARCHAR      true
        |qty_sum                  INTEGER      false""".stripMargin)
  }

  test("golden: Session.noiseInfo of a count under PureDP(2)") {
    val s = Session.fromDataFrame(spark, PureDPBudget(2.0), "t", df, AddOneRow())
    // sensitivity 1 at epsilon 2 -> geometric noise at scale 1/2, on the
    // one output column, named
    assert(s.noiseInfo(QueryBuilder("t").count(), PureDPBudget(2.0)) ===
      Seq(NoiseInfo("count", NoiseMechanism.Geometric(Rat(1, 2)))))
  }

  test("golden: QueryBuilder histogram sugar — binned keys in bin order") {
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    val out = s.evaluate(
      QueryBuilder("t").histogram("qty", BinningSpec(Seq(0L, 2L, 4L))), Inf)
    assert(out.schema.fieldNames.toSeq === Seq("qty_binned", "count"))
    // right-closed default with both endpoints: qty 1,2 -> [0, 2]; 3 -> (2, 4]
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("[0, 2]", 2L), ("(2, 4]", 1L)))
  }

  test("golden: QueryBuilder min/max/median sugar — one column each, exact " +
      "values at eps = inf") {
    val s = Session.fromDataFrame(spark, Inf, "t", df, AddOneRow())
    def one(q: Query): (String, Double) = {
      val out = s.evaluate(q, Inf)
      (out.schema.fieldNames.mkString(","), out.collect().head.getDouble(0))
    }
    // min/max are quantile(0)/quantile(1) in [0, 10]; the binned mechanism
    // at eps = inf returns the densest admissible bin's midpoint
    val (minCol, minV) = one(QueryBuilder("t").min("qty", 0, 10))
    val (maxCol, maxV) = one(QueryBuilder("t").max("qty", 0, 10))
    val (medCol, medV) = one(QueryBuilder("t").median("qty", 0, 10))
    assert(minCol === "qty_min" && maxCol === "qty_max" && medCol === "qty_median")
    assert(minV > 0.0 && minV < 1.1)   // near the true min 1
    assert(maxV > 2.9 && maxV < 10.0)  // near the true max 3
    assert(medV > 1.9 && medV < 2.1)   // true median 2, bin width 10/2048
  }

  test("golden: TextAnalysis.maskPii doctest — email, URL, and IP masked " +
      "verbatim") {
    val doc = docsDf(
      "Contact bob@example.com via https://example.com/x or 10.0.0.1 today.")
    val out = doc.select(TextAnalysis.maskPii(col("text"))).collect().head.getString(0)
    assert(out === "Contact <EMAIL> via <URL> or <IP> today.")
  }

  test("golden: TextAnalysis.languageId / tokenCount doctest") {
    val doc = docsDf("the cat and the dog are in the house for you")
    assert(doc.select(TextAnalysis.languageId(col("text")))
      .collect().head.getString(0) === "en")
    assert(doc.select(TextAnalysis.tokenCount(col("text")))
      .collect().head.getLong(0) === 11L)
  }

  test("golden: Similarity.quantizeInt8 doctest — exact int8 codes") {
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType))))
    val d = makeDf(schema, Seq(Row(Seq(0.5, -1.0, 0.25, 0.0))))
    val out = d.select(Similarity.quantizeInt8(col("v"))).collect()
      .head.getSeq[Long](0)
    // max|x| = 1.0: floor(x * 127 + 0.5) -> [64, -127, 32, 0]
    assert(out.toSeq === Seq(64L, -127L, 32L, 0L))
  }

  private def docsDf(text: String) =
    makeDf(StructType(Seq(strCol("text"))), Seq(Row(text)))

  test("golden: round-8 operator output schemas, locked verbatim") {
    def sig(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.schema.map(f => s"${f.name}:${f.dataType.simpleString}")
    val docs = makeDf(
      StructType(Seq(strCol("lang"), longCol("id"), strCol("text"), dblCol("w"))),
      Seq(Row("en", 1L, "a b c", 2.0), Row("de", 2L, "x y", 1.0)))
    assert(sig(pipeline.CorpusStats.bigramLogProb(docs, "id", "text")) ===
      Seq("id:bigint", "n_bigrams:bigint", "nll_sum_e6:bigint",
        "mean_nll_e6:double"))
    assert(sig(pipeline.CorpusStats.distinctSketch(docs, Seq("lang"), "id")) ===
      Seq("lang:string", "sketch:binary", "n_distinct_est:bigint"))
    assert(sig(pipeline.CorpusStats.numericProfile(docs, Seq("lang"), "w",
      Seq(0.5, 0.975))) ===
      Seq("lang:string", "n_rows:bigint", "vmin:double", "vmax:double",
        "p50:double", "p97_5:double"))
    assert(sig(pipeline.CorpusStats.corpusMix(docs, Seq("lang"), "text")) ===
      Seq("lang:string", "grouping_level:int", "n_docs:bigint",
        "n_tokens:bigint"))
    assert(sig(pipeline.Sampling.weightedQuota(docs, "lang", "id", "w", 1)) ===
      Seq("lang:string", "id:bigint", "text:string", "w:double"))
    val events = makeDf(
      StructType(Seq(longCol("u"), strCol("t"), longCol("ts"))),
      Seq(Row(1L, "a", 1L), Row(1L, "b", 2L)))
    assert(sig(pipeline.Relational.funnel(events, "u", "t", "ts", Seq("a", "b"))) ===
      Seq("step:int", "step_name:string", "n_entities:bigint"))
    assert(sig(pipeline.Relational.cohortRetention(events, "u", "ts")) ===
      Seq("cohort:bigint", "age:bigint", "n_active:bigint"))
    val edges = makeDf(StructType(Seq(longCol("a"), longCol("b"))),
      Seq(Row(1L, 2L)))
    assert(sig(pipeline.Dedup.connectedComponents(edges, "a", "b")) ===
      Seq("id:bigint", "component:bigint"))
    assert(sig(docs.agg(exec.Kmv.sketch(col("id"), 16).as("sk"))) ===
      Seq("sk:array<bigint>"))
    assert(sig(docs.agg(exec.CountMin.sketch(col("lang"), 2, 8).as("cm"))) ===
      Seq("cm:array<bigint>"))
  }
}
