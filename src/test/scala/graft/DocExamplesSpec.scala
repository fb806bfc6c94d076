package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.accounting.{AddMaxRows, AddOneRow}
import graft.budget.{PureDPBudget, Rat}
import graft.constraints.MaxRowsPerID
import graft.ir.{BinningSpec, QueryBuilder}
import graft.keyset.KeySet
import graft.pipeline.{Dedup, Graph, Ivf, Relational, Retrieval, Similarity, TextAnalysis}
import graft.session.Session

/** Doctest-style runnable examples for the most-used public entry points —
  * the role the reference's docstring doctests play (e.g.
  * /root/reference/src/tmlt/analytics/session.py:1037-1043): each test is a
  * copy-pasteable snippet whose printed claim is asserted, so the docs can
  * never drift from the code. Examples run at infinite budget where a
  * deterministic answer keeps the snippet self-evident.
  */
class DocExamplesSpec extends SparkSpec {
  import spark.implicits._

  private val Inf = PureDPBudget(Rat.Inf)

  private def visits = makeDf(
    StructType(Seq(strCol("user"), strCol("page"), dblCol("seconds"))),
    Seq(
      Row("ann", "home", 12.0), Row("ann", "docs", 30.0),
      Row("bob", "home", 5.0), Row("bob", "docs", 60.0),
      Row("bob", "docs", 45.0), Row("eve", "pricing", 8.0)))

  test("example: build a Session and run a DP count") {
    // One call for the common case: one table, protect one row.
    val session = Session.fromDataFrame(
      spark, PureDPBudget(1.0), "visits", visits, AddOneRow())
    // At finite budget this answer would be noisy; the budget ledger is
    // charged either way.
    val q = QueryBuilder("visits").filter("seconds >= 10").count()
    val n = session.evaluate(q, PureDPBudget(1.0)).collect().head.getLong(0)
    assert(session.remainingPrivacyBudget === PureDPBudget(0.0))
    // 4 rows last >= 10 seconds; at eps=1 the release is that plus
    // two-sided geometric noise of scale 1/eps
    assert(math.abs(n - 4L) < 40L)
  }

  test("example: Builder with private + public tables") {
    val pages = Seq(("home", "core"), ("docs", "core"), ("pricing", "sales"))
      .toDF("page", "team")
    val session = new Session.Builder()
      .withPrivacyBudget(Inf)
      .withPrivateDataFrame("visits", visits, AddMaxRows(2))
      .withPublicDataFrame("pages", pages)
      .build(spark)
    assert(session.privateSources === Seq("visits"))
    // public joins are free; the protected change still bounds each
    // user's influence at 2 rows
    val q = QueryBuilder("visits").joinPublic("pages")
      .groupby(KeySet.fromColumn("team", Seq("core", "sales"))).count()
    val rows = session.evaluate(q, Inf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("core" -> 5L, "sales" -> 1L))
  }

  test("example: grouped aggregates zero-fill the declared key domain") {
    val session = Session.fromDataFrame(spark, Inf, "visits", visits, AddOneRow())
    // The keyset IS the output domain: absent keys appear with 0, keys
    // outside it are dropped — that is what makes the release safe to
    // publish as a table.
    val keys = KeySet.fromColumn("page", Seq("home", "docs", "checkout"))
    val out = session.evaluate(
      QueryBuilder("visits").groupby(keys).sum("seconds", 0, 60, name = "total"),
      Inf).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("home" -> 17.0, "docs" -> 135.0, "checkout" -> 0.0))
    // "pricing" was in the data but not the keyset: never released
    assert(!out.contains("pricing"))
  }

  test("example: quantile sugar (median) over a clamped range") {
    val session = Session.fromDataFrame(spark, Inf, "visits", visits, AddOneRow())
    val m = session.evaluate(
      QueryBuilder("visits").median("seconds", 0, 100), Inf)
      .collect().head.getDouble(0)
    // six values 5..60: at infinite budget the DP median lands inside
    // the central mass (binned exponential mechanism, 2048 bins)
    assert(m > 12.0 && m < 45.0)
  }

  test("example: histogram over explicit bin edges") {
    val session = Session.fromDataFrame(spark, Inf, "visits", visits, AddOneRow())
    val out = session.evaluate(
      QueryBuilder("visits").histogram("seconds", BinningSpec(Seq(0.0, 15.0, 60.0))),
      Inf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("[0.00, 15.00]" -> 3L, "(15.00, 60.00]" -> 3L))
  }

  test("example: KeySet algebra — cross, subtract, size") {
    val pages = KeySet.fromColumn("page", Seq("home", "docs"))
    val flags = KeySet.fromColumn("flag", Seq("a", "b", "c"))
    val full = pages * flags // cross product: 2 x 3 = 6 keys
    assert(full.size(spark) === 6L)
    val banned = KeySet.fromTuples(
      Seq(Seq("home", "c")),
      StructType(Seq(strCol("page"), strCol("flag"))))
    assert(full.subtract(banned).size(spark) === 5L)
  }

  test("example: constraints turn unbounded tables into bounded ones") {
    val session = Session.fromDataFrame(
      spark, Inf, "visits", visits,
      graft.accounting.AddRowsWithID("user", "users"))
    // An IDs-protected table has unbounded per-user rows; enforcing
    // MaxRowsPerID(2) truncates deterministically and makes counts finite-
    // sensitivity. bob has 3 rows, so one is dropped by the truncation.
    val q = QueryBuilder("visits").enforce(MaxRowsPerID(2)).count()
    val n = session.evaluate(q, Inf).collect().head.getLong(0)
    assert(n === 5L)
  }

  test("example: partitionAndCreate splits one budget into parallel sessions") {
    val session = Session.fromDataFrame(
      spark, PureDPBudget(2.0), "visits", visits, AddOneRow())
    // Disjoint partitions compose in parallel: each child session holds
    // the FULL passed budget over its slice.
    val kids = session.partitionAndCreate("visits", PureDPBudget(2.0),
      "page", Seq("home_part" -> "home", "docs_part" -> "docs"))
    assert(kids.keySet === Set("home_part", "docs_part"))
    assert(kids("docs_part").remainingPrivacyBudget === PureDPBudget(2.0))
  }

  test("example: exact dedup keeps one representative per key") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "bye"))
      .toDF("id", "text")
    val out = Dedup.exact(docs, Seq("text"), "id")
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 3L)) // smallest id wins, deterministically
  }

  test("example: brute-force and IVF top-k agree when every cell is probed") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)),
      (2L, Array(0.0, 1.0)), (3L, Array(0.1, 0.9))
    ).toDF("id", "vec")
    val queries = vecs.filter("id = 0")
    val exact = Similarity.bruteForceTopK(vecs, "id", "vec", queries, "id", "vec", k = 2)
      .select("corpus_id").as[Long].collect().toSet
    assert(exact === Set(1L, 3L)) // nearest by cosine, self excluded
    val model = Ivf.train(vecs, "vec", nlist = 2)
    val ivf = Ivf.topK(vecs, "id", "vec", queries, "id", "vec", k = 2, model,
      nprobe = 2) // nprobe = nlist probes everything: identical to exact
    assert(ivf.select("corpus_id").as[Long].collect().toSet === exact)
  }

  test("example: as-of join attaches the latest earlier observation") {
    val trades = Seq(("A", 10L, 100.0)).toDF("sym", "t", "px")
    val quotes = Seq(("A", 8L, 99.0), ("A", 9L, 99.5), ("A", 11L, 98.0))
      .toDF("sym", "t", "bid")
    val out = Relational.asOfJoin(trades, quotes, Seq("sym"), "t")
      .select("bid").as[Double].collect()
    assert(out.toSeq === Seq(99.5)) // t=9 is the latest quote before t=10
  }

  test("example: text metrics are plain Columns, composable anywhere") {
    val docs = Seq("the quick brown fox", "x").toDF("text")
    val counts = docs
      .select(TextAnalysis.tokenCount(org.apache.spark.sql.functions.col("text"))
        .as("n_tokens"))
      .as[Long].collect().toSeq
    assert(counts === Seq(4L, 1L))
  }

  test("example: KMV sketches do distinct-set algebra across corpora") {
    import org.apache.spark.sql.functions.col
    val k = 64
    val a = (0L until 30L).toDF("v").agg(exec.Kmv.sketch(col("v"), k).as("ska"))
    val b = (20L until 50L).toDF("v").agg(exec.Kmv.sketch(col("v"), k).as("skb"))
    val row = a.crossJoin(b).select(
      exec.Kmv.estimate(exec.Kmv.union(col("ska"), col("skb"), k), k).as("u"),
      exec.Kmv.intersectEstimate(col("ska"), col("skb"), k).as("i")).head()
    // under k distinct values the sketch holds every hash: exact answers
    assert(row.getDouble(0) === 50.0 && row.getDouble(1) === 10.0)
  }

  test("example: connected components label an edge list by min vertex id") {
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 8L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("example: numeric profile reads like a distribution report") {
    import org.apache.spark.sql.functions.col
    val sizes = Seq(("en", 1.0), ("en", 2.0), ("en", 3.0), ("en", 4.0))
      .toDF("lang", "kb")
    val row = pipeline.CorpusStats.numericProfile(
      sizes, Seq("lang"), "kb", Seq(0.5)).head()
    // (lang, n_rows, vmin, vmax, p50): quantile_cont interpolation
    assert(row.getLong(1) === 4L && row.getDouble(4) === 2.5)
  }

  test("example: funnels and cohorts read like the product-analytics SQL") {
    val events = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "buy", 25L),
      (2L, "view", 5L), (2L, "click", 90L)
    ).toDF("user", "etype", "ts")
    val steps = pipeline.Relational.funnel(events, "user", "etype", "ts",
      Seq("view", "click", "buy"))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    assert(steps === Seq(2L, 2L, 1L)) // both view+click; only u1 buys
    val windowed = pipeline.Relational.funnel(events, "user", "etype", "ts",
      Seq("view", "click", "buy"), maxGap = Some(30L))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    assert(windowed === Seq(2L, 1L, 1L)) // u2's click misses the window
    val cohorts = pipeline.Relational.cohortRetention(
      events.withColumn("period", org.apache.spark.sql.functions
        .floor(org.apache.spark.sql.functions.col("ts") / 50)), "user", "period")
      .as[(Long, Long, Long)].collect().toSet
    assert(cohorts === Set((0L, 0L, 2L), (0L, 1L, 1L))) // u2 returns later
  }

  test("example: the graph family runs in exact integer arithmetic") {
    import graft.pipeline.Graph
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("id")
    val pr = Graph.pageRank(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.size === 4 && pr.values.forall(_ > 0L))
    val ppr = Graph.personalizedPageRank(edges, "src", "dst", seeds, "id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ppr("b") > ppr("d")) // proximity to the seed, not global rank
    val dist = Graph.bfsDistances(edges, "src", "dst", seeds, "id", maxHops = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    val tri = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tri === Map("a" -> 1L, "b" -> 1L, "c" -> 1L)) // the a-b-c triangle
    val proj = Graph.bipartiteProject(
      Seq(("o1", "s1"), ("o1", "s2"), ("o2", "s1"), ("o2", "s2"))
        .toDF("order_id", "supplier"), "order_id", "supplier")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(proj === Map(("s1", "s2") -> 2L))
  }

  test("example: quality expectations gate a batch; snapshotDiff is the " +
      "CDC step") {
    import graft.pipeline.{Quality, Relational}
    import Quality.Expect._
    val batch = Seq((1L, 10.0), (2L, 999.0), (2L, 5.0)).toDF("id", "qty")
    val report = Quality.report(batch, Seq(
      NotNull("qty"), InRange("qty", 0.0, 100.0), Unique(Seq("id"))))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(report === Map("not_null(qty)" -> true,
      "in_range(qty, 0.0, 100.0)" -> false, "unique(id)" -> false))
    val before = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val after = Seq((1L, "x"), (3L, "z")).toDF("id", "v")
    val diff = Relational.snapshotDiff(before, after, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(diff === Set((2L, "removed"), (3L, "added")))
  }

  test("example: streaming windowed counts finalize when the watermark " +
      "passes the window") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new Timestamp(min * 60000L)
    val in = MemoryStream[(Timestamp, String)]
    val counts = streaming.Streaming.windowedCounts(
      in.toDF().toDF("ts", "etype"), "ts", "etype",
      windowDuration = "10 minutes", watermark = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("walkthrough_wc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), "click"), (ts(2), "click"), (ts(3), "view"))
      q.processAllAvailable() // watermark inside window [0,10): no output
      assert(spark.table("walkthrough_wc").count() === 0)
      in.addData((ts(30), "click")) // watermark passes [0,10): it finalizes
      q.processAllAvailable()
      val rows = spark.table("walkthrough_wc")
        .selectExpr("etype", "count").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("example: weighted quota samples proportionally to a weight column") {
    val docs = Seq(("web", 1L, 1000.0), ("web", 2L, 0.001), ("web", 3L, 0.001))
      .toDF("src", "id", "quality")
    val kept = pipeline.Sampling.weightedQuota(docs, "src", "id", "quality", 1)
      .select("id").as[Long].collect().toSeq
    assert(kept === Seq(1L)) // overwhelming weight -> deterministic pick
  }

  test("example: KLL sketch — profile per source, roll up per lang " +
      "without re-reading; exact regime certifies err_units = 0") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      ("en", "web", 10.0), ("en", "web", 20.0), ("en", "book", 30.0),
      ("en", "book", 40.0), ("de", "web", 100.0), ("de", "web", 200.0))
      .toDF("lang", "source", "n_chars")
    val fine = docs.groupBy($"lang", $"source")
      .agg(exec.Kll.sketch($"n_chars", 64).as("sk"))
    val perLang = fine.groupBy($"lang")
      .agg(exec.Kll.unionQuantiles($"sk", 64, Seq(0.5)).as("u"))
      .select($"lang", $"u.err_units", $"u.values" (0))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // everything fits the buffer: the rollup is exact, the median is the
    // rank-ceil order statistic of all the lang's values
    assert(perLang("en") === ((0L, 20.0)))
    assert(perLang("de") === ((0L, 100.0)))
  }

  test("example: quarantine routes violating rows with their rule tags") {
    import pipeline.Quality, Quality.Expect._
    val batch = Seq((1L, 10.0), (2L, 500.0), (2L, 500.0))
      .toDF("id", "qty")
    val bad = Quality.quarantine(batch, Seq(
      InRange("qty", 0.0, 100.0), Unique(Seq("id"))))
      .selectExpr("id", "array_join(violated_rules, ',')")
      .as[(Long, String)].collect().toSet
    // both copies of id 2 are tagged, each breaking range AND uniqueness
    assert(bad === Set(
      (2L, "in_range(qty, 0.0, 100.0),unique(id)")))
  }

  test("example: BM25 top-k ranks the doc matching more/rarer terms first") {
    val corpus = Seq((1L, "fast hash join"), (2L, "slow scan"),
      (3L, "fast scan")).toDF("id", "text")
    val probes = Seq((7L, "fast hash")).toDF("qid", "q")
    val top = pipeline.Retrieval.bm25TopK(
      corpus, "id", "text", probes, "qid", "q", k = 2)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(top === Seq(1L, 3L)) // doc 1 matches both terms, one rare
  }

  test("example: vendor names link through edit distance and resolve to " +
      "a canonical form; SCD2 runs feed the interval conflict join") {
    val vendors = Seq("Jon Smith", "John Smith", "John  Smith", "Acme Co")
      .toDF("name")
    val pairs = Dedup.editDistancePairs(vendors, "name", maxDistance = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("John  Smith", "John Smith"),
      ("John Smith", "Jon Smith"), ("John  Smith", "Jon Smith")))
    val canon = Dedup.resolveEntities(vendors, "name", maxDistance = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(canon("Jon Smith") === "John  Smith" &&
      canon("John Smith") === "John  Smith" &&
      canon("Acme Co") === "Acme Co")
    // change log -> effective-dated rows; overlapping histories conflict
    val obs = Seq((1L, 10L, "gold"), (1L, 20L, "gold"), (1L, 30L, "basic"))
      .toDF("vendor", "seen_at", "tier")
    val hist = Relational.scd2History(obs, Seq("vendor"), "seen_at", Seq("tier"))
      .collect().map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(hist === Set(("gold", 10L, 30L), ("basic", 30L, -1L)))
    val a = Seq((1L, 10L, 30L, "x")).toDF("vendor", "from_a", "to_a", "pa")
    val b = Seq((1L, 25L, 40L, "y"), (1L, 30L, 40L, "z"))
      .toDF("vendor", "from_b", "to_b", "pb")
    val hits = Relational.intervalOverlapJoin(
      a, b, Seq("vendor"), "from_a", "to_a", "from_b", "to_b",
      cellWidth = 16L).select("pb").as[String].collect().toSeq
    assert(hits === Seq("y")) // [10,30) meets [25,40) but not [30,40)
  }

  test("example: conversions credit their last in-lookback touch; the " +
      "session table is the durable sessionization release") {
    val ev = Seq((1L, 10L, "click"), (1L, 20L, "view"), (1L, 25L, "purchase"),
      (1L, 500L, "purchase")).toDF("user", "t", "etype")
    val credits = Relational.attribution(
      ev, "user", "t", "etype", "purchase", Seq("click", "view"), 100L)
      .collect().map(r => (r.getLong(1), Option(r.getString(2)).orNull)).toSet
    assert(credits === Set((25L, "view"), (500L, null))) // 500 is too late
    val sess = Relational.sessionTable(ev, "user", "t", gapUnits = 100L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(sess === Set((1L, 10L, 25L, 3L), (2L, 500L, 500L, 1L)))
  }

  test("example: frequent canonicals beat the first-sorting typo; " +
      "multi-touch time-decay credits sum to 1; auto cellWidth derives") {
    val vendors = Seq("Acme Corp", "Acme Corp", "Acme Corp", "AAcme Corp")
      .toDF("name")
    val canonF = Dedup.resolveEntities(vendors, "name", maxDistance = 2,
      canonical = "frequent")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(canonF("AAcme Corp") === "Acme Corp") // 3 rows beat 1
    val ev = Seq((1L, 10L, "click"), (1L, 20L, "view"), (1L, 25L, "purchase"))
      .toDF("user", "t", "etype")
    val split = Relational.multiTouchAttribution(
      ev, "user", "t", "etype", "purchase", Seq("click", "view"), 100L,
      model = "time_decay", halfLife = 10L)
      .collect().map(r => (r.getString(2), r.getDouble(4))).toSet
    // ages 15 and 5 -> k = 1 and 0 -> weights 1:2
    assert(split === Set(("click", 1.0 / 3), ("view", 2.0 / 3)))
    // auto width: one bounded pre-pass, result identical to any width
    val a = Seq((1L, 10L, 30L, "x")).toDF("vendor", "from_a", "to_a", "pa")
    val b = Seq((1L, 25L, 40L, "y"), (1L, 30L, 40L, "z"))
      .toDF("vendor", "from_b", "to_b", "pb")
    val hits = Relational.intervalOverlapJoin(
      a, b, Seq("vendor"), "from_a", "to_a", "from_b", "to_b")
      .select("pb").as[String].collect().toSeq
    assert(hits === Seq("y"))
  }

  test("example: integer k-means assigns stable clusters; robust z-scores " +
      "rank severity with certified medians") {
    val emb = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(0.1, 0.0)),
      (3L, Seq(5.0, 5.0)), (4L, Seq(5.1, 5.0)))
      .toDF("vec_id", "embedding")
    val clusters = pipeline.Clustering.kMeansMicro(
      emb, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(clusters(1L) === clusters(2L) && clusters(3L) === clusters(4L) &&
      clusters(1L) != clusters(3L))
    val docs = Seq(("en", 1.0), ("en", 2.0), ("en", 3.0), ("en", 100.0))
      .toDF("lang", "n_chars")
    val scored = pipeline.Quality.robustZScores(docs, Seq("lang"), "n_chars")
    // 4 values {1,2,3,100}: rank-ceil median 2, deviations {1,0,1,98} ->
    // MAD 1; the spike scores (100-2)/1.4826
    val z = scored.where($"n_chars" === 100.0)
      .select("robust_z").head.getDouble(0)
    assert(math.abs(z - 98.0 / 1.4826) < 1e-12)
  }

  test("example: windowed sketches roll forward without reprocessing — " +
      "cumulative quantiles and uniques from released bytes alone") {
    val sqlCtx = spark.sqlContext
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(java.sql.Timestamp, Double, String)]
    val df = in.toDF().toDF("ts", "v", "k")
    val sk = streaming.Streaming.streamingWindowedSketches(
      df, "ts", "v", "10 minutes", "0 seconds", k = 64)
    val q = sk.writeStream.format("memory").queryName("docwsk")
      .outputMode("update").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
      in.addData((ts(1), 1.0, "a"), (ts(2), 2.0, "b"), (ts(3), 3.0, "a"))
      q.processAllAvailable()
      in.addData((ts(12), 10.0, "c"))
      q.processAllAvailable()
      val cum = streaming.Streaming.cumulativeQuantiles(
        spark.table("docwsk"), 64, Seq(0.5))
        .orderBy("window_end")
        .collect().map(r => (r.getLong(3), r.getSeq[Double](5).head)).toSeq
      // window 1 alone: median of {1,2,3}; through window 2: of {1,2,3,10}
      assert(cum === Seq((3L, 2.0), (4L, 2.0)))
    } finally q.stop()
  }

  test("example: k-core and k-truss peel to the cohesive core; SSSP " +
      "releases exact integer path costs") {
    import org.apache.spark.sql.functions.col
    // K4 plus a pendant chain: the 4-core/4-truss is K4 alone
    val edges = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "d" -> "e", "e" -> "f").toDF("src", "dst")
    val core = Graph.kCore(edges, "src", "dst", k = 3)
      .collect().map(r => r.getString(0)).toSet
    assert(core === Set("a", "b", "c", "d"))
    val truss = Graph.kTruss(edges, "src", "dst", k = 4).count()
    assert(truss === 6L) // the six K4 edges
    val wEdges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 9L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("seed")
    val d = Graph.ssspWeighted(wEdges, "src", "dst", "w", seeds, "seed", 8)
      .where(col("node") === "c").head.getLong(1)
    assert(d === 2L) // the two-hop path beats the direct weight-9 edge
  }

  test("example: changelog apply merges I/U/D by highest version; " +
      "point-in-time reads the SCD2 row effective at fact time") {
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, "bronze"), (2L, "silver")).toDF("k", "tier")
    val changes = Seq(
      (2L, "gold", 10L, "U"), (2L, "platinum", 7L, "U"),
      (3L, "bronze", 11L, "I"), (1L, "-", 12L, "D"))
      .toDF("k", "tier", "v", "op")
    val current = Relational.applyChangelog(base, changes, Seq("k"), "v", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 1 deleted, key 2 took v10 (not the stale v7), key 3 inserted
    assert(current === Map(2L -> "gold", 3L -> "bronze"))
    val obs = Seq((7L, 1L, "bronze"), (7L, 5L, "gold"))
      .toDF("vendor", "seen_at", "tier")
    val hist = Relational.scd2History(obs, Seq("vendor"), "seen_at",
      Seq("tier"))
    val facts = Seq((7L, 3L), (7L, 6L)).toDF("vendor", "t")
    val atTime = Relational.asOfJoin(facts,
      hist.select(col("vendor"), col("valid_from").as("t"), col("tier")),
      Seq("vendor"), "t")
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(atTime === Map(3L -> "bronze", 6L -> "gold"))
  }

  test("example: journeys read three ways — transition edges, entry " +
      "conversion, and funnel latency quantiles") {
    import org.apache.spark.sql.functions.col
    val events = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      (2L, 1L, "view"), (2L, 2L, "click"),
      (3L, 1L, "view"), (3L, 9L, "purchase"))
      .toDF("user", "t", "etype")
    val trans = Relational.transitionMatrix(events, "user", "t", "etype",
      gapUnits = 100L)
      .where(col("from_type") === "view")
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    // from view: 2 of 3 go to click, 1 of 3 straight to purchase
    assert(trans === Map("click" -> 666666L, "purchase" -> 333333L))
    val entry = Relational.sessionConversion(events, "user", "t", "etype",
      100L, convType = "purchase")
      .head
    assert(entry.getString(0) === "view" && entry.getLong(3) === 666666L)
    val lat = Relational.funnelLatency(events, "user", "etype", "t",
      Seq("view", "purchase"), percentiles = Seq(0.5)).head
    // gaps 2 (user 1) and 8 (user 3): median = rank-ceil 1st of 2 = 2
    assert(lat.getLong(5) === 0L && lat.getDouble(6) === 2.0)
  }

  test("example: survivorship keeps the best copy; RRF fuses rankings " +
      "in exact micro-units") {
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 40L)).toDF("doc_id", "quality")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.survivorship(docs, "doc_id", "quality", clusters)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(kept === Map(2L -> 2L, 3L -> 1L)) // doc 2 wins its pair
    val ranks = Seq(("q", 1L, 1L), ("q", 2L, 2L), ("q", 2L, 1L))
      .toDF("query", "doc", "rank")
    val fused = Retrieval.reciprocalRankFusion(
      ranks, "query", "doc", "rank", k = 2).head
    assert(fused.getLong(1) === 2L) // doc 2: rank1 + rank2 beats doc 1
  }

  test("example: interval union, period deltas, and the RFM grid — the " +
      "warehouse dashboard trio") {
    val spans = Seq(("h1", 1L, 3L), ("h1", 3L, 5L), ("h1", 7L, 9L))
      .toDF("host", "lo", "hi")
    val islands = Relational.mergeIntervals(spans, Seq("host"), "lo", "hi")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // [1,3)+[3,5) touch -> one island; total covered uptime = 4 + 2
    assert(islands === Set((1L, 5L, 2L), (7L, 9L, 1L)))
    val events = Seq(("s", 1L), ("s", 1L), ("s", 2L), ("s", 2L), ("s", 2L))
      .toDF("source", "week")
    val wow = Relational.periodDeltas(events, Seq("source"), "week")
      .where($"period" === 2L).head
    assert(wow.getLong(4) === 1L)        // delta 2 -> 3
    assert(wow.getLong(5) === 1500000L)  // growth 3e6 div 2
    val orders = Seq(("a", 10L, 90L), ("b", 20L, 10L))
      .toDF("cust", "t", "cents")
    val grid = Relational.rfmSegments(orders, "cust", "t", "cents",
      tiles = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(4))
      .toMap
    // b is most recent (r=1) but a spends most (m=1)
    assert(grid === Map((2L, 1L, 1L) -> 90L, (1L, 2L, 2L) -> 10L))
  }

  test("example: Benford audit, categorical profile, and pair affinity " +
      "profile a table before anyone trusts it") {
    import graft.pipeline.{CorpusStats, Quality}
    val ledger = Seq(1L, 1L, 2L, 19L, 100L).toDF("amount_cents")
    val digit1 = Quality.benfordAudit(ledger, "amount_cents")
      .where($"digit" === 1L).head
    // 4 of 5 values lead with 1 -> 800000 ppm vs expected 301029
    assert(digit1.getLong(1) === 4L && digit1.getLong(2) === 800000L)
    assert(digit1.getLong(4) === 800000L - 301029L)
    val dim = Seq(("x", "b"), ("x", "a"), ("y", "a")).toDF("brand", "size")
    val prof = Quality.categoricalProfile(dim, Seq("brand", "size"))
      .collect().map(r => r.getString(0) -> ((r.getString(4), r.getLong(6))))
      .toMap
    assert(prof("brand") === (("x", 666666L))) // modal value + top share
    assert(prof("size") === (("a", 666666L)))
    val lines = Seq(("o1", "p"), ("o1", "q"), ("o2", "p"), ("o2", "q"))
      .toDF("order", "part")
    val aff = CorpusStats.pairAffinity(lines, "order", "part", 2L).head
    // p and q co-occur in BOTH baskets: support 2, n_baskets 2,
    // supports 2 and 2 -> lift 2*2*1e6 div 4 = exactly 1e6 (independence
    // baseline, since each item is in every basket)
    assert(aff.getAs[Long]("lift_ppm") === 1000000L)
    assert(aff.getAs[Long]("conf_a_to_b_ppm") === 1000000L)
  }

  test("example: link prediction shortlists non-edges; the Pareto " +
      "frontier keeps only undominated rows") {
    val edges = Seq(("h", "x"), ("h", "y"), ("h", "z"), ("x", "y"))
      .toDF("src", "dst")
    val links = Graph.linkPrediction(edges, "src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // x-y is already an edge; the h-mediated pairs with z are the
    // candidates
    assert(links === Set(("x", "z"), ("y", "z")))
    val parts = Seq(("b", 1L, 5L), ("b", 2L, 3L), ("b", 3L, 4L))
      .toDF("brand", "size", "price")
    val front = Relational.paretoFrontier(parts, Seq("brand"),
      "size", "price").collect().map(r => (r.getLong(1), r.getLong(2)))
      .toSet
    // (3,4) loses to (2,3) on both dims; the other two trade off
    assert(front === Set((1L, 5L), (2L, 3L)))
  }

  test("example: mode imputation repairs holes; table digests catch a " +
      "one-row divergence between replicas") {
    import graft.pipeline.Quality
    val events = Seq(("c1", "view"), ("c1", "view"), ("c1", null))
      .toDF("cohort", "etype")
    val fixed = Quality.imputeMode(events, Seq("cohort"), "etype")
    assert(fixed.where($"was_imputed").count() === 1L)
    assert(fixed.where($"etype" === "view").count() === 3L)
    val a = Seq((1L, "OK"), (2L, "OK")).toDF("id", "status")
    val b = Seq((1L, "OK"), (2L, "LATE")).toDF("id", "status")
    val da = Quality.tableDigest(a, Seq("id"), Seq("status"), 8)
    val db = Quality.tableDigest(b, Seq("id"), Seq("status"), 8)
    // the divergent key's bucket (and only it) disagrees
    val diff = da.join(db, Seq("bucket"))
      .where(da("xor_digest") =!= db("xor_digest")).count()
    assert(diff === 1L)
  }

  test("example: reach profiles rank influencers; joinHotKeys names the " +
      "keys that would dominate a join") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val seeds = Seq("a", "c").toDF("seed")
    val reach = Graph.reachProfile(edges, "src", "dst", seeds, "seed", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reach === Map("a" -> 2L, "c" -> 1L)) // a sees b,c; c sees d
    val facts = Seq("x", "x", "x", "y").toDF("k")
    val dims = Seq("x", "x", "y", "y", "y").toDF("k")
    val hot = Relational.joinHotKeys(facts, dims, Seq("k")).head
    // x emits 3*2 = 6 of the join's 9 rows -> 666666 ppm, the salting
    // candidate
    assert(hot.getString(0) === "x" && hot.getLong(3) === 6L &&
      hot.getLong(4) === 666666L)
  }

  test("example: scdAudit grades a dimension history; sorted neighbors " +
      "block near-dups whose prefix is corrupted") {
    val dim = Seq(("c", 1L, 5L), ("c", 4L, 8L), ("c", 10L, 12L))
      .toDF("cust", "valid_from", "valid_to")
    val audit = Relational.scdAudit(dim, Seq("cust"),
      "valid_from", "valid_to").head
    // [4,8) starts inside [1,5); [10,12) starts after a 2-unit hole
    assert(audit.getLong(2) === 1L && audit.getLong(3) === 1L)
    val names = Seq(("1", "smith, john"), ("2", "smith,john"),
      ("3", "zeta")).toDF("id", "name")
    val cands = Dedup.sortedNeighborPairs(names, "id", "name", 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // the two smith variants are rank neighbors even though their
    // q-gram prefixes differ at the corrupted comma
    assert(cands.contains(("2", "1")) || cands.contains(("1", "2")))
  }

  test("example: negative sampling regenerates the same epoch anywhere") {
    import graft.pipeline.Sampling
    val clicks = Seq(("u1", "a"), ("u1", "b"), ("u2", "c"), ("u2", "d"),
      ("u3", "e"), ("u3", "a")).toDF("user", "item")
    val e1 = Sampling.negativeSamples(clicks, "user", "item", k = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val e1Again = Sampling.negativeSamples(clicks.repartition(5),
      "user", "item", k = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(e1 === e1Again && e1.nonEmpty) // bit-identical epoch replay
    assert(e1.forall { case (u, n) => // never a true positive
      !Set(("u1", "a"), ("u1", "b"), ("u2", "c"), ("u2", "d"),
        ("u3", "e"), ("u3", "a")).contains((u, n)) })
    // the exactly-k variant fills each positive's full quota
    val ex = Sampling.negativeSamplesExact(clicks, "user", "item", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(ex.groupBy(t => (t._1, t._2)).forall(_._2.length == 2))
  }

  test("example: KeySet.decompose explains a key domain's structure") {
    import graft.keyset.KeySet
    val brands = KeySet.fromColumn("brand", Seq("acme", "zeno"))
    val sizes = KeySet.fromColumn("size", Seq(1, 2, 3))
    val discontinued = KeySet.fromTuples(Seq(Seq("acme", 3L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("brand",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("size",
          org.apache.spark.sql.types.LongType))))
    val (factors, subtracted) = (brands * sizes).subtract(discontinued)
      .decompose()
    // the 2-column subtraction spans both factors, so it lands in the
    // subtracted list; the factors stay pure per-column domains
    assert(factors.map(_.columns.toSet).toSet ===
      Set(Set("brand"), Set("size")))
    assert(subtracted.map(_.columns.toSet) === Seq(Set("brand", "size")))
  }

  test("example: BPE — distributed and driver training agree; encode is " +
      "a projection") {
    import graft.pipeline.Bpe
    import org.apache.spark.sql.functions.col
    val docs = makeDf(
      StructType(Seq(longCol("id"), strCol("text"))),
      (1 to 20).map(i => Row(i.toLong, "low lower lowest")))
    val model = Bpe.trainDistributed(docs, "text", numMerges = 8)
    assert(model.merges === Bpe.train(docs, "text", numMerges = 8).merges)
    val toks = docs.limit(1)
      .select(Bpe.encode(col("text"), model).as("tokens"))
      .collect().head.getSeq[String](0)
    // trained to saturation on its own corpus, BPE reproduces whole words
    assert(toks === Seq("low", "lower", "lowest"))
  }

  test("example: the streaming DP ledger persists spend and refuses an " +
      "exhausted restart") {
    import graft.streaming.Streaming
    val ledger = java.nio.file.Files.createTempDirectory("docledger")
      .toFile.getAbsolutePath + "/dp_ledger"
    val a = new Streaming.DpStreamAccountant(
      totalEpsilon = 1.0, perWindowEpsilon = 0.5,
      ledgerPath = Some(ledger)).restoreLedger(spark)
    try {
      a.charge(2) // two released windows -> exactly the cap, persisted
      assert(a.exhausted)
    } finally {
      // planned handover: release the single-writer lease so the successor
      // can restore immediately (a CRASHED holder instead just stops
      // renewing, and the successor waits out leaseTtlMs)
      a.releaseLedgerLease()
    }
    // a FRESH accountant (the restarted process) restores the exact spend
    val b = new Streaming.DpStreamAccountant(
      totalEpsilon = 1.0, perWindowEpsilon = 0.5,
      ledgerPath = Some(ledger)).restoreLedger(spark)
    assert(b.spentExact === Rat(0.5) * Rat(2)) // exactly, from disk
    // and its release sink writes nothing: no window is affordable
    var written = 0L
    b.enforcedBatcher(Seq("x")) { kept => written += kept.count() }(
      makeDf(StructType(Seq(longCol("x"))), Seq(Row(1L))), 0L)
    assert(b.affordable === 0L && written === 0L)
  }
}
