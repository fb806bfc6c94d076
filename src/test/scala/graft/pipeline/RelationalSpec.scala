package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

class RelationalSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def trades = Seq(
    // (key, t, trade_px)
    ("A", 10L, 100.0), ("A", 20L, 101.0), ("A", 30L, 102.0),
    ("B", 15L, 200.0), ("C", 5L, 300.0)
  ).toDF("sym", "t", "trade_px")

  private def quotes = Seq(
    // (key, t, bid)
    ("A", 8L, 99.0), ("A", 20L, 100.5), ("A", 25L, 101.5),
    ("B", 15L, 199.0), ("B", 16L, 199.5)
  ).toDF("sym", "t", "bid")

  test("asOfJoin strict: most recent strictly-earlier right row per left row") {
    val out = Relational.asOfJoin(trades, quotes, Seq("sym"), "t")
      .as[(String, Long, Double, Option[Double])].collect().toSet
    assert(out === Set(
      ("A", 10L, 100.0, Some(99.0)),   // only the t=8 quote precedes
      ("A", 20L, 101.0, Some(99.0)),   // t=20 quote is same-instant: excluded
      ("A", 30L, 102.0, Some(101.5)),  // latest of 8/20/25
      ("B", 15L, 200.0, None),         // t=15 quote same-instant: excluded
      ("C", 5L, 300.0, None)))         // no quotes for C at all
  }

  test("asOfJoin non-strict: same-instant right row matches") {
    val out = Relational.asOfJoin(trades, quotes, Seq("sym"), "t", strict = false)
      .as[(String, Long, Double, Option[Double])].collect().toSet
    assert(out(("A", 20L, 101.0, Some(100.5))))
    assert(out(("B", 15L, 200.0, Some(199.0))))
  }

  test("asOfJoin carries every right payload column and keeps left schema order") {
    val rich = quotes.withColumn("ask", $"bid" + 1.0)
    val out = Relational.asOfJoin(trades, rich, Seq("sym"), "t")
    assert(out.columns.toSeq === Seq("sym", "t", "trade_px", "bid", "ask"))
    val row = out.where($"sym" === "A" && $"t" === 30L).head
    assert(row.getDouble(3) === 101.5 && row.getDouble(4) === 102.5)
  }

  test("asOfJoin is invariant under input partitioning") {
    val base = Relational.asOfJoin(trades, quotes, Seq("sym"), "t").collect().toSet
    val shuffled = Relational.asOfJoin(
      trades.repartition(7), quotes.repartition(3), Seq("sym"), "t").collect().toSet
    assert(shuffled === base)
  }

  test("asOfJoin ties between right rows resolve deterministically") {
    // two quotes at the same (sym, t): the carried match must be the same
    // row on every run/partitioning (hash tiebreak), not arbitrary
    val dup = Seq(("A", 8L, 99.0), ("A", 8L, 98.0)).toDF("sym", "t", "bid")
    val r1 = Relational.asOfJoin(trades, dup, Seq("sym"), "t").collect().toSet
    val r2 = Relational.asOfJoin(
      trades.repartition(5), dup.repartition(2), Seq("sym"), "t").collect().toSet
    assert(r1 === r2)
  }

  test("asOfJoin supports composite keys") {
    val l = Seq(("A", 1, 10L, 1.0), ("A", 2, 10L, 2.0)).toDF("k1", "k2", "t", "x")
    val r = Seq(("A", 1, 5L, 7.0)).toDF("k1", "k2", "t", "y")
    val out = Relational.asOfJoin(l, r, Seq("k1", "k2"), "t")
      .as[(String, Int, Long, Double, Option[Double])].collect().toSet
    assert(out === Set(("A", 1, 10L, 1.0, Some(7.0)), ("A", 2, 10L, 2.0, None)))
  }

  test("asOfJoin: null keys never match (SQL equi-join semantics)") {
    val l = Seq((Some("A"), 10L, 1.0), (None, 10L, 2.0))
      .toDF("sym", "t", "x")
    val r = Seq((Some("A"), 5L, 7.0), (None, 5L, 8.0))
      .toDF("sym", "t", "y")
    val out = Relational.asOfJoin(l, r, Seq("sym"), "t")
      .as[(Option[String], Long, Double, Option[Double])].collect().toSet
    // the null-keyed left row must NOT pick up the null-keyed right row
    assert(out === Set(
      (Some("A"), 10L, 1.0, Some(7.0)),
      (None, 10L, 2.0, None)))
  }

  test("asOfJoin and rangeJoin reject reserved internal column names") {
    assertThrows[IllegalArgumentException] {
      Relational.asOfJoin(trades.withColumn("__match", $"t"), quotes, Seq("sym"), "t")
    }
    assertThrows[IllegalArgumentException] {
      Relational.asOfJoin(trades, quotes.withColumn("__tie", $"t"), Seq("sym"), "t")
    }
    val fact = Seq(1.0).toDF("v")
    assertThrows[IllegalArgumentException] {
      Relational.rangeJoin(fact.withColumn("__cell", $"v"), "v", bands,
        "lo", "hi", cellWidth = 1.0)
    }
    assertThrows[IllegalArgumentException] {
      Relational.rangeJoin(fact, "v", bands.withColumn("__cell", $"lo"),
        "lo", "hi", cellWidth = 1.0)
    }
  }

  test("asOfJoin rejects payload-name clashes and missing columns") {
    val bad = quotes.withColumnRenamed("bid", "trade_px")
    assertThrows[IllegalArgumentException] {
      Relational.asOfJoin(trades, bad, Seq("sym"), "t")
    }
    assertThrows[IllegalArgumentException] {
      Relational.asOfJoin(trades, quotes.drop("t"), Seq("sym"), "t")
    }
    assertThrows[IllegalArgumentException] {
      Relational.asOfJoin(trades, trades.select("sym", "t"), Seq("sym"), "t")
    }
  }

  private def bands = Seq(
    ("low", 0.0, 10.0), ("mid", 5.0, 20.0), ("empty", 30.0, 30.0)
  ).toDF("band", "lo", "hi")

  test("rangeJoin: containment with overlaps, [lo, hi) bounds") {
    val fact = Seq(3.0, 7.0, 10.0, 20.0, 25.0).toDF("v")
    val out = Relational.rangeJoin(fact, "v", bands, "lo", "hi", cellWidth = 4.0)
      .select("v", "band").as[(Double, String)].collect().toSet
    assert(out === Set(
      (3.0, "low"),                 // one band
      (7.0, "low"), (7.0, "mid"),   // overlap -> two rows
      (10.0, "mid")))               // 10 excluded from low (hi exclusive),
                                    // 20/25 match nothing; empty band never matches
  }

  test("rangeJoin handles negative values and sub-unit cells") {
    val dim = Seq(("neg", -5.0, -1.0)).toDF("band", "lo", "hi")
    val fact = Seq(-5.0, -1.0, -0.5, -4.99).toDF("v")
    val out = Relational.rangeJoin(fact, "v", dim, "lo", "hi", cellWidth = 0.75)
      .select("v").as[Double].collect().toSet
    assert(out === Set(-5.0, -4.99))
  }

  test("rangeJoin plans an equi hash join, not a nested-loop theta join") {
    val fact = Seq.tabulate(100)(i => i.toDouble).toDF("v")
    val plan = Relational.rangeJoin(fact, "v", bands, "lo", "hi", cellWidth = 4.0)
      .queryExecution.executedPlan
    val rendered = plan.toString
    assert(!rendered.contains("BroadcastNestedLoopJoin"))
    assert(!rendered.contains("CartesianProduct"))
  }

  test("rangeJoin rejects bad geometry and clashes") {
    val fact = Seq(1.0).toDF("v")
    assertThrows[IllegalArgumentException] {
      Relational.rangeJoin(fact, "v", bands, "lo", "hi", cellWidth = 0.0)
    }
    assertThrows[IllegalArgumentException] {
      Relational.rangeJoin(fact, "v", bands.withColumnRenamed("band", "v"),
        "lo", "hi", cellWidth = 1.0)
    }
  }

  private def funnelEvents = Seq(
    // u1 completes a -> b -> c in order
    (1L, "a", 10L), (1L, "b", 20L), (1L, "c", 30L),
    // u2 has b BEFORE its a: reaches step 1 only
    (2L, "b", 5L), (2L, "a", 8L),
    // u3: b at the SAME instant as a — strict order excludes it
    (3L, "a", 10L), (3L, "b", 10L),
    // u4: a then b, no c; the later second a is irrelevant
    (4L, "a", 1L), (4L, "b", 2L), (4L, "a", 50L),
    // u5 never does a
    (5L, "b", 1L), (5L, "c", 2L)
  ).toDF("user", "etype", "t")

  test("funnel: ordered strict completion, earliest semantics, by hand") {
    val out = Relational.funnel(funnelEvents, "user", "etype", "t",
      Seq("a", "b", "c"))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    // step1: u1 u2 u3 u4; step2 (b strictly after a): u1 u4; step3: u1
    assert(out === Seq((1, "a", 4L), (2, "b", 2L), (3, "c", 1L)))
  }

  test("funnel: step order matters and counts never increase") {
    val rev = Relational.funnel(funnelEvents, "user", "etype", "t",
      Seq("c", "b", "a"))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    assert(rev === Seq(2L, 0L, 0L)) // u1/u5 did c; nobody does b after c
    val fwd = Relational.funnel(funnelEvents, "user", "etype", "t",
      Seq("a", "b", "c")).as[(Int, String, Long)].collect().map(_._3)
    assert(fwd.sorted.reverse.toSeq === fwd.toSeq, "monotone down the funnel")
  }

  test("funnel maxGap: greedy first-window semantics by hand") {
    val ev = Seq(
      // u1: b lands 5 after a — inside a gap of 10
      (1L, "a", 10L), (1L, "b", 15L),
      // u2: earliest b is 30 after a, too late; a LATER b would not help
      // the greedy window even though it exists
      (2L, "a", 10L), (2L, "b", 40L),
      // u3: first b inside the window, second b (outside) irrelevant
      (3L, "a", 10L), (3L, "b", 19L), (3L, "b", 99L)
    ).toDF("user", "etype", "t")
    val out = Relational.funnel(ev, "user", "etype", "t", Seq("a", "b"),
      maxGap = Some(10L))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1, "a", 3L), (2, "b", 2L)))
    // no gap: u2's late b now counts
    val open = Relational.funnel(ev, "user", "etype", "t", Seq("a", "b"))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    assert(open === Seq(3L, 3L))
    assertThrows[IllegalArgumentException] {
      Relational.funnel(ev, "user", "etype", "t", Seq("a", "b"), Some(0L))
    }
    assertThrows[IllegalArgumentException] {
      import org.apache.spark.sql.functions.{col, timestamp_seconds}
      Relational.funnel(ev.withColumn("ts", timestamp_seconds(col("t"))),
        "user", "etype", "ts", Seq("a", "b"), Some(10L))
    }
  }

  test("funnel rejects duplicate steps, empty steps, missing columns") {
    assertThrows[IllegalArgumentException] {
      Relational.funnel(funnelEvents, "user", "etype", "t", Seq("a", "a"))
    }
    assertThrows[IllegalArgumentException] {
      Relational.funnel(funnelEvents, "user", "etype", "t", Nil)
    }
    assertThrows[IllegalArgumentException] {
      Relational.funnel(funnelEvents, "user", "etype", "nope", Seq("a"))
    }
  }

  test("cohortRetention: hand-computed triangle; repeats collapse; " +
      "age 0 equals cohort size; nulls drop") {
    val events = Seq[(java.lang.Long, java.lang.Long)](
      // u1 first in period 1, active again in 2 and 4 (twice: collapses)
      (1L, 1L), (1L, 2L), (1L, 4L), (1L, 4L),
      // u2 first in period 1 only
      (2L, 1L),
      // u3 first in period 2, active in 3
      (3L, 2L), (3L, 3L),
      // null entity and null period rows carry no signal
      (null, 1L), (4L, null)
    ).toDF("user", "p")
    val out = Relational.cohortRetention(events, "user", "p")
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 0L, 2L), (1L, 1L, 1L), (1L, 3L, 1L),
      (2L, 0L, 1L), (2L, 1L, 1L)))
  }

  test("funnelGaps: hand-computed time-to-convert; empty steps go null") {
    // from funnelEvents: step2 survivors u1 (20-10=10) and u4 (2-1=1);
    // step3 survivor u1 (30-20=10)
    val out = Relational.funnelGaps(funnelEvents, "user", "etype", "t",
      Seq("a", "b", "c"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out(2) === ((2L, 1.0, 10.0, 11.0)))
    assert(out(3) === ((1L, 10.0, 10.0, 10.0)))
    // a step nobody reaches reports n = 0 with null stats
    val dead = Relational.funnelGaps(funnelEvents, "user", "etype", "t",
      Seq("a", "b", "zz"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.isNullAt(3)))).toMap
    assert(dead(3) === ((0L, true)))
    assertThrows[IllegalArgumentException] {
      Relational.funnelGaps(funnelEvents, "user", "etype", "t", Seq("a"))
    }
    assertThrows[IllegalArgumentException] {
      import org.apache.spark.sql.functions.{col, timestamp_seconds}
      Relational.funnelGaps(
        funnelEvents.withColumn("ts", timestamp_seconds(col("t"))),
        "user", "etype", "ts", Seq("a", "b"))
    }
  }

  test("funnelGaps: the declared schema, and no job beyond funnel's stage " +
      "pins while the frame is built") {
    val steps = Seq("a", "b", "c")
    val pinJobs = jobsLaunchedBy {
      Relational.funnel(funnelEvents, "user", "etype", "t", steps)
    }
    val gapJobs = jobsLaunchedBy {
      Relational.funnelGaps(funnelEvents, "user", "etype", "t", steps)
    }
    assert(gapJobs === pinJobs)
    val gaps = Relational.funnelGaps(funnelEvents, "user", "etype", "t", steps)
    assert(gaps.schema === StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("step_name", StringType, nullable = false),
      StructField("n_entities", LongType, nullable = false),
      StructField("min_gap", DoubleType, nullable = true),
      StructField("max_gap", DoubleType, nullable = true),
      StructField("sum_gap", DoubleType, nullable = true))))
    assert(gaps.collect().map(r => (r.getInt(0), r.getString(1))).sorted ===
      Array(2 -> "b", 3 -> "c"))
  }

  test("funnel: null entity ids drop at EVERY stage — step 1 and step 2 " +
      "agree (no phantom pooled entity)") {
    val ev = Seq[(java.lang.Long, String, java.lang.Long)](
      // two real entities complete a -> b
      (1L, "a", 10L), (1L, "b", 20L),
      (2L, "a", 10L), (2L, "b", 20L),
      // three null-id events that would pool into one phantom step-1
      // entity if stage 1 kept nulls like groupBy does
      (null, "a", 1L), (null, "a", 2L), (null, "b", 3L)
    ).toDF("user", "etype", "t")
    val out = Relational.funnel(ev, "user", "etype", "t", Seq("a", "b"))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    assert(out === Seq(2L, 2L)) // nulls contribute to NEITHER stage
    val gaps = Relational.funnelGaps(ev, "user", "etype", "t", Seq("a", "b"))
      .collect().map(r => r.getLong(2)).toSeq
    assert(gaps === Seq(2L))
  }

  test("funnel/funnelGaps match a pure-Scala model across random event " +
      "sets, permutations, and partitionings") {
    // the model: earliest completion of each step strictly after (and
    // within maxGap of) the previous stage's earliest completion
    def model(rows: Seq[(Long, String, Long)], steps: Seq[String],
        maxGap: Option[Long]): (Seq[Long], Seq[(Long, Double, Double, Double)]) = {
      val byUser = rows.groupBy(_._1)
      val reach = scala.collection.mutable.Map[Long, List[Long]]()
      for ((u, evs) <- byUser) {
        var times = List.empty[Long] // reversed completion times
        var alive = true
        for (step <- steps if alive) {
          val prev = times.headOption
          val cand = evs.iterator
            .filter(_._2 == step)
            .map(_._3)
            .filter(t => prev.forall(p =>
              t > p && maxGap.forall(g => t <= p + g)))
          if (cand.isEmpty) alive = false
          else times = cand.min :: times
        }
        reach(u) = times.reverse
      }
      val counts = steps.indices.map(i =>
        reach.values.count(_.length >= i + 1).toLong)
      val gaps = (1 until steps.size).map { i =>
        val g = reach.values.toSeq.filter(_.length >= i + 1)
          .map(ts => (ts(i) - ts(i - 1)).toDouble)
        if (g.isEmpty) (0L, 0.0, 0.0, 0.0)
        else (g.size.toLong, g.min, g.max, g.sum)
      }
      (counts, gaps)
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val steps = Seq("a", "b", "c").take(2 + trial % 2)
      val maxGap = if (trial % 3 == 0) Some(5L + rnd.nextInt(10)) else None
      val rows = Seq.fill(120 + rnd.nextInt(80))((
        rnd.nextInt(25).toLong,
        Seq("a", "b", "c", "d")(rnd.nextInt(4)),
        rnd.nextInt(40).toLong))
      val shuffled = rnd.shuffle(rows)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          shuffled.map(r => Row(r._1, r._2, r._3)), 1 + rnd.nextInt(9)),
        StructType(Seq(StructField("user", LongType),
          StructField("etype", StringType), StructField("t", LongType))))
      val (mCounts, mGaps) = model(rows, steps, maxGap)
      val counts = Relational.funnel(df, "user", "etype", "t", steps, maxGap)
        .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
      assert(counts === mCounts, s"trial $trial counts (maxGap=$maxGap)")
      if (steps.size >= 2) {
        val gaps = Relational.funnelGaps(df, "user", "etype", "t", steps, maxGap)
          .collect().sortBy(_.getInt(0)).map(r =>
            (r.getLong(2),
              if (r.isNullAt(3)) 0.0 else r.getDouble(3),
              if (r.isNullAt(4)) 0.0 else r.getDouble(4),
              if (r.isNullAt(5)) 0.0 else r.getDouble(5))).toSeq
        assert(gaps === mGaps, s"trial $trial gaps (maxGap=$maxGap)")
      }
    }
  }

  test("sessionPaths: hand-computed paths, gap splits, truncation marker, " +
      "null drops, top-k tiebreak") {
    val ev = Seq[(java.lang.Long, java.lang.Long, String)](
      // u1: one session a>b, then (gap > 10) session a>b
      (1L, 0L, "a"), (1L, 5L, "b"), (1L, 100L, "a"), (1L, 104L, "b"),
      // u2: single session a>b
      (2L, 0L, "a"), (2L, 9L, "b"),
      // u3: single session c
      (3L, 0L, "c"),
      // null user: dropped
      (null, 0L, "a")
    ).toDF("user", "t", "etype")
    val out = Relational.sessionPaths(ev, "user", "t", "etype",
      gapUnits = 10L, k = 5)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("a>b", 3L), ("c", 1L))) // count desc, path asc
    // maxLen = 2 truncates u1's 3-event session, exact count preserved
    val ev2 = Seq((1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "c"))
      .toDF("user", "t", "etype")
    val trunc = Relational.sessionPaths(ev2, "user", "t", "etype",
      gapUnits = 10L, k = 5, maxLen = 2)
      .as[(String, Long)].collect().toSeq
    assert(trunc === Seq(("a>b>...", 1L)))
    assertThrows[IllegalArgumentException] {
      Relational.sessionPaths(ev2, "user", "t", "etype", 0L, 5)
    }
  }

  test("snapshotDiff: added/removed/changed classified null-safely; " +
      "unchanged excluded by default; duplicate keys refuse") {
    val before = Seq[(java.lang.Long, String)](
      (1L, "same"), (2L, "old"), (3L, "gone"), (4L, null))
      .toDF("id", "payload")
    val after = Seq[(java.lang.Long, String)](
      (1L, "same"), (2L, "new"), (5L, "fresh"), (4L, "was-null"))
      .toDF("id", "payload")
    val out = Relational.snapshotDiff(before, after, Seq("id"))
      .as[(Long, String)].collect().toSet
    // null -> value IS a change (IS DISTINCT FROM semantics)
    assert(out === Set((2L, "changed"), (3L, "removed"),
      (5L, "added"), (4L, "changed")))
    val all = Relational.snapshotDiff(before, after, Seq("id"),
      keepUnchanged = true).as[(Long, String)].collect().toSet
    assert(all === out + ((1L, "unchanged")))
    val dup = before.unionByName(Seq((1L, "twice")).toDF("id", "payload"))
    val e = intercept[IllegalArgumentException] {
      Relational.snapshotDiff(dup, after, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    intercept[IllegalArgumentException] {
      Relational.snapshotDiff(before, after, Nil)
    }
  }

  test("zeroFillSeries: gaps fill with zeros over [min, max]; off-grid " +
      "buckets fail loudly; empty input passes through") {
    val series = Seq((0L, 5L), (1200L, 3L)).toDF("bucket", "n")
    val out = Relational.zeroFillSeries(series, "bucket", 600L, Seq("n"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((0L, 5L), (600L, 0L), (1200L, 3L)))
    val offGrid = Seq((0L, 1L), (7L, 1L)).toDF("bucket", "n")
    val e = intercept[Exception] {
      Relational.zeroFillSeries(offGrid, "bucket", 600L, Seq("n")).collect()
    }
    assert(e.getMessage.contains("not a multiple"))
    assert(Relational.zeroFillSeries(
      series.where("bucket < 0"), "bucket", 600L, Seq("n")).count() === 0L)
    intercept[IllegalArgumentException] {
      Relational.zeroFillSeries(series, "bucket", 0L, Seq("n"))
    }
    // an outlier bucket cannot silently explode the grid
    val outlier = Seq((0L, 1L), (600000000L, 1L)).toDF("bucket", "n")
    val eGrid = intercept[IllegalArgumentException] {
      Relational.zeroFillSeries(outlier, "bucket", 600L, Seq("n"),
        maxBuckets = 1000L)
    }
    assert(eGrid.getMessage.contains("maxBuckets"))
  }

  test("zeroFillSeries: NULL buckets fail loudly; a present row's genuine " +
      "NULL measurement survives (only grid-inserted rows are zeroed)") {
    val withNullBucket = makeDf(
      StructType(Seq(longCol("bucket"), longCol("n"))),
      Seq(Row(0L, 1L), Row(null, 2L)))
    val e = intercept[Exception] {
      Relational.zeroFillSeries(withNullBucket, "bucket", 600L, Seq("n"))
        .collect()
    }
    assert(e.getMessage.contains("NULL bucket"))
    // bucket 600 present with a NULL measurement: must stay NULL, while
    // the absent bucket 1200 zero-fills
    val withNullMeasure = makeDf(
      StructType(Seq(longCol("bucket"), longCol("n"))),
      Seq(Row(0L, 5L), Row(600L, null), Row(1800L, 3L)))
    val out = Relational.zeroFillSeries(withNullMeasure, "bucket", 600L, Seq("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out === Map(0L -> Some(5L), 600L -> None, 1200L -> Some(0L),
      1800L -> Some(3L)))
    intercept[IllegalArgumentException] {
      Relational.zeroFillSeries(
        withNullMeasure.withColumn("__present",
          org.apache.spark.sql.functions.lit(1)), "bucket", 600L, Seq("n"))
    }
  }

  test("sessionPaths rejects non-integral time columns (timestamps and " +
      "doubles need explicit epoch conversion)") {
    val ev = Seq((1L, 0.5, "a")).toDF("user", "t", "etype")
    val e = intercept[IllegalArgumentException] {
      Relational.sessionPaths(ev, "user", "t", "etype", 10L, 5)
    }
    assert(e.getMessage.contains("integral time column"))
  }

  test("rollingStats rejects fractional order columns; snapshotDiff " +
      "rejects reserved column names") {
    val ev = Seq((1L, 0.5, 1.0)).toDF("user", "t", "v")
    val e = intercept[IllegalArgumentException] {
      Relational.rollingStats(ev, "user", "t", "v", 10L)
    }
    assert(e.getMessage.contains("integral order column"))
    val t = Seq((1L, "x")).toDF("id", "__in_b")
    intercept[IllegalArgumentException] {
      Relational.snapshotDiff(t, t, Seq("id"))
    }
  }

  test("rollingStats: hand-computed trailing-range frame per key") {
    val ev = Seq(
      (1L, 0L, 10.0), (1L, 500L, 2.0), (1L, 700L, 7.0), (1L, 2000L, 1.0),
      (2L, 100L, 9.0)
    ).toDF("user", "t", "v")
    val out = Relational.rollingStats(ev, "user", "t", "v", 600L)
      .select("user", "t", "n_window", "min_window", "max_window")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(out === Set(
      (1L, 0L, 1L, 10.0, 10.0),
      (1L, 500L, 2L, 2.0, 10.0),      // 0 and 500 in range
      (1L, 700L, 2L, 2.0, 7.0),       // 500 and 700; 0 is out (700-600=100)
      (1L, 2000L, 1L, 1.0, 1.0),
      (2L, 100L, 1L, 9.0, 9.0)))
  }

  test("sessionPaths matches a pure-Scala model across random corpora " +
      "(gap splits, truncation, top-k tiebreak)") {
    def model(rows: Seq[(Long, Long, String)], gap: Long, k: Int,
        maxLen: Int): Seq[(String, Long)] = {
      val paths = rows.groupBy(_._1).values.flatMap { evs =>
        val sorted = evs.map(e => (e._2, e._3)).sortBy(identity)
        // split on gaps > gap
        val sessions = sorted.foldLeft(List.empty[List[(Long, String)]]) {
          case (Nil, ev) => List(List(ev))
          case (cur :: rest, ev) =>
            if (ev._1 - cur.head._1 > gap) List(ev) :: (cur :: rest)
            else (ev :: cur) :: rest
        }.map(_.reverse).reverse
        sessions.map { s =>
          val p = s.take(maxLen).map(_._2).mkString(">")
          if (s.size > maxLen) p + ">..." else p
        }
      }
      paths.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (p, n) => (-n, p) }.take(k)
    }
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 5) {
      val rows = Seq.fill(150 + rnd.nextInt(100))((
        rnd.nextInt(12).toLong, rnd.nextInt(300).toLong,
        Seq("a", "b", "c")(rnd.nextInt(3))))
        .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq // unique (u, t)
      val gap = 20L + rnd.nextInt(40)
      val maxLen = 3 + rnd.nextInt(5)
      val expected = model(rows, gap, 8, maxLen)
      val got = Relational.sessionPaths(
        rows.toDF("user", "t", "etype").repartition(1 + rnd.nextInt(9)),
        "user", "t", "etype", gap, 8, maxLen)
        .as[(String, Long)].collect().toSeq
      assert(got === expected, s"trial $trial gap=$gap maxLen=$maxLen")
    }
  }

  test("sessionPaths is invariant under input partitioning") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)((rnd.nextInt(20).toLong,
      rnd.nextInt(500).toLong, Seq("a", "b", "c")(rnd.nextInt(3))))
      .distinct // (user, t) repeats with different types are fine; exact dups not
    val df = rows.toDF("user", "t", "etype")
    def run(parts: Int) = Relational.sessionPaths(
      df.repartition(parts), "user", "t", "etype", 50L, 10)
      .as[(String, Long)].collect().toSeq
    assert(run(1) === run(13))
  }

  test("funnel is invariant under input partitioning") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.funnel(df, "user", "etype", "t", Seq("a", "b", "c"))
        .as[(Int, String, Long)].collect().toSet
    assert(run(funnelEvents.repartition(1)) === run(funnelEvents.repartition(13)))
  }

  private def scdDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]) = {
    import org.apache.spark.sql.types._
    makeDf(StructType(Seq(StructField("k", LongType),
        StructField("v", LongType), StructField("a", StringType))),
      rows.map { case (k, v, a) => org.apache.spark.sql.Row(k, v, a) })
  }

  test("scd2History: runs collapse, valid_to chains, open run NULL, " +
      "null keys drop, attr nulls compare null-safely") {
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "x"), (1L, 20L, "x"), (1L, 30L, "y"), (1L, 40L, "x"),
      (2L, 5L, null), (2L, 6L, null), (2L, 7L, "z"),
      (null, 1L, "dropped"))
    val got = Relational.scd2History(scdDf(rows), Seq("k"), "v", Seq("a"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got === Set(
      (1L, "x", 10L, 30L), (1L, "y", 30L, 40L), (1L, "x", 40L, -1L),
      (2L, null, 5L, 7L), (2L, "z", 7L, -1L)))
  }

  test("scd2History guards: duplicate (key, version) and NULL version " +
      "fail loudly; disjointness and reserved names enforced") {
    val dup = scdDf(Seq((1L, 10L, "x"), (1L, 10L, "y")))
    assert(intercept[Exception](
      Relational.scd2History(dup, Seq("k"), "v", Seq("a"))
    ).getMessage.contains("duplicate"))
    val nullV = scdDf(Seq((1L, null.asInstanceOf[java.lang.Long], "x")))
    assert(intercept[Exception](
      Relational.scd2History(nullV, Seq("k"), "v", Seq("a"))
    ).getMessage.contains("NULL v"))
    val ok = scdDf(Seq((1L, 10L, "x")))
    intercept[IllegalArgumentException](
      Relational.scd2History(ok, Seq("k"), "v", Seq("k")))
    intercept[IllegalArgumentException](
      Relational.scd2History(ok.withColumnRenamed("a", "valid_from"),
        Seq("k"), "v", Seq("valid_from")))
  }

  private def attrDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]) = {
    import org.apache.spark.sql.types._
    makeDf(StructType(Seq(StructField("u", LongType),
        StructField("t", LongType), StructField("y", StringType))),
      rows.map { case (u, t, y) => org.apache.spark.sql.Row(u, t, y) })
  }

  test("attribution: last vs first touch, lookback bound strict-before, " +
      "unattributed NULLs, null entities drop") {
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "click"), (1L, 20L, "view"), (1L, 25L, "buy"),
      (1L, 300L, "buy"),              // all touches outside lookback 100
      (2L, 5L, "buy"),                // no touch at all
      (2L, 6L, "click"), (2L, 7L, "buy"),
      (null, 1L, "buy"))
    def run(mode: String) = Relational.attribution(
      attrDf(rows), "u", "t", "y", "buy", Seq("click", "view"), 100L, mode)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).orNull,
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(run("last") === Set(
      (1L, 25L, "view", 20L), (1L, 300L, null, -1L),
      (2L, 5L, null, -1L), (2L, 7L, "click", 6L)))
    assert(run("first") === Set(
      (1L, 25L, "click", 10L), (1L, 300L, null, -1L),
      (2L, 5L, null, -1L), (2L, 7L, "click", 6L)))
  }

  test("attribution: touches tied on one timestamp resolve by type, " +
      "deterministically across partitionings (last -> later-sorting " +
      "type, first -> earlier-sorting, matching streamingAttribution)") {
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "view"), (1L, 10L, "click"), (1L, 10L, "ad"),
      (1L, 20L, "buy"),
      (2L, 5L, "click"), (2L, 5L, "view"), (2L, 9L, "buy"))
    def run(mode: String, parts: Int) = Relational.attribution(
      attrDf(rows).repartition(parts), "u", "t", "y", "buy",
      Seq("ad", "click", "view"), 100L, mode)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      .toSet
    for (parts <- Seq(1, 3, 7)) {
      // among the t=10 tie, "view" sorts last and "ad" first
      assert(run("last", parts) ===
        Set((1L, "view", 10L), (2L, "view", 5L)), s"parts=$parts")
      assert(run("first", parts) ===
        Set((1L, "ad", 10L), (2L, "click", 5L)), s"parts=$parts")
    }
  }

  test("multiTouchAttribution: linear / position / time_decay splits by " +
      "hand, NULL row for unattributed, ties resolve by type, credits " +
      "sum to 1, partitioning-invariant") {
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "click"), (1L, 20L, "view"), (1L, 30L, "ad"),
      (1L, 40L, "buy"),
      (1L, 300L, "buy"),                      // nothing within lookback 100
      (2L, 5L, "click"), (2L, 6L, "buy"),     // single touch
      (3L, 5L, "view"), (3L, 5L, "click"), (3L, 10L, "buy"), // tied pair
      (null, 1L, "buy"))
    def run(model: String, hl: Long, parts: Int) =
      Relational.multiTouchAttribution(
        attrDf(rows).repartition(parts), "u", "t", "y", "buy",
        Seq("ad", "click", "view"), 100L, model, hl)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).orNull,
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
    val nul1 = (1L, 300L, null, -1L, -1.0)
    val one2 = (2L, 6L, "click", 5L, 1.0)
    for (parts <- Seq(1, 4)) {
      assert(run("linear", 0L, parts) === Set(
        (1L, 40L, "click", 10L, 1.0 / 3), (1L, 40L, "view", 20L, 1.0 / 3),
        (1L, 40L, "ad", 30L, 1.0 / 3), nul1, one2,
        (3L, 10L, "click", 5L, 0.5), (3L, 10L, "view", 5L, 0.5)),
        s"linear parts=$parts")
      // position: first (click@10) and last (ad@30) take 0.4, middle 0.2;
      // user 3's tie orders (5,click) before (5,view)
      assert(run("position", 0L, parts) === Set(
        (1L, 40L, "click", 10L, 0.4), (1L, 40L, "view", 20L, 0.2),
        (1L, 40L, "ad", 30L, 0.4), nul1, one2,
        (3L, 10L, "click", 5L, 0.5), (3L, 10L, "view", 5L, 0.5)),
        s"position parts=$parts")
      // halfLife 10: k = 3/2/1 for click/view/ad -> weights 1:2:4
      assert(run("time_decay", 10L, parts) === Set(
        (1L, 40L, "click", 10L, 1.0 / 7), (1L, 40L, "view", 20L, 2.0 / 7),
        (1L, 40L, "ad", 30L, 4.0 / 7), nul1, one2,
        (3L, 10L, "click", 5L, 0.5), (3L, 10L, "view", 5L, 0.5)),
        s"time_decay parts=$parts")
    }
  }

  test("attribution and multiTouchAttribution match a pure-Scala model " +
      "on random event logs WITH timestamp ties, for every model, under " +
      "any partitioning") {
    val rng = new scala.util.Random(37)
    val types = Vector("ad", "click", "view", "buy")
    val rows = Seq.fill(400)((rng.nextInt(12).toLong: java.lang.Long,
      rng.nextInt(60).toLong: java.lang.Long, types(rng.nextInt(4))))
    val lookback = 20L
    val touches = Seq("ad", "click", "view")
    // model: per user, sorted (time, type) events; per buy, the sorted
    // in-window touch list
    def windowOf(u: Long, t: Long): Seq[(Long, String)] =
      rows.collect { case (uu, tt, y)
        if uu == u && touches.contains(y) &&
          tt >= t - lookback && tt < t => (tt.toLong, y) }.sorted
    val buys = rows.collect { case (u, t, "buy") => (u.toLong, t.toLong) }
      .distinct
    def creditsOf(model: String, n: Int): Seq[Double] = model match {
      case "linear" => Seq.fill(n)(1.0 / n)
      case _ => // position
        if (n == 1) Seq(1.0) else if (n == 2) Seq(0.5, 0.5)
        else (0 until n).map(i =>
          if (i == 0 || i == n - 1) 0.4 else 0.2 / (n - 2))
    }
    val df0 = attrDf(rows)
    for (parts <- Seq(1, 6)) {
      val df = df0.repartition(parts)
      // single-touch, both modes: last = max (time, type), first = min
      val last = Relational.attribution(df, "u", "t", "y", "buy",
        touches, lookback, "last").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (Option(r.getString(2)).orNull,
            if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      val first = Relational.attribution(df, "u", "t", "y", "buy",
        touches, lookback, "first").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (Option(r.getString(2)).orNull,
            if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      for ((u, t) <- buys) {
        val w = windowOf(u, t)
        val expLast =
          if (w.isEmpty) (null, -1L) else { val m = w.max; (m._2, m._1) }
        val expFirst =
          if (w.isEmpty) (null, -1L) else { val m = w.min; (m._2, m._1) }
        assert(last((u, t)) === expLast, s"last u=$u t=$t parts=$parts")
        assert(first((u, t)) === expFirst, s"first u=$u t=$t parts=$parts")
      }
      // multi-touch, all three models
      for ((model, hl) <- Seq(("linear", 0L), ("position", 0L),
          ("time_decay", 5L))) {
        val got = Relational.multiTouchAttribution(df, "u", "t", "y",
          "buy", touches, lookback, model, hl).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            Option(r.getString(2)).orNull,
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
          .groupBy(x => (x._1, x._2))
        for ((u, t) <- buys) {
          val w = windowOf(u, t)
          val exp: Set[(String, Long, Double)] =
            if (w.isEmpty) Set((null, -1L, -1.0))
            else {
              val cs: Seq[Double] = model match {
                case "time_decay" =>
                  val ws = w.map { case (tt, _) =>
                    1L << (40L - (t - tt) / hl).toInt }
                  val sw = ws.sum
                  ws.map(x => x.toDouble / sw.toDouble)
                case m => creditsOf(m, w.size)
              }
              w.zip(cs).map { case ((tt, y), c) => (y, tt, c) }.toSet
            }
          val g = got((u, t))
            .map(x => (x._3, x._4, x._5)).toSet
          assert(g === exp, s"$model u=$u t=$t parts=$parts")
        }
      }
    }
  }

  test("multiTouchAttribution guards: bad model, halfLife misuse, " +
      "over-cap half-lives, touch-count breach raises loudly") {
    val df = attrDf(Seq((1L, 1L, "a"), (1L, 2L, "a"), (1L, 3L, "a"),
      (1L, 4L, "buy")))
    intercept[IllegalArgumentException](Relational.multiTouchAttribution(
      df, "u", "t", "y", "buy", Seq("a"), 10L, "u_shaped"))
    intercept[IllegalArgumentException](Relational.multiTouchAttribution(
      df, "u", "t", "y", "buy", Seq("a"), 10L, "time_decay", 0L))
    intercept[IllegalArgumentException](Relational.multiTouchAttribution(
      df, "u", "t", "y", "buy", Seq("a"), 10L, "linear", 5L))
    intercept[IllegalArgumentException](Relational.multiTouchAttribution(
      df, "u", "t", "y", "buy", Seq("a"), 1000L, "time_decay", 2L))
    val e = intercept[Exception](Relational.multiTouchAttribution(
      df, "u", "t", "y", "buy", Seq("a"), 10L, "linear",
      maxTouchesPerConversion = 2).collect())
    assert(e.getMessage.contains("maxTouchesPerConversion") ||
      Option(e.getCause).exists(_.getMessage
        .contains("maxTouchesPerConversion")))
  }

  test("intervalOverlapJoin: exact pair set vs brute force across random " +
      "keyed intervals and cell widths (reporting-cell dedup, half-open " +
      "bounds, negative epochs)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(longCol("k"), longCol("id"),
      longCol("lo"), longCol("hi")))
    val rng = new scala.util.Random(13)
    val rows = (1 to 150).map { i =>
      val lo = rng.nextInt(200).toLong - 100L
      org.apache.spark.sql.Row(rng.nextInt(4).toLong + 1L, i.toLong,
        lo, lo + rng.nextInt(30).toLong) // some empty (hi == lo)
    }
    val model = (for {
      a <- rows; b <- rows
      if a.getLong(0) == b.getLong(0) && a.getLong(1) != b.getLong(1)
      if a.getLong(3) > a.getLong(2) && b.getLong(3) > b.getLong(2)
      if a.getLong(2) < b.getLong(3) && b.getLong(2) < a.getLong(3)
    } yield (a.getLong(0), a.getLong(1), b.getLong(1))).toSet
    val df = makeDf(schema, rows)
    val a = df.select(col("k"), col("id").as("id_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = df.select(col("k"), col("id").as("id_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    for (w <- Seq(0L, 1L, 7L, 64L)) { // 0 = self-tuned from the median
      val got = Relational.intervalOverlapJoin(
        a, b, Seq("k"), "lo_a", "hi_a", "lo_b", "hi_b", cellWidth = w)
        .where(col("id_a") =!= col("id_b"))
        .select("k", "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === model, s"cellWidth=$w")
    }
  }

  test("intervalOverlapJoin auto cellWidth: skewed length mix (many tiny, " +
      "few huge) still matches brute force; all-empty sides refuse loudly") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(longCol("k"), longCol("id"),
      longCol("lo"), longCol("hi")))
    val rng = new scala.util.Random(29)
    // 140 one-to-three-unit intervals plus 10 that span ~1000 units: the
    // derived median lands near the tiny mode, and the huge tail must
    // still fit under maxCellsPerInterval
    val rows = (1 to 150).map { i =>
      val lo = rng.nextInt(3000).toLong - 1500L
      val len = if (i % 15 == 0) 900L + rng.nextInt(200)
                else 1L + rng.nextInt(3)
      org.apache.spark.sql.Row((i % 3).toLong, i.toLong, lo, lo + len)
    }
    val model = (for {
      a <- rows; b <- rows
      if a.getLong(0) == b.getLong(0) && a.getLong(1) != b.getLong(1)
      if a.getLong(2) < b.getLong(3) && b.getLong(2) < a.getLong(3)
    } yield (a.getLong(0), a.getLong(1), b.getLong(1))).toSet
    val df = makeDf(schema, rows)
    val a = df.select(col("k"), col("id").as("id_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = df.select(col("k"), col("id").as("id_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    val got = Relational.intervalOverlapJoin(
      a, b, Seq("k"), "lo_a", "hi_a", "lo_b", "hi_b")
      .where(col("id_a") =!= col("id_b"))
      .select("k", "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === model)
    // nothing to derive from: every interval empty -> loud refusal
    val empty = makeDf(schema,
      Seq(org.apache.spark.sql.Row(1L, 1L, 5L, 5L)))
    val ea = empty.select(col("k"), col("id").as("id_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val eb = empty.select(col("k"), col("id").as("id_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    val e = intercept[IllegalArgumentException](
      Relational.intervalOverlapJoin(
        ea, eb, Seq("k"), "lo_a", "hi_a", "lo_b", "hi_b"))
    assert(e.getMessage.contains("cannot derive cellWidth"))
  }

  test("intervalOverlapJoin guards: fat intervals, non-integral bounds, " +
      "column clashes refuse loudly") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(longCol("k"), longCol("lo"), longCol("hi")))
    val one = makeDf(schema, Seq(org.apache.spark.sql.Row(1L, 0L, 100000L)))
    val r = one.select(col("k"), col("lo").as("lo2"), col("hi").as("hi2"))
    // the fat-interval guard is INLINE (raise_error in the main pass, no
    // pre-probe scan), so it fires on consumption, not construction
    val e = intercept[Exception](Relational.intervalOverlapJoin(
      one, r, Seq("k"), "lo", "hi", "lo2", "hi2",
      cellWidth = 1L, maxCellsPerInterval = 10L).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxCellsPerInterval")))
    intercept[IllegalArgumentException](Relational.intervalOverlapJoin(
      one.withColumn("lod", col("lo").cast("double")), r,
      Seq("k"), "lod", "hi", "lo2", "hi2", cellWidth = 10L))
    intercept[IllegalArgumentException](Relational.intervalOverlapJoin(
      one, one, Seq("k"), "lo", "hi", "lo", "hi", cellWidth = 10L))
  }

  test("sessionTable: gap splits, 1-based per-entity index, rollup " +
      "matches sessionPaths' segmentation; guards") {
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "x"), (1L, 15L, "x"), (1L, 200L, "x"),
      (2L, 7L, "x"), (null, 1L, "x"))
    val got = Relational.sessionTable(
      attrDf(rows).select("u", "t"), "u", "t", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, 1L, 10L, 15L, 2L), (1L, 2L, 200L, 200L, 1L),
      (2L, 1L, 7L, 7L, 1L)))
    // 0 -> 100 is exactly the gap (kept), 100 -> 201 exceeds it (split)
    val edge = Relational.sessionTable(attrDf(Seq[(java.lang.Long,
        java.lang.Long, String)]((3L, 0L, "x"), (3L, 100L, "x"),
        (3L, 201L, "x"))).select("u", "t"), "u", "t", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(edge === Set((3L, 1L, 0L, 100L, 2L), (3L, 2L, 201L, 201L, 1L)))
    intercept[IllegalArgumentException](
      Relational.sessionTable(attrDf(rows).select("u", "t"), "u", "t", 0L))
    intercept[IllegalArgumentException](
      Relational.sessionTable(attrDf(rows)
        .withColumn("td", org.apache.spark.sql.functions
          .col("t").cast("double")).select("u", "td"), "u", "td", 10L))
    intercept[IllegalArgumentException](
      Relational.sessionTable(attrDf(rows).select("u", "t")
        .withColumn("session_id", org.apache.spark.sql.functions.lit(1L)),
        "u", "t", 10L))
  }

  // The session split writes `__new` and its session index with
  // withColumn, which would silently replace a read column of that name.
  private def sessionEvents = attrDf(Seq[(java.lang.Long, java.lang.Long,
    String)]((1L, 10L, "a"), (1L, 15L, "b"), (1L, 200L, "a"), (2L, 7L, "b")))

  private def assertSplitRefuses(name: String)(run: => Any): Unit = {
    var err: IllegalArgumentException = null
    val jobs = jobsLaunchedBy {
      err = intercept[IllegalArgumentException](run)
    }
    assert(err.getMessage.contains(s"reserved column name '$name'"),
      err.getMessage)
    assert(jobs === 0)
  }

  test("sessionPaths refuses a type column named __sid before any job") {
    assertSplitRefuses("__sid") {
      Relational.sessionPaths(sessionEvents.withColumnRenamed("y", "__sid"),
        "u", "t", "__sid", gapUnits = 100L, k = 5)
    }
  }

  test("transitionMatrix refuses a type column named __new before any job") {
    assertSplitRefuses("__new") {
      Relational.transitionMatrix(sessionEvents.withColumnRenamed("y", "__new"),
        "u", "t", "__new", gapUnits = 100L)
    }
  }

  test("sessionConversion refuses an entity column named __sid before any " +
      "job") {
    assertSplitRefuses("__sid") {
      Relational.sessionConversion(
        sessionEvents.withColumnRenamed("u", "__sid"), "__sid", "t", "y",
        gapUnits = 100L, convType = "b")
    }
  }

  test("sessionTable refuses a time column named __new before any job") {
    assertSplitRefuses("__new") {
      Relational.sessionTable(sessionEvents.withColumnRenamed("t", "__new"),
        "u", "__new", gapUnits = 100L)
    }
  }

  test("sessionFunnel: steps chain only WITHIN a session (the per-user " +
      "funnel over-counts across visits); non-step events hold sessions " +
      "together; guards") {
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      // u1 session 1: full a->b chain
      (1L, 10L, "a"), (1L, 15L, "b"),
      // u1 session 2 (gap > 50): a only — its b landed in session 1
      (1L, 200L, "a"),
      // u2: a, then a NON-step event keeps the session alive, then b
      (2L, 10L, "a"), (2L, 50L, "x"), (2L, 90L, "b"),
      // u3: a and b in DIFFERENT sessions -> session funnel stops at a
      (3L, 10L, "a"), (3L, 300L, "b"),
      (null, 1L, "a"))
    val got = Relational.sessionFunnel(
      attrDf(rows), "u", "t", "y", gapUnits = 50L, steps = Seq("a", "b"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // sessions reaching a: u1s1, u1s2, u2s1, u3s1 = 4; completing a->b:
    // u1s1 and u2s1 = 2 (the per-USER funnel would credit u3 too)
    assert(got === Set((1, "a", 4L), (2, "b", 2L)))
    val user = Relational.funnel(
      attrDf(rows), "u", "y", "t", Seq("a", "b"))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(user(2) === 3L, "per-user funnel counts u3's cross-session b")
    intercept[IllegalArgumentException](Relational.sessionFunnel(
      attrDf(rows), "u", "t", "y", 0L, Seq("a", "b")))
    intercept[IllegalArgumentException](Relational.sessionFunnel(
      attrDf(rows).withColumn("td",
        org.apache.spark.sql.functions.col("t").cast("double")),
      "u", "td", "y", 50L, Seq("a", "b")))
  }

  test("attribution guards: conv-in-touches, empty touches, bad mode, " +
      "non-integral time, reserved names") {
    val df = attrDf(Seq((1L, 1L, "buy")))
    intercept[IllegalArgumentException](
      Relational.attribution(df, "u", "t", "y", "buy", Seq("buy"), 10L))
    intercept[IllegalArgumentException](
      Relational.attribution(df, "u", "t", "y", "buy", Nil, 10L))
    intercept[IllegalArgumentException](
      Relational.attribution(df, "u", "t", "y", "buy", Seq("a"), 10L, "mid"))
    intercept[IllegalArgumentException](
      Relational.attribution(df, "u", "t", "y", "buy", Seq("a"), 0L))
    intercept[IllegalArgumentException](
      Relational.attribution(
        df.withColumn("td", org.apache.spark.sql.functions
          .col("t").cast("double")),
        "u", "td", "y", "buy", Seq("a"), 10L))
    intercept[IllegalArgumentException](
      Relational.attribution(
        df.withColumn("touch_type", org.apache.spark.sql.functions.lit("x")),
        "u", "t", "y", "buy", Seq("a"), 10L))
  }

  test("scd2History matches a pure-Scala model on random change logs and " +
      "is invariant under input partitioning") {
    val rng = new scala.util.Random(7)
    val rows = (for {
      k <- 1L to 20L
      v <- 1L to (5 + rng.nextInt(30)).toLong
      if rng.nextBoolean()
    } yield (java.lang.Long.valueOf(k), java.lang.Long.valueOf(v * 10),
      rng.nextInt(3) match { case 0 => "a"; case 1 => "b"; case _ => null })
    ).toSeq
    val model = rows.groupBy(_._1).flatMap { case (k, obs) =>
      val sorted = obs.sortBy(_._2.longValue)
      val starts = sorted.zipWithIndex.filter { case ((_, _, a), i) =>
        i == 0 || sorted(i - 1)._3 != a }.map(_._1)
      starts.zipWithIndex.map { case ((_, v, a), i) =>
        (k.longValue, a, v.longValue,
          if (i + 1 < starts.size) starts(i + 1)._2.longValue else -1L) }
    }.toSet
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.scd2History(df, Seq("k"), "v", Seq("a"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(run(scdDf(rows)) === model)
    assert(run(scdDf(rows).repartition(13)) === model)
  }
}
