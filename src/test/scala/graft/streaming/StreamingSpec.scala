package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import Streaming.SessionEvent

class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("windowed counts finalize per watermark-closed window") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedCounts(
      in.toDF().toDF("ts", "etype"), "ts", "etype", "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), "click"), (ts(2), "click"), (ts(3), "view"))
      q.processAllAvailable()
      // watermark still inside the first window: nothing finalized yet
      assert(spark.table("wc").count() === 0)
      in.addData((ts(30), "click")) // advances watermark past window [0,10)
      q.processAllAvailable()
      val rows = spark.table("wc")
        .selectExpr("etype", "count").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("windowed distinct sketch: exact in set mode, merged across batches") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, Long)]
    val est = Streaming.windowedDistinctSketch(
      in.toDF().toDF("ts", "user"), "ts", "user", "10 minutes", "5 minutes")
    val q = est.writeStream.format("memory").queryName("wds")
      .outputMode(OutputMode.Complete).start()
    try {
      // users 1..40 across TWO micro-batches with repeats: the per-window
      // sketch state must merge across batches; in set mode the estimate
      // is the exact distinct count
      in.addData((1L to 25L).map(u => (ts(1), u)): _*)
      q.processAllAvailable()
      in.addData((10L to 40L).map(u => (ts(5), u)): _*)
      in.addData(Seq((ts(12), 7L), (ts(13), 7L), (ts(14), 8L)): _*)
      q.processAllAvailable()
      val rows = spark.table("wds")
        .selectExpr("window.start", "n_rows", "n_distinct_est").collect()
        .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows(ts(0)) === ((56L, 40L))) // 25 + 31 rows, 40 distinct
      assert(rows(ts(10)) === ((3L, 2L)))
    } finally q.stop()
  }

  test("streaming decontamination filters blocklisted docs map-side") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val blocklist = Seq("the quick brown fox jumps").toDF("text")
    val in = MemoryStream[(Long, String)]
    val clean = Streaming.streamingDecontaminate(
      in.toDF().toDF("id", "text"), "text", blocklist, "text", n = 3)
    val q = clean.writeStream.format("memory").queryName("decon")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        1L -> "something about The Quick Brown fox appearing here", // hit
        2L -> "a completely unrelated document body",               // clean
        3L -> "")                                                   // clean
      q.processAllAvailable()
      val kept = spark.table("decon").collect().map(_.getLong(0)).toSet
      assert(kept === Set(2L, 3L))
      // the plan is a pure filter: no shuffle, no state store
      val plan = q.lastProgress.sources.length
      assert(plan === 1)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming dedup keeps first arrivals, evicting state by watermark") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    val deduped = Streaming.streamingDedup(
      in.toDF().toDF("ts", "doc"), "ts", Seq("doc"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdd")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), "a"), (ts(2), "a"), (ts(3), "b"))
      q.processAllAvailable()
      // duplicates within the horizon are dropped
      assert(spark.table("sdd").select("doc").collect().map(_.getString(0)).sorted
        === Array("a", "b"))
      in.addData((ts(4), "a"))
      q.processAllAvailable()
      assert(spark.table("sdd").count() === 2) // still deduped
    } finally q.stop()
  }

  test("noisy windowed counts at infinite epsilon equal exact counts") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    val counts = Streaming.noisyWindowedCounts(
      in.toDF().toDF("ts", "etype"), "ts", "etype", "10 minutes", "5 minutes",
      epsilon = Double.PositiveInfinity)
    val q = counts.writeStream.format("memory").queryName("nwc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), "click"), (ts(2), "click"))
      in.addData((ts(40), "view"))
      q.processAllAvailable()
      val rows = spark.table("nwc").selectExpr("etype", "count").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("click" -> 2L))
    } finally q.stop()
  }

  test("noisy windowed counts refuse a non-positive epsilon or sensitivity " +
      "when called") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val events = MemoryStream[(Timestamp, String)].toDF().toDF("ts", "etype")
    def counts(epsilon: Double, sensitivity: Double) = Streaming.noisyWindowedCounts(
      events, "ts", "etype", "10 minutes", "5 minutes", epsilon, sensitivity)
    // epsilon = 0 would build an infinite scale, which fails only on the
    // first micro-batch; sensitivity 0 would release exact counts
    assert(intercept[IllegalArgumentException](counts(0.0, 1.0))
      .getMessage.contains("epsilon"))
    assert(intercept[IllegalArgumentException](counts(1.0, 0.0))
      .getMessage.contains("sensitivity"))
    assert(intercept[IllegalArgumentException](counts(1.0, -1.0))
      .getMessage.contains("sensitivity"))
  }

  test("event-level epsilon: tumbling composes in parallel, sliding by overlap") {
    // tumbling: window == slide, overlap 1
    assert(Streaming.eventLevelEpsilon(0.5, 600000L, 600000L) === 0.5)
    // 10-minute window sliding by 5: every event is in 2 windows
    assert(Streaming.eventLevelEpsilon(0.5, 600000L, 300000L) === 1.0)
    // non-divisible slide rounds the overlap up
    assert(Streaming.eventLevelEpsilon(1.0, 600000L, 400000L) === 2.0)
  }

  test("enforcedBatcher NEVER exceeds the cap: the crossing batch is cut " +
      "to the affordable prefix, deterministically, and the charge lands " +
      "before the write") {
    import graft.budget.Rat
    import org.apache.spark.sql.functions.col
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    // cap 2.5 at eps 1 per window: exactly 2 affordable window releases
    val acct = new Streaming.DpStreamAccountant(
      totalEpsilon = 2.5, perWindowEpsilon = 1.0)
    val written = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val counts = Streaming.noisyWindowedCounts(
      in.toDF().toDF("ts", "etype"), "ts", "etype", "10 minutes", "5 minutes",
      epsilon = Double.PositiveInfinity)
      .select(col("window.start").cast("long").as("wstart"), col("etype"))
    val q = counts.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(acct.enforcedBatcher(Seq("wstart", "etype")) { kept =>
        kept.collect().foreach(r => written.add((r.getLong(0), r.getString(1))))
      })
      .start()
    try {
      // one batch finalizes THREE windows ([0,10) x a, [0,10) x b, [10,20)
      // x c) against an affordable budget of 2: only the two smallest
      // (wstart, etype) rows release, and the spend lands exactly at 2
      in.addData((ts(1), "a"), (ts(2), "b"), (ts(12), "c"), (ts(90), "z"))
      q.processAllAvailable()
      in.addData((ts(200), "late")) // would finalize [90,100) — unaffordable
      q.processAllAvailable()
    } finally if (q.isActive) q.stop()
    import scala.jdk.CollectionConverters._
    assert(written.asScala.toSet === Set((0L, "a"), (0L, "b")),
      s"got ${written.asScala.toSet}")
    assert(acct.spentExact === Rat(2)) // 2 charged, 0.5 remaining < 1
    assert(acct.affordable === 0L)
    assert(!acct.exhausted) // under the cap, yet nothing more affordable
  }

  test("ledger slot protocol: a restart resumes writing at the STALE slot, " +
      "so a torn post-restart write can lose at most ONE charge") {
    import graft.budget.Rat
    val ledger = java.nio.file.Files.createTempDirectory("slotproto")
      .toFile.getAbsolutePath + "/led"
    def slotValue(i: Int): Rat = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$ledger.$i")), "UTF-8").trim
      val Array(n, d) = txt.split("/")
      Rat(BigInt(n), BigInt(d))
    }
    val a = new Streaming.DpStreamAccountant(100.0, 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L).restoreLedger(spark)
    a.charge(1); a.charge(1); a.charge(1) // slots now {3, 2}
    // simulated crash: the lease stays
    val b = new Streaming.DpStreamAccountant(100.0, 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L).restoreLedger(spark)
    assert(b.spentExact === Rat(3))
    b.charge(1)
    // the post-restart write must land on the slot holding 2 (the stale
    // one) — a reset-to-0 toggle would overwrite the newest slot, and a
    // torn write there would roll the durable spend back TWO charges
    assert(Set(slotValue(0), slotValue(1)) === Set(Rat(3), Rat(4)),
      s"got slots ${slotValue(0)} / ${slotValue(1)}")
  }

  test("unlimited budget (totalEpsilon = +Inf): affordable is Long.MaxValue, " +
      "never an exact division by the infinite rational's zero denominator") {
    val acct = new Streaming.DpStreamAccountant(
      totalEpsilon = Double.PositiveInfinity, perWindowEpsilon = 0.5)
    assert(acct.affordable === Long.MaxValue)
    acct.charge(3) // spend moves; the remainder stays infinite
    assert(acct.affordable === Long.MaxValue)
    assert(!acct.exhausted)
    assert(acct.remaining === Double.PositiveInfinity)
  }

  test("stream accountant tracks spend in EXACT rationals, like the batch session") {
    import graft.budget.Rat
    // 0.1 is not exactly representable: double accumulation of 10 x 0.1
    // lands at 0.9999999999999999 and would NOT trip a 1.0 cap; the exact
    // ledger computes released x Rat(0.1) with no drift
    val acct = new Streaming.DpStreamAccountant(
      totalEpsilon = 1.0, perWindowEpsilon = 0.1)
    (1 to 9).foreach(_ => acct.charge(1))
    assert(!acct.exhausted)
    acct.charge(1)
    assert(acct.spentExact === Rat(0.1) * Rat(10)) // exactly, not within eps
    assert(acct.exhausted) // Rat(0.1) * 10 > 1 since Rat(0.1) > 1/10 exactly
    // arbitrary spends: the ledger is exactly released x perWindow, and the
    // comparison against the cap is exact rational ordering
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val eps = rnd.nextDouble() * 0.37
      val a = new Streaming.DpStreamAccountant(10.0, eps)
      var released = 0L
      (1 to 20).foreach { _ =>
        val r = rnd.nextInt(5).toLong
        a.charge(r)
        released += r
      }
      assert(a.spentExact === Rat(eps) * Rat(released))
      assert(a.exhausted === (Rat(eps) * Rat(released) >= Rat(10.0)))
    }
  }

  test("streaming decontamination refuses an unbounded blocklist collect") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val blocklist = Seq(
      "alpha beta gamma delta epsilon", "one two three four five").toDF("text")
    val in = MemoryStream[(Long, String)]
    val err = intercept[IllegalArgumentException] {
      Streaming.streamingDecontaminate(
        in.toDF().toDF("id", "text"), "text", blocklist, "text", n = 3,
        maxBlocklistGrams = 2)
    }
    // the error routes users to the distributed batch path by name
    assert(err.getMessage.contains("Dedup.contaminatedIds"))
  }

  test("streamingFunnel: fixed-state funnel matches the batch funnel on " +
      "an in-order stream, folding correctly across batches") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Long, String, Long)]
    val reach = Streaming.streamingFunnel(
      in.toDF().toDF("user", "etype", "t"), "user", "etype", "t",
      Seq("a", "b", "c"))
    val q = reach.writeStream.format("memory").queryName("sfun")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1, deliberately shuffled within the batch: u1 does a@10;
      // u2 does b@5 then a@8 (wrong order -> stage 1 only)
      in.addData((2L, "b", 5L), (1L, "a", 10L), (2L, "a", 8L))
      q.processAllAvailable()
      // batch 2 (event-time after batch 1): u1 completes b then c;
      // u2 adds b strictly after its a
      in.addData((1L, "c", 30L), (1L, "b", 20L), (2L, "b", 12L))
      q.processAllAvailable()
      // latest state per entity
      val latest = spark.table("sfun").groupBy("entity")
        .agg(org.apache.spark.sql.functions.max("stage").as("stage"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(latest === Map("1" -> 3, "2" -> 2))
      // the batch funnel on the union of both batches agrees
      val all = Seq((2L, "b", 5L), (1L, "a", 10L), (2L, "a", 8L),
        (1L, "c", 30L), (1L, "b", 20L), (2L, "b", 12L))
        .toDF("user", "etype", "t")
      val batch = graft.pipeline.Relational.funnel(
        all, "user", "etype", "t", Seq("a", "b", "c"))
        .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
      assert(batch === Seq(2L, 2L, 1L))
      assert(batch === Seq(
        latest.values.count(_ >= 1).toLong,
        latest.values.count(_ >= 2).toLong,
        latest.values.count(_ >= 3).toLong))
    } finally q.stop()
  }

  test("streamingQuantiles: bounded per-key sketch state folds across " +
      "batches; exact regime equals the rank model of everything streamed") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    def rankQ(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s((math.max(1L, math.ceil(p * s.size).toLong) - 1L).toInt)
    }
    val in = MemoryStream[(String, Double)]
    val rel = Streaming.streamingQuantiles(
      in.toDF().toDF("k", "v"), "k", "v", k = 64, Seq(0.5, 0.9))
    val q = rel.writeStream.format("memory").queryName("sq")
      .outputMode(OutputMode.Update).start()
    try {
      val rnd = new scala.util.Random(17)
      val wave1 = Seq.fill(20)(("a", rnd.nextDouble())) ++
        Seq.fill(15)(("b", rnd.nextDouble() * 5))
      in.addData(wave1: _*)
      q.processAllAvailable()
      val wave2 = Seq.fill(12)(("a", rnd.nextDouble()))
      in.addData(wave2: _*)
      q.processAllAvailable()
      val rows = spark.table("sq").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getSeq[Double](3)))
      // one emission per (key, batch it appeared in)
      assert(rows.count(_._1 == "a") === 2 && rows.count(_._1 == "b") === 1)
      val latest = rows.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      val aAll = (wave1 ++ wave2).collect { case ("a", v) => v }
      val bAll = wave1.collect { case ("b", v) => v }
      // 32 and 15 values, both under k=64: exact regime across the batch
      // split — the state carried wave 1's values into wave 2's fold
      assert(latest("a")._2 === 32L && latest("a")._3 === 0L)
      assert(latest("a")._4 === Seq(0.5, 0.9).map(rankQ(aAll, _)))
      assert(latest("b")._2 === 15L && latest("b")._3 === 0L)
      assert(latest("b")._4 === Seq(0.5, 0.9).map(rankQ(bAll, _)))
    } finally q.stop()
  }

  test("streamingIntervalJoin: clicks enrich with in-window views across " +
      "batches (bounded state); out-of-window and wrong-key pairs drop; " +
      "left_outer releases NULLs once the watermark proves no match") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val views = MemoryStream[(Long, Timestamp, String)]
    val joined = Streaming.streamingIntervalJoin(
      clicks.toDF().toDF("user", "cts", "click_id"),
      views.toDF().toDF("user", "vts", "view_id"),
      Seq("user"), "cts", "vts", "1 minute", "1 minute",
      within = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: views land first (the right side buffers)
      views.addData((1L, ts(5), "v1"), (1L, ts(20), "v2"), (2L, ts(6), "v3"))
      q.processAllAvailable()
      // batch 2: clicks join views within the trailing 10 minutes —
      // u1@12 matches v1@5 (not v2@20, future); u1@35 matches nothing
      // (v2@20 is 15 min old); u2@8 matches v3@6
      clicks.addData((1L, ts(12), "c1"), (1L, ts(35), "c2"), (2L, ts(8), "c3"))
      q.processAllAvailable()
      // watermark far past c2's window: the unmatched left row releases
      views.addData((9L, ts(240), "adv"))
      clicks.addData((9L, ts(240), "adv"))
      q.processAllAvailable()
      views.addData((9L, ts(400), "adv2"))
      clicks.addData((9L, ts(400), "adv2"))
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .select("click_id", "view_id").collect()
        .map(r => (r.getString(0), Option(r.getString(1)).orNull)).toSet
      assert(rows.contains(("c1", "v1")) && rows.contains(("c3", "v3")))
      assert(!rows.contains(("c1", "v2")), "future view must not match")
      assert(rows.contains(("c2", null)),
        s"unmatched click must release NULL after the watermark: $rows")
    } finally q.stop()
  }

  test("streamingMultiTouchAttribution folds across batches and matches " +
      "the batch operator on an in-order stream (all three models); " +
      "over-cap touches refuse loudly") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val all = Seq(
      (1L, 10L, "click"), (1L, 20L, "view"), (1L, 30L, "ad"),
      (2L, 5L, "click"),
      // batch boundary here
      (1L, 40L, "buy"), (2L, 6L, "buy"), (1L, 300L, "buy"))
    for ((model, hl) <- Seq(("linear", 0L), ("position", 0L),
        ("time_decay", 10L))) {
      val in = MemoryStream[(Long, Long, String)]
      val out = Streaming.streamingMultiTouchAttribution(
        in.toDF().toDF("u", "t", "y"), "u", "y", "t", "buy",
        Seq("ad", "click", "view"), 100L, model, hl)
      val name = s"smt_$model"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(all.take(4): _*)
        q.processAllAvailable()
        in.addData(all.drop(4): _*)
        q.processAllAvailable()
        val got = spark.table(name).collect().map(r =>
          (r.getString(0), r.getLong(1), Option(r.getString(2)).orNull,
            if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
        val expect = graft.pipeline.Relational.multiTouchAttribution(
          all.toDF("u", "t", "y"), "u", "t", "y", "buy",
          Seq("ad", "click", "view"), 100L, model, hl)
          .collect().map(r =>
            (r.getLong(0).toString, r.getLong(1),
              Option(r.getString(2)).orNull,
              if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
        assert(got === expect, s"model=$model")
      } finally q.stop()
    }
    // boundary: a touch exactly `lookback` old relative to a tied-time
    // conversion survives the prune (the batch RANGE frame's closed
    // lower edge) — batch split placed to force the prune path
    val inB = MemoryStream[(Long, Long, String)]
    val outB = Streaming.streamingMultiTouchAttribution(
      inB.toDF().toDF("u", "t", "y"), "u", "y", "t", "buy", Seq("click"),
      100L)
    val qB = outB.writeStream.format("memory").queryName("smt_edge")
      .outputMode(OutputMode.Update).start()
    try {
      inB.addData((1L, 0L, "click"), (1L, 100L, "click"))
      qB.processAllAvailable()
      inB.addData((1L, 100L, "buy")) // window [0, 99]: only the t=0 touch
      qB.processAllAvailable()
      val got = spark.table("smt_edge").collect().map(r =>
        (if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
      assert(got === Set((0L, 1.0)),
        s"the exactly-lookback-old touch must survive the prune: $got")
    } finally qB.stop()
    // cap breach fails the query loudly
    val in2 = MemoryStream[(Long, Long, String)]
    val out2 = Streaming.streamingMultiTouchAttribution(
      in2.toDF().toDF("u", "t", "y"), "u", "y", "t", "buy", Seq("click"),
      100L, maxTouchesPerEntity = 2)
    val q2 = out2.writeStream.format("memory").queryName("smt_cap")
      .outputMode(OutputMode.Update).start()
    try {
      in2.addData((1L, 1L, "click"), (1L, 2L, "click"), (1L, 3L, "click"))
      val e = intercept[Exception](q2.processAllAvailable())
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(e).exists(_.contains("maxTouchesPerEntity")))
    } finally q2.stop()
  }

  test("streamingWindowedSketches + cumulativeQuantiles: per-window " +
      "sketches union into exact running to-date quantiles (certificate " +
      "0 under k), no raw-data reprocessing") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    def rankQ(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s((math.max(1L, math.ceil(p * s.size).toLong) - 1L).toInt)
    }
    val rnd = new scala.util.Random(23)
    val in = MemoryStream[(Timestamp, Double)]
    val sk = Streaming.streamingWindowedSketches(
      in.toDF().toDF("ts", "v"), "ts", "v",
      windowDuration = "10 minutes", watermark = "0 seconds", k = 256)
    val q = sk.writeStream.format("memory").queryName("wsk")
      .outputMode(OutputMode.Update).start()
    try {
      // two batches filling two DISJOINT windows: [0,10) then [10,20)
      val wave1 = Seq.fill(30)((ts(1 + rnd.nextInt(8)), rnd.nextDouble()))
      val wave2 = Seq.fill(25)((ts(11 + rnd.nextInt(8)), rnd.nextDouble() * 3))
      in.addData(wave1: _*)
      q.processAllAvailable()
      in.addData(wave2: _*)
      q.processAllAvailable()
      val ps = Seq(0.5, 0.9)
      val got = Streaming.cumulativeQuantiles(spark.table("wsk"), 256, ps)
        .collect().map(r => (r.getTimestamp(1).getTime / 60000,
          r.getInt(2), r.getLong(3), r.getLong(4), r.getSeq[Double](5)))
        .sortBy(_._1)
      // one release per window; each covers everything up to its end
      assert(got.map(w => (w._1, w._2, w._3, w._4)).toSeq ===
        Seq((10L, 1, 30L, 0L), (20L, 2, 55L, 0L)))
      val v1 = wave1.map(_._2)
      val all = (wave1 ++ wave2).map(_._2)
      assert(got(0)._5 === ps.map(rankQ(v1, _)))
      assert(got(1)._5 === ps.map(rankQ(all, _)))
    } finally q.stop()
  }

  test("streamingWindowedDistinct + cumulativeDistinct: exact running " +
      "to-date uniques from window sketches alone, overlap across " +
      "windows deduped by the union") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    val sk = Streaming.streamingWindowedDistinct(
      in.toDF().toDF("ts", "k"), "ts", "k",
      windowDuration = "10 minutes", watermark = "0 seconds", k = 64)
    val q = sk.writeStream.format("memory").queryName("wdk")
      .outputMode(OutputMode.Update).start()
    try {
      // window 1: keys a..f; window 2: d..h (3 repeats, 2 new)
      in.addData(Seq("a", "b", "c", "d", "e", "f", "a", "b")
        .map(k => (ts(2), k)): _*)
      q.processAllAvailable()
      in.addData(Seq("d", "e", "f", "g", "h").map(k => (ts(12), k)): _*)
      q.processAllAvailable()
      val got = Streaming.cumulativeDistinct(spark.table("wdk"), 64)
        .collect().map(r => (r.getTimestamp(1).getTime / 60000,
          r.getInt(2), r.getDouble(3))).sortBy(_._1).toSeq
      // exact regime: 6 uniques through window 1, 8 through window 2
      assert(got === Seq((10L, 1, 6.0), (20L, 2, 8.0)))
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and on timeout") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[SessionEvent]
    val sessions = Streaming.sessionize(in.toDS(), gapMs = 5 * 60000L, "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 2min apart (one session), then 20min silence,
      // then another event -> first session closes on the in-stream gap
      in.addData(SessionEvent(1L, ts(1)), SessionEvent(1L, ts(3)))
      q.processAllAvailable()
      in.addData(SessionEvent(1L, ts(23)))
      q.processAllAvailable()
      in.addData(SessionEvent(2L, ts(60))) // advances watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("sess")
        .selectExpr("userId", "nEvents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows.contains((1L, 2L))) // the 2-event session closed
      assert(rows.contains((1L, 1L))) // the single-event session timed out
    } finally q.stop()
  }

  test("sessionize lowers the session start for a late in-watermark " +
      "event that precedes the open session (batch parity)") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[SessionEvent]
    // generous watermark delay so a 2-minute-earlier event is still live
    val sessions = Streaming.sessionize(in.toDS(), gapMs = 5 * 60000L,
      "30 minutes")
    val name = s"sesslate${System.nanoTime()}"
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(SessionEvent(1L, ts(10)))
      q.processAllAvailable()
      // a LATE event at minute 8 belongs to the same session (gap 2 < 5)
      // and precedes its start — Relational.sessionTable would start it at 8
      in.addData(SessionEvent(1L, ts(8)))
      q.processAllAvailable()
      in.addData(SessionEvent(2L, ts(120))) // close u1's session
      q.processAllAvailable()
      val rows = spark.table(name)
        .selectExpr("userId", "cast(start as long)/60",
          "cast(end as long)/60", "nEvents").collect()
        .map(r => (r.getLong(0), r.getDouble(1).toLong,
          r.getDouble(2).toLong, r.getLong(3))).toSet
      assert(rows.contains((1L, 8L, 10L, 2L)),
        s"session must start at the late event's minute 8, got $rows")
    } finally q.stop()
  }

  test("streamingNearDupClaims refuses non-integral ids and drops null " +
      "ids instead of crashing the encoder mid-stream") {
    val strIds = spark.range(1).selectExpr("'doc-1' AS id",
      "cast('2020-01-01' as timestamp) AS ts", "'text' AS text")
    intercept[IllegalArgumentException] {
      Streaming.streamingNearDupClaims(strIds, "ts", "id", "text",
        watermark = "1 minute")
    }
  }

  test("sliding windows place events in window/slide overlapping frames") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, String)]
    val counts = Streaming.slidingWindowedCounts(
      in.toDF().toDF("ts", "k"), "ts", "k",
      windowDuration = "10 minutes", slideDuration = "5 minutes",
      watermark = "1 minute")
    val q = counts.writeStream.format("memory").queryName("slide")
      .outputMode(OutputMode.Complete).start()
    try {
      def ts(min: Int) = new Timestamp(min * 60000L)
      in.addData((ts(7), "a")) // lands in windows [0,10) and [5,15)
      q.processAllAvailable()
      val rows = spark.table("slide")
        .selectExpr("cast(window.start as long)/60", "k", "count").collect()
        .map(r => (r.getDouble(0).toLong, r.getString(1), r.getLong(2))).toSet
      assert(rows === Set((0L, "a", 1L), (5L, "a", 1L)))
      // the event-level epsilon composition doubles for overlap factor 2
      assert(Streaming.eventLevelEpsilon(perWindowEpsilon = 0.5,
        windowMs = 600000L, slideMs = 300000L) === 1.0)
      assert(Streaming.eventLevelEpsilon(perWindowEpsilon = 0.5,
        windowMs = 600000L, slideMs = 600000L) === 0.5)
    } finally q.stop()
  }

  test("streaming near-dup claims: min-id representative survives, twins drop") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " other words"
    val unrelated = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val in = MemoryStream[(Long, Timestamp, String)]
    val claims = Streaming.streamingNearDupClaims(
      in.toDF().toDF("id", "ts", "text"), "ts", "id", "text",
      watermark = "10 minutes", numHashes = 64, bands = 16)
    val q = claims.writeStream.format("memory").queryName("ndc")
      .outputMode(OutputMode.Append).start()
    try {
      // one batch of mutual near-dups + one unrelated doc: min-id
      // arbitration must keep exactly doc 1 and doc 3
      in.addData((1L, ts(1), base), (2L, ts(2), nearDup), (3L, ts(3), unrelated))
      q.processAllAvailable()
      val novel = Streaming.noveltyFromClaims(spark.table("ndc"), bands = 16)
        .collect().map(_.getLong(0)).toSet
      assert(novel.contains(1L) && novel.contains(3L))
      assert(!novel.contains(2L), "the near-dup twin must lose >= 1 bucket")
      // a later exact copy of doc 1 inside the horizon loses EVERY bucket
      in.addData((7L, ts(4), base))
      q.processAllAvailable()
      val c7 = spark.table("ndc").filter("docId = 7")
      assert(c7.count() === 16L)
      assert(c7.filter("survived").count() === 0L)
      // state is bucket-keyed: rows tracked == distinct claimed buckets
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("near-dup bucket state expires past the watermark horizon") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val text = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val in = MemoryStream[(Long, Timestamp, String)]
    val claims = Streaming.streamingNearDupClaims(
      in.toDF().toDF("id", "ts", "text"), "ts", "id", "text",
      watermark = "5 minutes", numHashes = 64, bands = 16)
    val q = claims.writeStream.format("memory").queryName("ndexp")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, ts(1), text))
      q.processAllAvailable()
      // push the watermark far past doc 1's horizon, expiring its buckets
      in.addData((2L, ts(120), (1 to 40).map(i => s"beta$i").mkString(" ")))
      q.processAllAvailable()
      // an exact copy of doc 1 arriving AFTER expiry claims fresh buckets
      in.addData((9L, ts(121), text))
      q.processAllAvailable()
      val novel = Streaming.noveltyFromClaims(spark.table("ndexp"), bands = 16)
        .collect().map(_.getLong(0)).toSet
      assert(novel === Set(1L, 2L, 9L),
        "the expired twin must read as novel again")
    } finally q.stop()
  }

  test("streamingAttribution: single-batch release matches the batch " +
      "attribution; cross-batch state carries the latest touch; " +
      "late touches under-attribute, never mis-attribute") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Long, String, Long)]
    val credits = Streaming.streamingAttribution(
      in.toDF().toDF("user", "etype", "t"), "user", "etype", "t",
      convType = "buy", touchTypes = Seq("click", "view"), lookback = 100L)
    val q = credits.writeStream.format("memory").queryName("sattr")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1, shuffled within the batch: u1 click@10 view@20 buy@25
      // (last touch = view@20); u1 buy@300 (touches too old);
      // u2 buy@5 (no touch yet)
      in.addData((1L, "buy", 25L), (1L, "view", 20L), (1L, "click", 10L),
        (1L, "buy", 300L), (2L, "buy", 5L))
      q.processAllAvailable()
      // batch 2: u2's click@6 arrives AFTER its buy@5 was released —
      // no retro-credit; u2 buy@50 credits the carried click@6 from
      // THIS batch; u1 buy@310 credits the view@20? no — outside 100;
      // u1 view@305 then buy@310 credits view@305 (state carried)
      in.addData((2L, "click", 6L), (2L, "buy", 50L),
        (1L, "view", 305L), (1L, "buy", 310L))
      q.processAllAvailable()
      val got = spark.table("sattr").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getString(2)).orNull,
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(got === Set(
        ("1", 25L, "view", 20L), ("1", 300L, null, -1L),
        ("2", 5L, null, -1L),
        ("2", 50L, "click", 6L), ("1", 310L, "view", 305L)))
      // the batch operator on batch 1 alone agrees with the single-batch
      // slice of the stream (the oracled AvailableNow regime)
      val all = Seq((1L, "buy", 25L), (1L, "view", 20L), (1L, "click", 10L),
        (1L, "buy", 300L), (2L, "buy", 5L)).toDF("user", "etype", "t")
      val batch = graft.pipeline.Relational.attribution(
        all, "user", "t", "etype", "buy", Seq("click", "view"), 100L)
        .collect().map(r => (r.getLong(0).toString, r.getLong(1),
          Option(r.getString(2)).orNull,
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(batch === Set(
        ("1", 25L, "view", 20L), ("1", 300L, null, -1L),
        ("2", 5L, null, -1L)))
    } finally q.stop()
  }

  test("streaming drift: per-window L1 ppm vs the reference config, " +
      "windows finalize on watermark") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, Double)]
    // reference: uniform thirds over 3 bins (edges 10, 20)
    val drift = Streaming.streamingDrift(
      in.toDF().toDF("ts", "v"), "ts", "v",
      edges = Seq(10.0, 20.0), refPpm = Seq(333333L, 333333L, 333333L),
      windowDuration = "10 minutes", watermark = "5 minutes")
    val q = drift.writeStream.format("memory").queryName("sdrift")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,10): values 5, 15, 15, 25 -> bins 1/2/1, n=4
      in.addData((ts(1), 5.0), (ts(2), 15.0), (ts(3), 15.0), (ts(4), 25.0))
      q.processAllAvailable()
      assert(spark.table("sdrift").count() === 0) // not finalized yet
      in.addData((ts(30), 5.0)) // watermark passes [0,10)
      q.processAllAvailable()
      val r = spark.table("sdrift").collect().head
      assert(r.getLong(1) === 4L) // n_rows
      assert(r.getSeq[Long](2) === Seq(1L, 2L, 1L))
      // cur ppm 250000/500000/250000 vs 333333 each:
      // |−83333| + |166667| + |−83333| = 333333
      assert(r.getLong(3) === 333333L)
      assert(r.getLong(4) === 1L)      // worst bin
      assert(r.getLong(5) === 166667L) // signed gap
    } finally q.stop()
  }

  test("streaming drift: empty-reference bins and a one-sided window") {
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = sqlCtx
    val in = MemoryStream[(Timestamp, Double)]
    val drift = Streaming.streamingDrift(
      in.toDF().toDF("ts", "v"), "ts", "v",
      edges = Seq(10.0), refPpm = Seq(1000000L, 0L),
      windowDuration = "10 minutes", watermark = "0 minutes")
    val q = drift.writeStream.format("memory").queryName("sdrift2")
      .outputMode(OutputMode.Append).start()
    try {
      // everything lands in the bin the reference says is EMPTY
      in.addData((ts(1), 50.0), (ts(2), 60.0))
      in.addData((ts(30), 5.0))
      q.processAllAvailable()
      val r = spark.table("sdrift2").collect()
        .map(x => x.getLong(1) -> ((x.getLong(3), x.getLong(4),
          x.getLong(5)))).toMap
      // full mass displacement: L1 = 2e6, worst bin 0 with -1e6
      assert(r(2L) === ((2000000L, 0L, -1000000L)))
    } finally q.stop()
  }
}
