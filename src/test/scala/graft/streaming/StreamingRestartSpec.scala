package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Restart semantics: the streaming operators must compose with Spark's
  * checkpointed exactly-once contract — a query that stops and restarts
  * from its checkpoint picks up NEW input only, re-emits nothing, and its
  * accumulated output matches the batch equivalent over all input. This is
  * the property a 100 TB ingest pipeline leans on: crashes and deploys
  * restart the query, not the corpus.
  */
class StreamingRestartSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("windowed counts resume from checkpoint: new windows only, no re-emits") {
    val root = Files.createTempDirectory("restart").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("etype", StringType)))

    def writeWave(rows: Seq[(Timestamp, String)], file: String): Unit =
      makeDf(schema, rows.map { case (t, e) => org.apache.spark.sql.Row(t, e) })
        .coalesce(1).write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val counts = Streaming.windowedCounts(stream, "ts", "etype",
        "10 minutes", "5 minutes")
        .select(col("window.start").as("wstart"), col("etype"), col("count"))
      val q = counts.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // wave 1: events in window [0,10) plus a watermark-advancer at minute 30
    writeWave(Seq(ts(1) -> "click", ts(2) -> "click", ts(3) -> "view",
      ts(30) -> "late_window_opener"), "w1")
    runOnce()
    val after1 = spark.read.parquet(outDir)
      .select("wstart", "etype", "count").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
      .toSet
    assert(after1 === Set((0L, "click", 2L), (0L, "view", 1L)),
      s"first run must emit exactly the closed [0,10) window, got $after1")

    // wave 2: more rows for the STILL-OPEN [30,40) window plus an advancer
    // that closes it; the restart must emit [30,40) once and re-emit nothing
    writeWave(Seq(ts(31) -> "click", ts(70) -> "closer"), "w2")
    runOnce()
    val after2 = spark.read.parquet(outDir)
      .select("wstart", "etype", "count").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
    assert(after2.length === after2.toSet.size, "restart re-emitted a window")
    assert(after2.toSet === Set(
      (0L, "click", 2L), (0L, "view", 1L),
      (30L, "late_window_opener", 1L), (30L, "click", 1L)),
      s"accumulated output must match the batch equivalent, got ${after2.toSet}")
  }

  test("streamingFunnel state survives a restart: stage times recovered " +
      "from the checkpoint, new events fold onto them") {
    val root = Files.createTempDirectory("funnelrestart").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("etype", StringType),
      StructField("t", LongType)))

    def writeWave(rows: Seq[(Long, String, Long)]): Unit =
      makeDf(schema, rows.map { case (u, e, t) =>
        org.apache.spark.sql.Row(u, e, t) })
        .coalesce(1).write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val reach = Streaming.streamingFunnel(
        stream, "user", "etype", "t", Seq("a", "b", "c"))
      val q = reach.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // wave 1: u1 completes step a only
    writeWave(Seq((1L, "a", 10L)))
    runOnce()
    // wave 2: b and c arrive AFTER the restart — only the recovered
    // stage-a time at t=10 lets them chain to stage 3
    writeWave(Seq((1L, "b", 20L), (1L, "c", 30L)))
    runOnce()
    val emits = spark.read.parquet(outDir)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // one emit per run for u1; the second proves the state carried
    assert(emits.sorted.toSeq === Seq(("1", 1), ("1", 3)),
      s"expected stage 1 then stage 3, got ${emits.toSeq}")
  }

  test("streamingFunnel entityTtlMs expires idle state: one final " +
      "emission at the last known stage, then the funnel restarts from " +
      "zero (the documented under-count direction)") {
    val root = Files.createTempDirectory("funnelttl").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("etype", StringType),
      StructField("t", LongType)))

    def writeWave(rows: Seq[(Long, String, Long)]): Unit =
      makeDf(schema, rows.map { case (u, e, t) =>
        org.apache.spark.sql.Row(u, e, t) })
        .coalesce(1).write.mode("append").parquet(inDir)

    def readEmits(): Seq[(String, Int)] =
      try spark.read.parquet(outDir)
        .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      catch { case _: Throwable => Nil } // no batch has written yet

    // a RECURRING trigger, per the TTL contract: processing-time
    // timeouts mark every batch as "should run another", so AvailableNow
    // would never settle — the empty periodic batches are exactly what
    // fires expirations
    writeWave(Seq((1L, "a", 10L)))
    val stream = spark.readStream.schema(schema).parquet(inDir)
    val reach = Streaming.streamingFunnel(
      stream, "user", "etype", "t", Seq("a", "b", "c"),
      entityTtlMs = Some(1L))
    val q = reach.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    // poll the sink only: under processing-time timeouts the stream
    // schedules batches forever, so processAllAvailable/awaitTermination
    // never settle — progress is observed through emissions
    def pollUntil(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what; emits=${readEmits()}")
    }
    try {
      // wave 1 folds: (1, 1) emitted, TTL armed; then the 1 ms TTL lapses
      // and a later empty batch fires the timeout, re-emitting the last
      // known stage exactly once (state is removed with the emission)
      pollUntil("the expiry re-emission") {
        readEmits() == Seq(("1", 1), ("1", 1))
      }
      // after expiry the state is GONE: b cannot chain onto the dropped
      // stage-a time, so u1 restarts from zero — the under-count direction
      writeWave(Seq((1L, "b", 50L)))
      // contains, not equals: the re-created stage-0 state can itself
      // expire and re-emit (1, 0) before this read
      pollUntil("a from-zero restart emission") {
        readEmits().contains(("1", 0))
      }
    } finally q.stop()
  }

  test("streamingFunnel eventTimeTtl expires on the WATERMARK clock: " +
      "replay-invariant (AvailableNow backfill settles, expiry driven " +
      "entirely by event times, wall-clock speed irrelevant)") {
    val root = Files.createTempDirectory("funneletttl").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("etype", StringType),
      StructField("t", LongType), StructField("ts", TimestampType)))

    def writeWave(rows: Seq[(Long, String, Long, Timestamp)]): Unit =
      makeDf(schema, rows.map { case (u, e, t, w) =>
        org.apache.spark.sql.Row(u, e, t, w) })
        .coalesce(1).write.mode("append").parquet(inDir)

    // run-to-completion trigger: exactly what processing-time TTL cannot
    // support and watermark TTL must — each run settles once the
    // watermark-driven timeouts have fired
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val reach = Streaming.streamingFunnel(
        stream, "user", "etype", "t", Seq("a", "b", "c"),
        eventTimeTtl = Some(Streaming.EventTimeTtl(
          "ts", "0 seconds", ttlMs = 10 * 60000L)))
      val q = reach.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emits(): Seq[(String, Int)] =
      spark.read.parquet(outDir)
        .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq

    // wave 1: u1 reaches stage a at event-time minute 1 -> TTL armed for
    // minute 11 on the EVENT clock
    writeWave(Seq((1L, "a", 10L, ts(1))))
    runOnce()
    assert(emits() === Seq(("1", 1)))
    // wave 2 (a later backfill run): an unrelated event at minute 40
    // advances the watermark past u1's minute-11 deadline; the SAME run
    // fires the expiry in its follow-up batch (one final (1, 1)
    // re-emission) and settles — no wall-clock waiting, no recurring
    // trigger
    writeWave(Seq((2L, "a", 100L, ts(40))))
    runOnce()
    assert(emits() === Seq(("1", 1), ("1", 1), ("2", 1)),
      "the watermark passing newest-event+TTL must fire exactly one " +
        "final re-emission within the AvailableNow run")
    // wave 3: u1's b cannot chain onto the expired stage-a time — the
    // funnel restarts from zero, the documented under-count direction
    writeWave(Seq((1L, "b", 200L, ts(41))))
    runOnce()
    assert(emits() === Seq(("1", 0), ("1", 1), ("1", 1), ("2", 1)))
  }

  test("streamingMultiTouchAttribution state survives a restart: the " +
      "touch buffer recovered from the checkpoint credits a conversion " +
      "arriving after the restart, identically to the batch operator") {
    val root = Files.createTempDirectory("mtrestart").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("etype", StringType),
      StructField("t", LongType)))

    def writeWave(rows: Seq[(Long, String, Long)]): Unit =
      makeDf(schema, rows.map { case (u, e, t) =>
        org.apache.spark.sql.Row(u, e, t) })
        .coalesce(1).write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val credits = Streaming.streamingMultiTouchAttribution(
        stream, "user", "etype", "t", "buy", Seq("ad", "click", "view"),
        lookback = 100L, model = "time_decay", halfLife = 10L)
      val q = credits.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // touches land before the restart, the conversion after it: only the
    // checkpointed buffer can explain correct multi-touch credits
    val touches = Seq((1L, "click", 10L), (1L, "view", 20L), (1L, "ad", 30L))
    writeWave(touches)
    runOnce()
    writeWave(Seq((1L, "buy", 40L)))
    runOnce()
    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    // identical to the batch operator over the union
    val expect = graft.pipeline.Relational.multiTouchAttribution(
      makeDf(schema, (touches :+ ((1L, "buy", 40L))).map { case (u, e, t) =>
        org.apache.spark.sql.Row(u, e, t) }),
      "user", "t", "etype", "buy", Seq("ad", "click", "view"), 100L,
      "time_decay", 10L)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got === expect && got.size === 3,
      s"restart must recover the touch buffer: got $got expected $expect")
  }

  test("streamingMultiTouchAttribution expiry: entityTtlMs and " +
      "eventTimeTtl each drop an idle entity's touch buffer, so its next " +
      "in-lookback conversion is UNattributed (never MISattributed)") {
    type Credit = (String, Long, String)
    def credits(dir: String): Set[Credit] =
      try spark.read.parquet(dir).collect().map(r => (r.getString(0),
        r.getLong(1), if (r.isNullAt(2)) null else r.getString(2))).toSet
      catch { case _: Throwable => Set.empty } // no batch has written yet
    def sinkTo(dir: String) =
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(dir)

    // processing-time clock: a 1 ms TTL on a recurring trigger. The empty
    // batches that follow the touch fire its timeout; the conversion then
    // finds no buffer even though the touch is inside the lookback
    locally {
      val root = Files.createTempDirectory("mtttl").toFile.getAbsolutePath
      val schema = StructType(Seq(
        StructField("user", LongType), StructField("etype", StringType),
        StructField("t", LongType)))
      def writeWave(rows: Seq[(Long, String, Long)]): Unit =
        makeDf(schema, rows.map { case (u, e, t) =>
          org.apache.spark.sql.Row(u, e, t) })
          .coalesce(1).write.mode("append").parquet(s"$root/in")
      writeWave(Seq((1L, "click", 10L)))
      val out = Streaming.streamingMultiTouchAttribution(
        spark.readStream.schema(schema).parquet(s"$root/in"),
        "user", "etype", "t", "buy", Seq("click"), lookback = 100L,
        entityTtlMs = Some(1L))
      val q = out.writeStream.foreachBatch(sinkTo(s"$root/out"))
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("update")
        .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
      def pollUntil(what: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(cond, s"timed out waiting for $what")
      }
      try {
        // the touch batch has run, then at least three empty batches
        // after it (each one fires timeouts past the 1 ms TTL)
        pollUntil("the touch batch") {
          q.recentProgress.exists(_.numInputRows > 0)
        }
        val touchBatch =
          q.recentProgress.find(_.numInputRows > 0).get.batchId
        pollUntil("three idle batches after the touch") {
          q.lastProgress.batchId >= touchBatch + 3
        }
        writeWave(Seq((1L, "buy", 50L)))
        pollUntil("the conversion") { credits(s"$root/out").nonEmpty }
        assert(credits(s"$root/out") === Set(("1", 50L, null)))
      } finally q.stop()
    }

    // watermark clock: an unrelated entity's event at minute 40 moves the
    // watermark past user 1's minute-1 touch plus the 10-minute TTL, so a
    // backfill run drops the buffer with no wall-clock waiting
    locally {
      val root = Files.createTempDirectory("mtetttl").toFile.getAbsolutePath
      val schema = StructType(Seq(
        StructField("user", LongType), StructField("etype", StringType),
        StructField("t", LongType), StructField("ts", TimestampType)))
      def writeWave(rows: Seq[(Long, String, Long, Timestamp)]): Unit =
        makeDf(schema, rows.map { case (u, e, t, w) =>
          org.apache.spark.sql.Row(u, e, t, w) })
          .coalesce(1).write.mode("append").parquet(s"$root/in")
      def runOnce(): Unit = {
        val out = Streaming.streamingMultiTouchAttribution(
          spark.readStream.schema(schema).parquet(s"$root/in"),
          "user", "etype", "t", "buy", Seq("click"), lookback = 100L,
          eventTimeTtl = Some(Streaming.EventTimeTtl(
            "ts", "0 seconds", ttlMs = 10 * 60000L)))
        out.writeStream.foreachBatch(sinkTo(s"$root/out"))
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
      writeWave(Seq((1L, "click", 10L, ts(1))))
      runOnce()
      writeWave(Seq((2L, "click", 20L, ts(40))))
      runOnce()
      // within the lookback (t = 50, touch t = 10): only expiry explains
      // the missing credit
      writeWave(Seq((1L, "buy", 50L, ts(41))))
      runOnce()
      assert(credits(s"$root/out") === Set(("1", 50L, null)))
    }
  }

  test("streamingIntervalJoin resumes from checkpoint: buffered right " +
      "rows survive the restart, matches arrive once, nothing re-emits") {
    val root = Files.createTempDirectory("ssjrestart").toFile.getAbsolutePath
    val inL = s"$root/l"
    val inR = s"$root/r"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("ts", TimestampType),
      StructField("eid", StringType)))

    def write(dir: String, rows: Seq[(Long, Timestamp, String)]): Unit =
      makeDf(schema, rows.map { case (u, t, e) =>
        org.apache.spark.sql.Row(u, t, e) })
        .coalesce(1).write.mode("append").parquet(dir)

    def runOnce(): Unit = {
      val l = spark.readStream.schema(schema).parquet(inL)
        .withColumnRenamed("ts", "cts").withColumnRenamed("eid", "click_id")
      val r = spark.readStream.schema(schema).parquet(inR)
        .withColumnRenamed("ts", "vts").withColumnRenamed("eid", "view_id")
      val joined = Streaming.streamingIntervalJoin(
        l, r, Seq("user"), "cts", "vts", "1 minute", "1 minute",
        within = "10 minutes")
      val q = joined.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // run 1: a view buffers with no click yet
    write(inR, Seq((1L, ts(5), "v1")))
    write(inL, Seq((2L, ts(5), "c0"))) // unrelated user, no match
    runOnce()
    // run 2 (fresh query from the checkpoint): the click arrives and must
    // find the view buffered in run 1's state
    write(inL, Seq((1L, ts(12), "c1")))
    runOnce()
    // run 3: nothing new — nothing may re-emit
    runOnce()
    val rows = spark.read.parquet(outDir)
      .select("click_id", "view_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows === Seq(("c1", "v1")),
      s"exactly one match, surviving the restart, no re-emits: $rows")
  }

  test("streamingAttribution eventTimeTtl: a touch whose entity expired " +
      "on the watermark clock is gone — the next conversion is " +
      "UNattributed (never MISattributed), under AvailableNow backfill") {
    val root = Files.createTempDirectory("attretttl").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("etype", StringType),
      StructField("t", LongType), StructField("ts", TimestampType)))

    def writeWave(rows: Seq[(Long, String, Long, Timestamp)]): Unit =
      makeDf(schema, rows.map { case (u, e, t, w) =>
        org.apache.spark.sql.Row(u, e, t, w) })
        .coalesce(1).write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val credits = Streaming.streamingAttribution(
        stream, "user", "etype", "t", "buy", Seq("click"), lookback = 100L,
        eventTimeTtl = Some(Streaming.EventTimeTtl(
          "ts", "0 seconds", ttlMs = 10 * 60000L)))
      val q = credits.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // touch at event-time minute 1; watermark advanced to minute 40 by an
    // unrelated entity in a later run -> the pending touch expires
    writeWave(Seq((1L, "click", 10L, ts(1))))
    runOnce()
    writeWave(Seq((2L, "click", 20L, ts(40))))
    runOnce()
    // u1 converts within the LOOKBACK (t=50, touch t=10, lookback 100):
    // only the TTL expiry can explain a missed credit
    writeWave(Seq((1L, "buy", 50L, ts(41))))
    runOnce()
    val rows = spark.read.parquet(outDir)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(rows === Set(("1", 50L, null)),
      s"the expired touch must yield an unattributed conversion, got $rows")
  }

  test("streamingAttribution eventTimeTtl backfill parity: one " +
      "AvailableNow replay of a DISORDERED multi-file history, chunked " +
      "into per-file micro-batches, matches the batch attribution") {
    // The motivating event-time-TTL scenario: replaying months of
    // historical files through the stateful operator must credit exactly
    // what the batch operator credits — expiry rides the WATERMARK clock,
    // so a backfill (however fast it runs) expires nothing a live run
    // would have kept. Rows are scrambled WITHIN each file (the operator
    // sorts each entity's batch slice); files arrive in chronological
    // order (the realistic daily-file backfill), each as its own
    // micro-batch via maxFilesPerTrigger=1 so state genuinely carries
    // across batches.
    val root = Files.createTempDirectory("attrparity").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val schema = StructType(Seq(
      StructField("user", LongType), StructField("etype", StringType),
      StructField("t", LongType), StructField("ts", TimestampType)))
    var waveNo = 0
    val seenFiles = scala.collection.mutable.Set.empty[String]
    def writeWave(rows: Seq[(Long, String, Long, Timestamp)]): Unit = {
      makeDf(schema, rows.map { case (u, e, t, w) =>
        org.apache.spark.sql.Row(u, e, t, w) })
        .coalesce(1).write.mode("append").parquet(inDir)
      // pin this wave's file mtimes explicitly: FileStreamSource orders
      // unread files by modification time, and coarse-granularity
      // filesystems (1 s overlays) could otherwise tie the waves and
      // replay them out of order
      waveNo += 1
      val base = 1600000000000L + waveNo * 60000L
      new java.io.File(inDir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !seenFiles.contains(f.getName))
        .foreach { f => seenFiles += f.getName; f.setLastModified(base) }
    }
    // day 1, scrambled: u1 converts after its click; u2's touch waits;
    // u3 converts with no touch at all
    val day1 = Seq(
      (1L, "buy", 20L, ts(2)), (3L, "buy", 50L, ts(5)),
      (1L, "click", 10L, ts(1)), (2L, "view", 30L, ts(3)))
    // day 2, scrambled: u2 converts on the touch carried from day 1;
    // u1 converts on a fresh view (the day-1 click is outside lookback)
    val day2 = Seq(
      (1L, "buy", 150L, ts(15)), (2L, "buy", 80L, ts(8)),
      (1L, "view", 100L, ts(10)))
    // day 3, scrambled: conversion row written before its own touch row
    val day3 = Seq(
      (4L, "buy", 290L, ts(29)), (4L, "click", 200L, ts(20)))
    writeWave(day1); writeWave(day2); writeWave(day3)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val credits = Streaming.streamingAttribution(
      stream, "user", "etype", "t", "buy", Seq("click", "view"),
      lookback = 100L,
      eventTimeTtl = Some(Streaming.EventTimeTtl(
        "ts", "0 seconds", ttlMs = 60 * 60000L)))
    val q = credits.writeStream.format("memory").queryName("attrparity")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("attrparity").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val batch = graft.pipeline.Relational.attribution(
      makeDf(schema, (day1 ++ day2 ++ day3).map { case (u, e, t, w) =>
        org.apache.spark.sql.Row(u, e, t, w) }),
      "user", "t", "etype", "buy", Seq("click", "view"), lookback = 100L)
      .collect().map(r => (r.getLong(0).toString, r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(streamed === batch,
      s"replayed credits must equal the batch release:\n" +
        s"stream: $streamed\nbatch:  $batch")
    assert(batch === Set(
      ("1", 20L, "click", 10L), ("3", 50L, null, -1L),
      ("2", 80L, "view", 30L), ("1", 150L, "view", 100L),
      ("4", 290L, "click", 200L)))
  }

  test("DP ledger survives a restart: spend restored exactly, an exhausted " +
      "stream refuses to release again") {
    import graft.budget.Rat
    val root = Files.createTempDirectory("dpledger").toFile.getAbsolutePath
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val ledger = s"$root/dp_ledger"
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("etype", StringType)))

    def writeWave(rows: Seq[(Timestamp, String)]): Unit =
      makeDf(schema, rows.map { case (t, e) => org.apache.spark.sql.Row(t, e) })
        .coalesce(1).write.mode("append").parquet(inDir)

    def runOnce(acct: Streaming.DpStreamAccountant): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val counts = Streaming.noisyWindowedCounts(
        stream, "ts", "etype", "10 minutes", "5 minutes",
        epsilon = Double.PositiveInfinity)
        .select(col("window.start").as("wstart"), col("etype"), col("count"))
      val q = counts.writeStream
        .foreachBatch(acct.enforcedBatcher(Seq("wstart", "etype")) { kept =>
          kept.write.mode("append").parquet(outDir)
        })
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def released(): Set[(Long, String, Long)] =
      spark.read.parquet(outDir).collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
          r.getLong(2))).toSet

    // run 1: one window finalizes ([0,10) x "a") -> spend 1 of 2.
    // leaseTtlMs = 0: each "restart" below simulates a CRASHED driver (the
    // lease is never released), so the successor must see it as stale
    val acctA = new Streaming.DpStreamAccountant(
      totalEpsilon = 2.0, perWindowEpsilon = 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L)
    writeWave(Seq(ts(1) -> "a", ts(2) -> "a", ts(30) -> "z"))
    runOnce(acctA)
    assert(acctA.spentExact === Rat(1))

    // run 2: a FRESH accountant restores spend 1 from the ledger (not 0 —
    // the double-spend hole this ledger closes), then window [30,40)
    // finalizes and exhausts the cap
    val acctB = new Streaming.DpStreamAccountant(
      totalEpsilon = 2.0, perWindowEpsilon = 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L).restoreLedger(spark)
    assert(acctB.spentExact === Rat(1), "restart must restore exact spend")
    assert(!acctB.exhausted)
    writeWave(Seq(ts(31) -> "z", ts(70) -> "w"))
    runOnce(acctB)
    assert(acctB.spentExact === Rat(2))
    assert(acctB.exhausted)

    // run 3: the restarted-exhausted case — restore says the cap is spent,
    // so the batch that finalizes [70,80) releases NOTHING
    val acctC = new Streaming.DpStreamAccountant(
      totalEpsilon = 2.0, perWindowEpsilon = 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L).restoreLedger(spark)
    assert(acctC.spentExact === Rat(2))
    assert(acctC.exhausted)
    writeWave(Seq(ts(71) -> "w", ts(120) -> "v"))
    runOnce(acctC)
    assert(acctC.spentExact === Rat(2))
    // and the two released windows were released exactly once in total
    assert(released() === Set((0L, "a", 2L), (30L, "z", 2L)))
  }

  test("stateful operators version their checkpointed state: a cross-" +
      "version read fails with one graft line naming the remedy, and a " +
      "SAME-version checkpoint restart round-trips the gv tag") {
    // the direct check (every stateful operator calls this with its
    // StateVersions constant on every state read): a decodable but
    // semantically foreign state must not be interpreted
    val e = intercept[IllegalStateException](
      Streaming.checkStateVersion("streamingUpsert", 2, 1))
    assert(e.getMessage.contains("state-schema version 1"))
    assert(e.getMessage.contains("expects 2"))
    assert(e.getMessage.contains("FRESH checkpoint"))
    // same-version restarts keep working (the tag encodes, persists, and
    // decodes cleanly): run streamingUpsert across a checkpoint restart
    val root = Files.createTempDirectory("gvtag").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("op", StringType), StructField("p", StringType)))
    def wave(rows: Seq[(String, Long, String, String)]): Unit =
      makeDf(schema, rows.map { case (k, v, o, p) =>
        org.apache.spark.sql.Row(k, v, o, p) })
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$root/in")
      val up = Streaming.streamingUpsert(stream, "k", "v", "op", "p")
      val q = up.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => emitted.add((r.getString(0), r.getLong(1),
            if (r.isNullAt(3)) null else r.getString(3))))
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    wave(Seq(("a", 1L, "I", "x")))
    runOnce()
    // restart from the checkpoint: the persisted state (gv tag included)
    // must decode and the stale v1 change must still lose to it
    wave(Seq(("a", 2L, "U", "y"), ("a", 1L, "U", "stale")))
    runOnce()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSet === Set(("a", 1L, "x"), ("a", 2L, "y")))
  }

  test("durable ledger admits ONE live accountant: a second refuses at " +
      "wiring, releaseLedgerLease hands over, the fenced-out holder fails " +
      "its next charge") {
    import graft.budget.Rat
    val ledger = Files.createTempDirectory("dplease")
      .toFile.getAbsolutePath + "/led"
    val a = new Streaming.DpStreamAccountant(10.0, 1.0,
      ledgerPath = Some(ledger)).restoreLedger(spark)
    a.charge(1)
    // a holds a fresh lease (default TTL) -> a second accountant on the
    // same path must refuse BEFORE reading or writing any ledger state
    val b = new Streaming.DpStreamAccountant(10.0, 1.0,
      ledgerPath = Some(ledger))
    val ex = intercept[Streaming.LedgerFencedException](b.restoreLedger(spark))
    assert(ex.getMessage.contains("held by another accountant"))
    // clean handover: release, then a successor restores the exact spend
    a.releaseLedgerLease()
    val c = new Streaming.DpStreamAccountant(10.0, 1.0,
      ledgerPath = Some(ledger)).restoreLedger(spark)
    assert(c.spentExact === Rat(1))
    c.charge(1)
    // the old holder lost the lease: its next charge must fail loudly
    // (fencing) instead of interleaving slot writes with c
    intercept[Streaming.LedgerFencedException](a.charge(1))
  }

  test("enforcedBatcher used ALONE (no register/observed) initializes and " +
      "restores the durable ledger: a restart can never over-release") {
    import graft.budget.Rat
    val sqlCtx = spark.sqlContext
    import sqlCtx.implicits._
    val ledger = Files.createTempDirectory("dpledgerfb")
      .toFile.getAbsolutePath + "/led"
    val batch = Seq(1L, 2L, 3L).toDF("wstart")
    def run(acct: Streaming.DpStreamAccountant, id: Long): Set[Long] = {
      val wrote = scala.collection.mutable.ArrayBuffer.empty[Long]
      acct.enforcedBatcher(Seq("wstart")) { kept =>
        wrote ++= kept.collect().map(_.getLong(0))
      }(batch, id)
      wrote.toSet
    }
    // leaseTtlMs = 0: each accountant below simulates a crashed-and-
    // restarted driver, so the predecessor's unreleased lease is stale
    val a = new Streaming.DpStreamAccountant(5.0, 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L)
    assert(run(a, 0L) === Set(1L, 2L, 3L))
    assert(a.spentExact === Rat(3))
    // crash. The successor is wired ONLY through enforcedBatcher — it must
    // restore spend 3 before its first affordability decision (a reset to
    // zero would release all 3 rows here and over-spend the cap of 5)
    val b = new Streaming.DpStreamAccountant(5.0, 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L)
    assert(run(b, 1L) === Set(1L, 2L), "only the affordable prefix")
    assert(b.spentExact === Rat(5))
    // crash again: the cap is spent — nothing affordable, nothing written
    val c = new Streaming.DpStreamAccountant(5.0, 1.0,
      ledgerPath = Some(ledger), leaseTtlMs = 0L)
    assert(run(c, 2L) === Set.empty[Long])
    assert(c.spentExact === Rat(5))
  }
}
