package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.budget.Rat
import graft.exec.{Noise, NoiseMechanism}
import graft.pipeline.Inputs

/** Streaming operators over event tables (`readStream` sources). The
  * reference is batch-only (SURVEY §2.8); these extend the engine to the
  * streaming half of a training-data pipeline: watermarked window
  * aggregation, private (noised) window release, and stateful
  * sessionization via flatMapGroupsWithState.
  *
  * All operators take/return streaming Datasets - callers wire
  * `spark.readStream` in and `.writeStream` out, so sources/sinks stay
  * Spark-native (Kafka, files, Delta...).
  */
object Streaming {

  /** Tumbling-window counts per key with event-time watermarking: late rows
    * beyond `watermark` are dropped, windows finalize once the watermark
    * passes (use OutputMode.Append downstream).
    */
  def windowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("count"))

  /** Tumbling-window DISTINCT cardinality via HLL sketches — streaming
    * aggregation rejects `count(DISTINCT ...)` outright (it cannot hold
    * per-window distinct-value state), so the sketch IS the streaming
    * distinct-count path, not merely the cheap one: per-window state is a
    * fixed 2^lgK-register DataSketches HLL that merges associatively
    * across micro-batches. Releases the window, the exact row count, and
    * the deterministic distinct estimate (no RNG — a pure function of the
    * window's distinct-value set), so q-gate tolerance contracts over it
    * are stable.
    */
  def windowedDistinctSketch(
      events: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermark: String, lgK: Int = 14): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_estimate(hll_sketch_agg(col(valueCol), lgK))
          .as("n_distinct_est"))

  /** Streaming dedup at ingest: drop rows whose `keyCols` were already seen
    * within the watermark horizon. State is bounded — Spark evicts seen-keys
    * state older than the watermark — so this runs indefinitely on an
    * unbounded corpus feed, where a batch `dropDuplicates` would need the
    * full history. Exactly the ingest-side companion of the batch
    * [[graft.pipeline.Dedup.exact]]: the first arrival wins.
    */
  def streamingDedup(
      events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming ingest decontamination: drop arriving documents that share
    * any case-folded word `n`-gram with a blocklist (benchmark suites) —
    * the streaming companion of [[graft.pipeline.Dedup.contaminatedIds]],
    * for pipelines that scrub at ingest rather than in a batch pass. The
    * blocklist's distinct grams (a few MB for benchmark suites) are
    * collected once at plan time and broadcast, so the stream side stays
    * a PURE MAP-SIDE FILTER: no join, no shuffle, no state store — the
    * same resident-set probe the batch operator's broadcast semi-join
    * compiles to, spelled as a filter because a per-batch anti-join over
    * exploded stream grams would need a stream-stream rejoin on id.
    */
  def streamingDecontaminate(
      stream: DataFrame, textCol: String,
      blocklist: DataFrame, blockTextCol: String, n: Int = 8,
      maxBlocklistGrams: Long = 1L << 22): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    val gramsOf = graft.pipeline.Dedup.shingles(lower(col(blockTextCol)), n)
    // the collect is the point (resident-set probe, zero stream-side state),
    // but it must be BOUNDED: fetch cap+1 rows in one job and refuse past
    // the cap instead of OOMing the driver on an unbounded blocklist —
    // mirroring bruteForcePairs' enforced resident bound
    val fetched = blocklist.select(explode(gramsOf).as("__g"))
      .distinct().limit(graft.Limits.toIntBound(maxBlocklistGrams) + 1).collect()
    require(fetched.length <= maxBlocklistGrams,
      s"streamingDecontaminate broadcasts the blocklist's distinct $n-grams " +
        s"to every executor (bound $maxBlocklistGrams grams exceeded); for " +
        "large blocklists scrub in batch with Dedup.contaminatedIds, whose " +
        "anti-join keeps the blocklist distributed")
    val blockGrams = fetched.map(_.getString(0)).toSet
    val bc = stream.sparkSession.sparkContext.broadcast(blockGrams)
    val clean = udf((grams: Seq[String]) =>
      grams == null || !grams.exists(bc.value.contains))
    stream.filter(clean(
      graft.pipeline.Dedup.shingles(lower(col(textCol)), n)))
  }

  /** Privately released windowed counts: geometric noise (scale
    * sensitivity/epsilon) added to each finalized window. Append mode means
    * each window is emitted exactly once after the watermark closes it, so
    * the noise is added once per released statistic - the event-level DP
    * guarantee holds per window with epsilon budget per user-contribution
    * cap `maxRowsPerKey` enforced upstream.
    */
  def noisyWindowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String,
      epsilon: Double, sensitivity: Double = 1.0): DataFrame = {
    val mech = NoiseMechanism.pure(epsilon, sensitivity, 1, integer = true)
    windowedCounts(events, tsCol, keyCol, windowDuration, watermark)
      .withColumn("count", Noise.addLongNoise(col("count"), mech))
  }

  /** Sliding-window counts: like [[windowedCounts]] but each event lands in
    * `windowDuration / slideDuration` overlapping windows.
    */
  def slidingWindowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, slideDuration: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration, slideDuration), col(keyCol))
      .agg(count(lit(1)).as("count"))

  /** Event-level composition across a windowed release stream.
    *
    * Tumbling windows partition events, so releases over different windows
    * compose in PARALLEL: the event-level guarantee of the whole stream is
    * the per-window epsilon. Sliding windows place each event in
    * ceil(window/slide) overlapping windows, composing SEQUENTIALLY across
    * that overlap factor.
    */
  def eventLevelEpsilon(
      perWindowEpsilon: Double, windowMs: Long, slideMs: Long): Double = {
    require(windowMs > 0 && slideMs > 0 && slideMs <= windowMs,
      "slide must be in (0, window]")
    val overlap = (windowMs + slideMs - 1) / slideMs
    perWindowEpsilon * overlap
  }

  /** Thrown when a durable ledger's lease is observed held by ANOTHER
    * accountant — split-brain. Unlike a transient persist failure (which is
    * swallowed with the documented one-charge slack), this must propagate:
    * two accountants interleaving slot writes with independent in-memory
    * spends double-spend the cap without bound.
    */
  final class LedgerFencedException(msg: String)
    extends IllegalStateException(msg)

  object DpStreamAccountant {
    /** Default single-writer lease TTL. A live accountant renews its lease
      * on every charge (per micro-batch); a crashed driver stops renewing,
      * so a restart waits out at most one TTL. 15 minutes comfortably
      * exceeds common trigger intervals while bounding crash-restart
      * downtime; pass a smaller `leaseTtlMs` for fast-failover deployments
      * (at the cost of a tighter bound on how slow triggers may be).
      */
    val DefaultLeaseTtlMs: Long = 15L * 60 * 1000
  }

  /** Driver-side privacy ledger for unbounded release streams under
    * USER-level accounting: a user may contribute to every released window,
    * so window releases compose sequentially and the spend grows without
    * bound — the accountant caps it, mirroring the batch Session's budget
    * tracking for streams.
    *
    * Wire-up: the release sink runs through [[enforcedBatcher]] in
    * `foreachBatch`. Each micro-batch releases only the prefix the
    * remaining budget affords, charged BEFORE it is written — the batch
    * Session's charge-then-release order — so spend never exceeds
    * `totalEpsilon`.
    *
    * RESTART durability: pass `ledgerPath` (conventionally a sibling of the
    * query's checkpointLocation, e.g. `"$ckpt/../dp_ledger"`) and the spend
    * survives crashes and deploys — [[restoreLedger]] (which
    * [[enforcedBatcher]] runs on its first batch) restores the exact
    * rational from the ledger and every charge persists it, so a restarted
    * exhausted query releases nothing. Without a ledgerPath the accountant
    * is in-memory only — fine for tests, a double-spend hole in production.
    *
    * SINGLE WRITER: a durable ledger admits ONE live accountant. A
    * `.lease` file (renewed on every charge, TTL `leaseTtlMs`) makes a
    * second accountant on the same ledgerPath refuse at restore time with
    * [[LedgerFencedException]], and a holder that loses its lease to a
    * post-TTL takeover fails its next charge instead of double-spending.
    * Crash restarts wait out at most one TTL; planned handovers call
    * [[releaseLedgerLease]] first.
    */
  final class DpStreamAccountant(
      val totalEpsilon: Double, val perWindowEpsilon: Double,
      val ledgerPath: Option[String] = None,
      val leaseTtlMs: Long = DpStreamAccountant.DefaultLeaseTtlMs) {

    // EXACT arithmetic, same discipline as the batch Session: every finite
    // double is a rational, so spend is tracked as released x perWindow in
    // Rat — no quantization, no drift, the exhaustion compare is exact.
    // Charges arrive per micro-batch (rare), so a lock suffices.
    private val totalRat = Rat(totalEpsilon)
    private val perWindowRat = Rat(perWindowEpsilon)
    private var spentRat: Rat = Rat.zero
    private val lock = new Object
    @volatile private var hadoopConf: Option[org.apache.hadoop.conf.Configuration] = None

    def spentExact: Rat = lock.synchronized(spentRat)
    def spent: Double = spentExact.toDouble
    def remaining: Double = (totalRat - spentExact).max(Rat.zero).toDouble
    def exhausted: Boolean = spentExact >= totalRat

    /** Record `released` window releases; returns true when the cap is now
      * reached. [[enforcedBatcher]] calls it; a direct caller with a
      * `ledgerPath` runs [[restoreLedger]] first, or nothing persists.
      */
    private[graft] def charge(released: Long): Boolean = lock.synchronized {
      spentRat = spentRat + perWindowRat * Rat(released)
      // a transient ledger-FS outage must not fail the stream: in-memory
      // spend is already updated and still governs every later
      // affordability decision of this run; worst case of a swallowed
      // persist failure is the same one-charge restart slack the slot
      // protocol concedes anyway.
      // EXCEPTION: a fencing violation (another accountant holds the lease)
      // is not an outage — it is split-brain, and it rethrows.
      try persistLocked()
      catch {
        case e: LedgerFencedException => throw e
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] DP ledger persist failed (spend is tracked in " +
              s"memory; a restart may lose this charge): $e")
      }
      spentRat >= totalRat
    }

    // ---- durable ledger ---------------------------------------------------
    // The spend is a monotone rational, so the persistence protocol can be
    // crash-safe without an atomic rename (HDFS rename won't overwrite, and
    // object stores have no rename at all): each write goes to ONE of two
    // alternating slot files, and restore reads BOTH and keeps the larger
    // spend. A crash mid-write corrupts at most the slot being written; the
    // other slot still holds the previous spend, so a restart can lose at
    // most the final in-flight charge and can never reset to zero.
    // Format: one line `num/den` of the exact rational (BigInt decimal).
    private def slotPaths(base: String) =
      Seq(new org.apache.hadoop.fs.Path(base + ".0"),
        new org.apache.hadoop.fs.Path(base + ".1"))
    private var slotToggle = 0

    // ---- single-writer lease --------------------------------------------
    // The two-slot protocol is crash-safe for ONE writer; two accountants
    // on the same ledgerPath (two streams misconfigured to share a ledger,
    // or a not-fully-dead old driver) would each keep an independent
    // in-memory spend and interleave slot writes — combined releases
    // double-spend the cap beyond the documented one-charge slack. The
    // lease closes it: acquire refuses while another accountant's lease is
    // fresher than `leaseTtlMs`; every successful persist re-verifies
    // ownership (fencing) and renews. A crashed holder stops renewing, so
    // a restart succeeds after at most one TTL; a clean handover calls
    // [[releaseLedgerLease]]. Lease file format: `token epochMillis host
    // pid` — token decides, the rest is diagnostics.
    private val leaseToken = java.util.UUID.randomUUID().toString
    private def leasePath(base: String) =
      new org.apache.hadoop.fs.Path(base + ".lease")

    /** One ledger file (a lease or a slot), parsed by `parse`: None when
      * the file is absent, unreadable, or torn (`parse` fails or throws).
      */
    private def readLedgerFile[A](fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path)(parse: String => Option[A]): Option[A] =
      try {
        val in = fs.open(p) // an absent file throws FileNotFoundException
        try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Create or overwrite one ledger file with `line`; failures throw. */
    private def writeLedgerFile(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path, line: String): Unit = {
      val out = fs.create(p, true)
      try out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    private def readLease(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Option[(String, Long, String)] =
      readLedgerFile(fs, p)(_.split("\\s+").toSeq match {
        case tok +: ms +: rest if ms.forall(_.isDigit) && ms.nonEmpty =>
          Some((tok, ms.toLong, rest.mkString(" ")))
        case _ => None // torn lease write: treated as absent
      })

    private def writeLeaseLocked(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Unit = {
      val host =
        try java.net.InetAddress.getLocalHost.getHostName
        catch { case scala.util.control.NonFatal(_) => "unknown" }
      writeLedgerFile(fs, p, s"$leaseToken ${System.currentTimeMillis()} $host " +
        s"${ProcessHandle.current().pid()}\n")
    }

    private def acquireLeaseLocked(
        conf: org.apache.hadoop.conf.Configuration): Unit =
      ledgerPath.foreach { base =>
        val p = leasePath(base)
        val fs = p.getFileSystem(conf)
        readLease(fs, p).foreach { case (tok, ms, who) =>
          val age = System.currentTimeMillis() - ms
          if (tok != leaseToken && age < leaseTtlMs)
            throw new LedgerFencedException(
              s"DP ledger '$base' is held by another accountant " +
                s"($who, lease renewed ${age} ms ago, TTL $leaseTtlMs ms). " +
                "Two accountants sharing a ledger double-spend the budget. " +
                "If the holder crashed, retry after the TTL expires; for a " +
                "clean handover call releaseLedgerLease() on the old " +
                s"accountant, or delete '$p' once the holder is dead.")
        }
        writeLeaseLocked(fs, p)
      }

    /** Fencing check before each slot write: throws if another accountant
      * verifiably took the lease (split-brain — the TTL expired during a
      * long trigger gap and a second accountant acquired). A lease our
      * token owns, an absent lease (operator cleanup), or an unreadable
      * lease is reclaimed — slot restore is monotone, so reclaim can never
      * move spend backwards.
      */
    private def verifyLeaseLocked(fs: org.apache.hadoop.fs.FileSystem,
        base: String): Unit =
      readLease(fs, leasePath(base)).foreach { case (tok, _, who) =>
        if (tok != leaseToken)
          throw new LedgerFencedException(
            s"DP ledger '$base' lease was taken over by another " +
              s"accountant ($who) — this accountant lost ownership and " +
              "must stop charging (its in-memory spend no longer governs " +
              "the ledger)")
      }

    /** Release this accountant's ledger lease for a clean handover (e.g.
      * planned redeploy). Only deletes a lease this accountant owns; safe
      * to call when no ledger is configured or nothing was acquired.
      */
    def releaseLedgerLease(): Unit = lock.synchronized {
      for { base <- ledgerPath; conf <- hadoopConf } try {
        val p = leasePath(base)
        val fs = p.getFileSystem(conf)
        if (readLease(fs, p).exists(_._1 == leaseToken)) fs.delete(p, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

    private def persistLocked(): Unit = for {
      base <- ledgerPath
      conf <- hadoopConf
    } {
      val p = slotPaths(base)(slotToggle)
      val fs = p.getFileSystem(conf)
      verifyLeaseLocked(fs, base)
      writeLedgerFile(fs, p, s"${spentRat.num}/${spentRat.den}\n")
      // advance the toggle only after the write SUCCEEDS: a failed persist
      // must retry the same stale slot. Flipping first would point the next
      // write at the slot holding the newest durable spend, and a crash
      // mid-that-write could tear BOTH recent values — rolling durable
      // spend back more than the documented at-most-one-lost-charge slack.
      slotToggle = 1 - slotToggle
      // renew the lease (best-effort: a failed renewal risks only an
      // early-expiry refusal on OUR next verify, never a double spend)
      try writeLeaseLocked(fs, leasePath(base))
      catch { case scala.util.control.NonFatal(_) => () }
    }

    private def restoreLocked(conf: org.apache.hadoop.conf.Configuration): Unit =
      ledgerPath.foreach { base =>
        // single-writer guard FIRST: refuse before reading any state if
        // another live accountant holds this ledger
        acquireLeaseLocked(conf)
        val fs = new org.apache.hadoop.fs.Path(base + ".0").getFileSystem(conf)
        val slots = slotPaths(base).map(readLedgerFile(fs, _)(_.split("/") match {
          case Array(n, d) => Some(Rat(BigInt(n), BigInt(d)))
          case _ => None // torn slot write
        }))
        val restored = slots.flatten
        if (restored.nonEmpty) {
          val prior = restored.max
          // monotone merge: a restore must never move spend back
          if (prior > spentRat) spentRat = prior
        }
        // point the next write at the STALE slot (the one not holding the
        // max, or the torn/absent one). A reset-to-0 toggle would overwrite
        // the NEWEST slot first: a crash mid-write then rolls the durable
        // spend back TWO charges — below a previously persisted value —
        // breaking the at-most-one-lost-charge invariant.
        slotToggle = (slots(0), slots(1)) match {
          case (Some(a), Some(b)) => if (a >= b) 1 else 0
          case (Some(_), None) => 1
          case _ => 0
        }
      }

    /** Open the durable ledger: take the single-writer lease and restore
      * the persisted spend, before any affordability decision. Runs once
      * per accountant; later calls are no-ops. [[enforcedBatcher]] runs it
      * on its first batch, so a stream wired through it alone needs no
      * call; a caller that [[charge]]s directly runs it first. Throws
      * [[LedgerFencedException]] while another accountant holds the lease.
      */
    def restoreLedger(spark: org.apache.spark.sql.SparkSession): this.type = {
      lock.synchronized {
        if (hadoopConf.isEmpty) {
          val conf = spark.sparkContext.hadoopConfiguration
          hadoopConf = Some(conf)
          restoreLocked(conf)
        }
      }
      this
    }

    /** How many more window releases the remaining budget affords, exactly:
      * floor((total - spent) / perWindow). 0 once exhausted.
      */
    def affordable: Long = lock.synchronized {
      if (perWindowRat.isZero || perWindowRat.isInfinite) Long.MaxValue
      else {
        val rem = totalRat - spentRat
        if (rem <= Rat.zero) 0L
        // an unlimited budget (totalEpsilon = +Inf) affords everything —
        // and must short-circuit BEFORE the exact division, whose
        // denominator multiplies by rem.den = 0 for the infinite rational
        else if (rem.isInfinite) Long.MaxValue
        else {
          // floor of an exact positive rational division, no doubles
          val q = (rem.num * perWindowRat.den) / (rem.den * perWindowRat.num)
          if (q.isValidLong) q.toLong else Long.MaxValue
        }
      }
    }

    /** SYNCHRONOUS, never-exceeding enforcement: wrap the sink in
      * `foreachBatch` with this function and each micro-batch releases
      * only the AFFORDABLE prefix of its rows under the remaining budget,
      * in `orderCols` order (pass the window-start column — the choice of
      * WHICH windows survive a partial batch must be deterministic). The
      * charge lands — and persists to the ledger — BEFORE the write, so a
      * crash between the two wastes budget but can never over-release.
      * Total spend therefore never exceeds `totalEpsilon`, including
      * across restarts when `ledgerPath` is set.
      *
      * Usage:
      * {{{
      * release.writeStream.foreachBatch(
      *   acct.enforcedBatcher(Seq("wstart")) { kept => kept.write... }
      * ).start()
      * }}}
      */
    def enforcedBatcher(orderCols: Seq[String])(write: DataFrame => Unit)
        : (DataFrame, Long) => Unit = {
      require(orderCols.nonEmpty,
        "enforcedBatcher needs deterministic order columns — which windows " +
          "survive a partially-affordable batch must not depend on layout")
      (batch: DataFrame, _: Long) => {
        // without the restore, a ledgerPath accountant would track spend
        // in memory only — a restart would reset it to zero and
        // over-release, violating the never-exceed promise
        restoreLedger(batch.sparkSession)
        val afford = affordable
        if (afford > 0L) {
          // pin: the charge must match what is written, and the pin job
          // counts the rows it charges
          val kept = graft.exec.Materialize(
            batch.orderBy(orderCols.map(col): _*)
              .limit(graft.Limits.toIntBound(math.min(afford, Int.MaxValue))),
            "Streaming.enforcedBatcher")
          if (!kept.isEmpty) {
            // charge-then-write: a crash here wastes, never leaks
            charge(kept.rows)
            write(kept.df)
          }
        } else {
          // nothing affordable: the batch still has to be CONSUMED — the
          // state stores behind it must process and commit (Spark validates
          // per-batch commits), and its windows are thereby permanently
          // suppressed rather than re-emitted. That is the semantics of a
          // spent budget: those releases never happen.
          batch.foreach(_ => ())
        }
      }
    }
  }

  /** Graft state-schema versions, one per stateful operator, embedded as
    * the `gv` field of every checkpointed per-key state and checked on
    * every read. WHY: a semantic revision of a state class that keeps the
    * same Spark shape would otherwise misdecode silently across a restart
    * (and a shape-compatible field reinterpretation is exactly the kind of
    * edit Spark's state-store schema check cannot catch). With the tag, a
    * cross-version restart fails with ONE LINE naming the remedy instead.
    * Shape-INcompatible changes still fail earlier with Spark's own
    * state-store schema error — that layer is Spark's, not ours. Bump the
    * operator's constant whenever its state semantics change.
    */
  private[streaming] object StateVersions {
    val Bucket = 1
    val Funnel = 1
    val Session = 1
    val Kll = 1
    val TouchBuf = 1
    val Touch = 1
    val Upsert = 2 // v2 = round-12 lastTsMs event-time-TTL clock
  }

  private[streaming] def checkStateVersion(
      op: String, expected: Int, got: Int): Unit =
    if (got != expected) throw new IllegalStateException(
      s"graft $op: checkpointed state carries graft state-schema version " +
        s"$got but this build expects $expected — the operator's state " +
        "semantics changed between builds. Restart the query from a FRESH " +
        "checkpoint and backfill-replay the source; resuming would " +
        "misinterpret the old state.")

  final case class BandClaim(docId: Long, survived: Boolean, ts: Timestamp)
  // not private: the state encoder instantiates it in generated code
  final case class BucketState(claimant: Long,
    gv: Int = StateVersions.Bucket)
  // not private: the row encoder instantiates it in generated code
  final case class BandRow(bucket: Long, docId: Long, ts: Timestamp)

  /** Streaming near-duplicate detection at ingest — the MinHash-LSH
    * companion of [[streamingDedup]] (which only catches EXACT key
    * repeats): each arriving document claims its `bands` band buckets, and
    * a bucket already claimed within the watermark horizon flags the
    * arrival as a near-duplicate of the claimant. Output is one row per
    * (document, band) with `survived` = whether the document owns that
    * bucket; reduce with [[noveltyFromClaims]] (a document is novel iff it
    * owns EVERY band — near-dups share >= 1 bucket with their earlier
    * twin at the banding's design probability).
    *
    * Arbitration is deterministic: within one micro-batch the SMALLEST
    * doc id claims a contested bucket (so a batch of mutual near-dups
    * keeps exactly its min-id representative instead of the mutual-kill
    * an arbitrary first-wins would produce); across batches the earlier
    * batch's claimant holds until the watermark expires its state.
    *
    * Scale shape: ONE stateful operator keyed on the 8-byte bucket hash —
    * state per bucket is a single long claimant with an event-time
    * timeout, so state bytes track DISTINCT buckets within the horizon,
    * not stream history; the signature kernel is a map-side projection
    * and the only shuffle is the bucket-keyed exchange into the state
    * store. Document text never reaches the state store.
    */
  def streamingNearDupClaims(
      stream: DataFrame, tsCol: String, idCol: String, textCol: String,
      watermark: String, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3): Dataset[BandClaim] = {
    import graft.pipeline.Dedup
    implicit val rowEnc = Encoders.product[BandRow]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[BandClaim]
    implicit val keyEnc = Encoders.scalaLong
    // string/UUID ids would cast to NULL and crash the encoder mid-stream
    Inputs.integral(stream, "streamingNearDupClaims", "id column", idCol)
    val sig = Dedup.minhashSignatureText(col(textCol), shingleSize, numHashes)
    val banded = stream
      .withWatermark(tsCol, watermark)
      .where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("docId"), col(tsCol).as("ts"),
        posexplode(Dedup.bandHashes(sig, numHashes, bands))
          .as(Seq("bandIdx", "bandHash")))
      // bucket identity folds the band index into the hash so one state
      // key space serves all bands
      .select(xxhash64(col("bandHash"), col("bandIdx")).as("bucket"),
        col("docId"), col("ts"))
      .as[BandRow]
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, BandClaim](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          state.getOption.foreach(s => checkStateVersion(
            "streamingNearDupClaims", StateVersions.Bucket, s.gv))
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector
            val claimant = state.getOption.map(_.claimant)
              .getOrElse(batch.minBy(_.docId).docId)
            if (!state.exists) state.update(BucketState(claimant))
            // hold the bucket for the watermark horizon past its newest
            // claim; the timeout must sit strictly past the watermark
            val maxTs = batch.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1))
            batch.iterator.map(r =>
              BandClaim(r.docId, r.docId == claimant, r.ts))
          }
      }
  }

  /** Batch reduction of [[streamingNearDupClaims]] output (e.g. over the
    * sink table): a document is NOVEL iff it survived on every one of its
    * `bands` claims. One id-keyed agg.
    */
  def noveltyFromClaims(claims: DataFrame, bands: Int): DataFrame =
    claims.groupBy(col("docId").as("doc_id"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("survived"), 1L).otherwise(0L)).as("__s"))
      .filter(col("__n") === bands && col("__s") === bands)
      .select(col("doc_id"))

  /** Running heavy hitters over an unbounded key stream: one row holding
    * the SpaceSaving top-`k` (array of (key, count, error) structs in rank
    * order), refreshed each micro-batch under complete/update output. The
    * aggregation state is ONE sketch of `capacity` counters — fixed bytes
    * forever, where a groupBy-count top-k would grow state with every
    * distinct key the stream ever emits. Partial sketches per task merge
    * associatively before the single final merge, so raw keys never cross
    * the exchange either. Exact (error = 0) while the stream's distinct
    * key count fits the capacity; past it, every reported count is an
    * overestimate within its reported error (see
    * [[graft.exec.SpaceSavingTopK]]).
    */
  def streamingHeavyHitters(
      events: DataFrame, keyCol: String, capacity: Int, k: Int): DataFrame =
    events.agg(graft.exec.SpaceSaving.spaceSavingTopK(
      col(keyCol).cast("string"), capacity, k).as("top"))

  /** Per-window heavy hitters: [[streamingHeavyHitters]]'s sketch inside a
    * tumbling-window streaming aggregation — each window keeps its own
    * `capacity`-counter SpaceSaving state, so the per-window hot-key
    * report costs fixed bytes per OPEN window no matter how many distinct
    * keys the window sees (a per-(window, key) count agg would grow state
    * with the window's key cardinality). Exact below capacity; use
    * complete/update output, or append with the watermark closing windows.
    */
  def windowedHeavyHitters(
      events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String,
      capacity: Int, k: Int): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(graft.exec.SpaceSaving.spaceSavingTopK(
        col(keyCol).cast("string"), capacity, k).as("top"))

  final case class FunnelTimes(times: Seq[Long],
    gv: Int = StateVersions.Funnel)
  final case class FunnelReach(entity: String, stage: Int)

  /** Event-time state TTL for [[streamingFunnel]] / [[streamingAttribution]]:
    * an entity whose newest event (by the REAL timestamp column `tsCol`)
    * is older than `ttlMs` when the watermark reaches it has its state
    * dropped. Expiry depends only on event times and the watermark —
    * REPLAY-INVARIANT: a historical backfill (AvailableNow over old
    * files) expires exactly the entities a live run would have, where a
    * processing-time TTL fires arbitrarily relative to event time
    * (entities expire mid-funnel or not at all depending on machine
    * speed). `tsCol` must be a timestamp column; `watermark` is the
    * delay threshold handed to `withWatermark` (the [[sessionize]]
    * discipline). Mutually exclusive with the processing-time
    * `entityTtlMs` knob.
    */
  final case class EventTimeTtl(tsCol: String, watermark: String, ttlMs: Long)

  /** Shared TTL-knob contract for the stateful per-entity operators
    * (funnel / attribution / multi-touch / upsert): validates the two
    * expiry clocks (positive, mutually exclusive, event-time column
    * present and timestamp-typed) and returns the matching
    * GroupStateTimeout. ONE definition — the four hand-copied versions
    * this replaces had already drifted once (the upsert copy lost the
    * unconditional re-arm, letting active-but-stale entities expire).
    */
  private def ttlTimeoutConf(
      events: DataFrame, entityTtlMs: Option[Long],
      eventTimeTtl: Option[EventTimeTtl]): GroupStateTimeout = {
    entityTtlMs.foreach(t =>
      require(t > 0L, s"entityTtlMs must be positive, got $t"))
    require(entityTtlMs.isEmpty || eventTimeTtl.isEmpty,
      "entityTtlMs (processing-time) and eventTimeTtl (watermark) are " +
        "mutually exclusive — pick one expiry clock")
    eventTimeTtl.foreach { ttl =>
      require(ttl.ttlMs > 0L, s"eventTimeTtl.ttlMs must be positive, " +
        s"got ${ttl.ttlMs}")
      Inputs.present(events, "events side", ttl.tsCol)
      require(events.schema(ttl.tsCol).dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"eventTimeTtl.tsCol must be a timestamp, got " +
          s"${events.schema(ttl.tsCol).dataType.simpleString}")
    }
    if (eventTimeTtl.isDefined) GroupStateTimeout.EventTimeTimeout
    else if (entityTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout
  }

  /** The rest of the per-entity state shell of the same four operators:
    * how the chosen expiry clock shapes their input and re-arms their
    * timeout. One copy each (StreamingShellSourceSpec keeps it so).
    */
  private object EntityTtl {
    /** Rows whose `notNull` columns are set and that pass `filter`,
      * projected to `cols` plus one trailing timestamp. Under
      * `eventTimeTtl` that is the RAW event-time column of the watermarked
      * input (an alias keeps the watermark metadata EventTimeTimeout's
      * analyzer check looks for; a cast would strip it), and rows without
      * one drop; otherwise it is a null literal.
      */
    def input(events: DataFrame, eventTimeTtl: Option[EventTimeTtl],
        notNull: Seq[String], filter: Seq[Column],
        cols: Seq[Column]): DataFrame = {
      val present = notNull.map(c => col(c).isNotNull)
      eventTimeTtl match {
        case Some(ttl) => events.withWatermark(ttl.tsCol, ttl.watermark)
          .where((present ++ (col(ttl.tsCol).isNotNull +: filter))
            .reduce(_ && _))
          .select(cols :+ col(ttl.tsCol): _*)
        case None => events
          .where((present ++ filter).reduce(_ && _))
          .select(cols :+ lit(null).cast("timestamp"): _*)
      }
    }

    /** Re-arm the timeout of an entity whose state this batch keeps:
      * processing-time TTL counts from now; event-time TTL expires when
      * the watermark passes `newestTsMs` (read only under that clock)
      * plus the TTL, and must sit strictly past the current watermark.
      */
    def rearm(state: GroupState[_], entityTtlMs: Option[Long],
        eventTimeTtl: Option[EventTimeTtl])(newestTsMs: => Long): Unit = {
      entityTtlMs.foreach(ms => state.setTimeoutDuration(ms))
      eventTimeTtl.foreach { ttl =>
        state.setTimeoutTimestamp(math.max(
          newestTsMs + ttl.ttlMs, state.getCurrentWatermarkMs() + 1))
      }
    }
  }

  final case class SessionEvent(userId: Long, ts: Timestamp)
  final case class SessionSummary(
      userId: Long, start: Timestamp, end: Timestamp, nEvents: Long)
  // not private: the state encoder instantiates it in generated code
  final case class SessionState(startMs: Long, lastMs: Long, n: Long,
    gv: Int = StateVersions.Session)

  /** Streaming funnel: per-entity ordered-step completion over an
    * unbounded stream, with FIXED state — one timestamp per funnel step
    * per entity, never an event buffer. Emits (entity, stage) after each
    * batch, `stage` = how many steps the entity has completed in order
    * (earliest-completion semantics, strictly increasing times —
    * [[graft.pipeline.Relational.funnel]]'s recurrence).
    *
    * Correctness contract: the greedy recurrence folds ONLINE only when
    * events arrive in event-time order ACROSS batches (append-only
    * time-ordered sources, or a single AvailableNow batch); within a
    * batch, arrival order is irrelevant — each group's batch slice is
    * sorted before folding. Out-of-order arrival across batches can only
    * UNDER-count (a late earlier event cannot retroactively lower a
    * stage time), the safe failure direction for a conversion metric;
    * sources that need full out-of-order tolerance should run the batch
    * funnel over closed windows instead. Null entity ids are dropped
    * ([[graft.pipeline.Relational.funnel]]'s discipline).
    *
    * State lifetime: by default state lives forever, so TOTAL state grows
    * with the entity universe even though PER-ENTITY state is fixed — on
    * an unbounded user stream that is still unbounded memory.
    * `entityTtlMs` arms a processing-time timeout per entity, re-armed on
    * every batch that touches the entity: an entity idle longer than the
    * TTL has its state dropped (after one final (entity, stage) emission,
    * so the last known stage is never lost in update mode). Expiry can
    * only UNDER-count — an event arriving after its entity expired
    * restarts the funnel from stage 0 — the same safe direction as the
    * cross-batch disorder semantics above. Processing-time (not
    * event-time) is deliberate: the funnel's time column is an arbitrary
    * ordering integer with no watermark, and "idle for X of wall time" is
    * the retention contract operators actually configure.
    *
    * Processing-time TTL requires a RECURRING trigger (e.g.
    * ProcessingTime): Spark marks every batch "should run another" under
    * processing-time timeouts — that is what fires expirations on an
    * idle stream — so a run-to-completion trigger (AvailableNow / Once)
    * would never settle. Leave `entityTtlMs` at None for finite replays
    * — or pass `eventTimeTtl` instead: an [[EventTimeTtl]] expires an
    * entity when the WATERMARK passes its newest event's timestamp plus
    * the TTL, which is replay-invariant (a backfill expires exactly what
    * a live run would have) and settles fine under AvailableNow.
    */
  def streamingFunnel(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      steps: Seq[String], entityTtlMs: Option[Long] = None,
      eventTimeTtl: Option[EventTimeTtl] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"duplicate step types: ${steps.mkString(", ")}")
    Inputs.present(events, "events side", entityCol, typeCol, timeCol)
    val timeoutConf = ttlTimeoutConf(events, entityTtlMs, eventTimeTtl)
    val stepIdx = steps.zipWithIndex.toMap
    val nSteps = steps.size
    implicit val stateEnc = Encoders.product[FunnelTimes]
    implicit val outEnc = Encoders.product[FunnelReach]
    implicit val strEnc = Encoders.STRING
    implicit val rowEnc = Encoders.tuple(
      Encoders.STRING, Encoders.STRING, Encoders.scalaLong,
      Encoders.TIMESTAMP)
    EntityTtl.input(events, eventTimeTtl, Seq(entityCol, timeCol),
      Seq(col(typeCol).isin(steps: _*)),
      Seq(col(entityCol).cast("string"), col(typeCol).cast("string"),
        col(timeCol).cast("long")))
      .as[(String, String, Long, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelTimes, FunnelReach](timeoutConf) {
        (entity, it, state) =>
          state.getOption.foreach(s => checkStateVersion(
            "streamingFunnel", StateVersions.Funnel, s.gv))
          if (state.hasTimedOut) {
            // idle past the TTL: emit the last known stage once more (a
            // duplicate is harmless in update mode; consumers reduce by
            // max stage) and drop the state
            val stage = state.getOption
              .map(_.times.takeWhile(_ != Long.MinValue).length).getOrElse(0)
            state.remove()
            FunnelReach(entity, stage)
          } else {
            val times = state.getOption
              .map(_.times.toArray)
              .getOrElse(Array.fill(nSteps)(Long.MinValue))
            // within-batch arrival order is irrelevant: sort the slice by
            // (time, step type) and fold the greedy recurrence in order
            val evs = it.toArray.sortBy(r => (r._3, r._2))
            for ((_, y, t, _) <- evs) {
              val i = stepIdx(y)
              if (times(i) == Long.MinValue &&
                  (i == 0 || (times(i - 1) != Long.MinValue && t > times(i - 1))))
                times(i) = t
            }
            state.update(FunnelTimes(times.toSeq))
            EntityTtl.rearm(state, entityTtlMs, eventTimeTtl)(
              evs.iterator.map(_._4.getTime).max)
            FunnelReach(entity, times.takeWhile(_ != Long.MinValue).length)
          }
      }
      .toDF()
  }

  /** Event-time sessionization: groups each user's events into sessions
    * separated by at least `gapMs` of silence, emitting one summary row per
    * closed session. State is per-user and O(1); sessions close via
    * event-time timeout, so the operator scales with distinct active users,
    * not history.
    */
  def sessionize(
      events: Dataset[SessionEvent], gapMs: Long, watermark: String): Dataset[SessionSummary] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionSummary]
    implicit val longEnc = Encoders.scalaLong
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          state.getOption.foreach(s => checkStateVersion(
            "sessionize", StateVersions.Session, s.gv))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId,
              new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n))
          } else {
            val ts = rows.map(_.ts.getTime).toVector.sorted
            var closed = Vector.empty[SessionSummary]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  // a late but in-watermark event can precede the open
                  // session's start; batch semantics would have begun the
                  // session there, so the start must move DOWN too
                  cur = Some(s.copy(startMs = math.min(s.startMs, t),
                    lastMs = math.max(s.lastMs, t), n = s.n + 1))
                case Some(s) =>
                  closed :+= SessionSummary(userId,
                    new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  // not private: the state encoder instantiates it in generated code
  final case class KllStateBytes(bytes: Array[Byte],
    gv: Int = StateVersions.Kll)
  final case class QuantileRelease(
      key: String, n: Long, errUnits: Long, values: Seq[Double])

  /** Streaming per-key quantiles with BOUNDED state: each key's state is
    * one serialized [[graft.exec.Kll.State]] — O(k·log n)
    * bytes no matter how many values the key has streamed — updated per
    * batch and released as (key, n, err_units, values) after every batch
    * (update mode). The streaming percentile monitor ("p99 latency per
    * service so far") that an exact percentile cannot provide without
    * unbounded per-key buffers.
    *
    * The errUnits certificate carries over verbatim from the batch
    * sketch: |true_rank(values(i)) − ceil(p_i·n)| <= err_units over ALL
    * values streamed so far, under any batch split and any within-batch
    * order — compaction ORDER may differ between runs past the exact
    * regime, so released estimator-regime VALUES are run-dependent while
    * the certificate always holds; while n < k nothing compacts and the
    * release is the exact rank-ceil quantile (the oracled regime, and
    * batch-equivalent by construction). Null keys and null values drop.
    */
  def streamingQuantiles(
      events: DataFrame, keyCol: String, valueCol: String,
      k: Int, percentiles: Seq[Double]): DataFrame = {
    require(k >= 8, s"streamingQuantiles needs k >= 8, got $k")
    require(percentiles.nonEmpty, "at least one percentile required")
    percentiles.foreach(p =>
      require(p >= 0.0 && p <= 1.0, s"percentile out of [0, 1]: $p"))
    Inputs.present(events, "events side", keyCol, valueCol)
    implicit val stateEnc = Encoders.product[KllStateBytes]
    implicit val outEnc = Encoders.product[QuantileRelease]
    implicit val strEnc = Encoders.STRING
    implicit val rowEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaDouble)
    events
      .where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[KllStateBytes, QuantileRelease](
        GroupStateTimeout.NoTimeout) { (key, it, state) =>
        state.getOption.foreach(s => checkStateVersion(
          "streamingQuantiles", StateVersions.Kll, s.gv))
        val st = state.getOption
          .map(s => graft.exec.Kll.State.fromBytes(s.bytes, k))
          .getOrElse(new graft.exec.Kll.State(k))
        it.foreach(r => st.add(r._2))
        state.update(KllStateBytes(st.toBytes))
        QuantileRelease(key, st.totalWeight, st.errUnits,
          if (st.totalWeight == 0L) Nil else percentiles.map(st.quantile))
      }
      .toDF()
  }

  /** Watermarked STREAM-STREAM interval join: every left event paired
    * with the right events sharing `keyCols` whose time falls in
    * [leftTime − `within`, leftTime] — the click-to-impression / order-
    * to-quote enrichment that needs BOTH sides unbounded. Lowered to
    * Spark's native stream-stream join (StreamingSymmetricHashJoin),
    * which the watermarks plus the explicit event-time range condition
    * make BOUNDED-STATE: each side retains only rows newer than its
    * watermark minus the join window, evicted continuously — without the
    * time condition Spark would buffer both streams forever, which is
    * why this wrapper refuses to build the join without it.
    *
    * `joinType` "inner" (default) or "left_outer" (unmatched left rows
    * release NULL right columns once the watermark proves no match can
    * arrive). Null keys never match (SQL equi-join semantics). Late
    * rows beyond the watermark drop — the standard watermark contract.
    * Over a single AvailableNow batch the release is batch-equivalent to
    * the corresponding range join — the oracled regime.
    */
  def streamingIntervalJoin(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsL: String, tsR: String, watermarkL: String, watermarkR: String,
      within: String, joinType: String = "inner"): DataFrame = {
    require(keyCols.nonEmpty, "streamingIntervalJoin needs join keys")
    require(joinType == "inner" || joinType == "left_outer",
      s"joinType must be inner or left_outer, got '$joinType'")
    Inputs.present(left, "left side", keyCols :+ tsL: _*)
    Inputs.present(right, "right side", keyCols :+ tsR: _*)
    require(tsL != tsR,
      "left and right time columns must be named differently (both are " +
        "released)")
    for ((side, df, c) <- Seq(("left", left, tsL), ("right", right, tsR)))
      require(df.schema(c).dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"$side time column '$c' must be a timestamp, got " +
          s"${df.schema(c).dataType.simpleString}")
    val clash = right.columns.filterNot(keyCols.contains)
      .filter(left.columns.contains)
    require(clash.isEmpty,
      s"right columns ${clash.mkString(", ")} clash with left; rename first")
    val l = left.withWatermark(tsL, watermarkL).as("l")
    val r = right.withWatermark(tsR, watermarkR).as("r")
    val timeCond =
      col(s"r.`$tsR`") >= col(s"l.`$tsL`") - expr(s"INTERVAL $within") &&
        col(s"r.`$tsR`") <= col(s"l.`$tsL`")
    val cond = keyCols.map(c => col(s"l.`$c`") === col(s"r.`$c`"))
      .foldLeft(timeCond)(_ && _)
    l.join(r, cond, joinType)
      .select(keyCols.map(c => col(s"l.`$c`").as(c)) ++
        left.columns.filterNot(keyCols.contains).toSeq
          .map(c => col(s"l.`$c`")) ++
        right.columns.filterNot(keyCols.contains).toSeq
          .map(c => col(s"r.`$c`")): _*)
  }

  /** Tumbling-window KLL sketches over a stream: one serialized sketch
    * per window (fixed O(k log n) bytes per OPEN window, the
    * [[windowedHeavyHitters]] state story applied to quantiles) — the
    * streaming half of the sketch-rollup pattern q156 proves batch-side.
    * Partial sketches merge associatively map-side, so raw values never
    * cross the exchange. Use update/complete output, or append with the
    * watermark closing windows. Feed the released window table to
    * [[cumulativeQuantiles]] for running to-date quantiles WITHOUT
    * reprocessing any raw data.
    */
  def streamingWindowedSketches(
      events: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermark: String, k: Int): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .where(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(graft.exec.Kll.sketch(col(valueCol), k).as("sketch"))

  /** Batch reduction of [[streamingWindowedSketches]] output (e.g. over
    * the sink table): for every window, the quantiles of EVERYTHING up to
    * that window's end — a running union of the per-window sketches, the
    * cumulative dashboard line recomputed from sketch bytes alone. The
    * release carries the [[graft.exec.KllQuantiles]] certificate
    * (n, err_units): rank error composes through merges, and while the
    * cumulative n stays under k every release is EXACT (err_units 0).
    *
    * Input must hold ONE row per window (update-mode sinks emit one per
    * (window, batch) — keep the latest). The running union is a global
    * ordered window (single partition BY DESIGN: one row per closed
    * window, bounded by the time horizon — thousands of rows for years
    * of hourly windows — never by data volume; pass the SAME k the
    * sketches were built with, enforced by the wire format).
    */
  def cumulativeQuantiles(
      windowSketches: DataFrame, k: Int,
      percentiles: Seq[Double]): DataFrame =
    runningUnion(windowSketches, "streamingWindowedSketches", "u",
      graft.exec.Kll.unionQuantiles(col("sketch"), k, percentiles))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_windows"),
        col("u.n").as("n_rows"), col("u.err_units").as("err_units"),
        col("u.values").as("values"))

  /** The running-union shell of [[cumulativeQuantiles]] and
    * [[cumulativeDistinct]]: checks the (window, sketch) shape `producer`
    * releases, then per window its 1-based rank by end (`n_windows`) and
    * the aggregate `union` over every window up to its end, named `name`.
    */
  private def runningUnion(windowSketches: DataFrame, producer: String,
      name: String, union: => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowSketches.columns.contains("window") &&
      windowSketches.columns.contains("sketch"),
      s"expected the $producer shape: (window, sketch)")
    val byEnd = Window.orderBy(col("window.end"))
    windowSketches
      .select(col("window"), row_number().over(byEnd).as("n_windows"),
        union.over(byEnd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as(name))
  }

  /** Tumbling-window KMV distinct sketches over a stream: one fixed-size
    * sketch (k smallest hashes) per window — the [[streamingWindowedSketches]]
    * pattern for COUNT DISTINCT. Feed the released table to
    * [[cumulativeDistinct]] for the running to-date unique-entity line
    * (cumulative users, unique documents ingested) without reprocessing
    * or retaining raw keys.
    */
  def streamingWindowedDistinct(
      events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String, k: Int): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .where(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(graft.exec.Kmv.sketch(col(keyCol), k).as("sketch"))

  /** Batch reduction of [[streamingWindowedDistinct]] output: for every
    * window, the distinct-key estimate over EVERYTHING up to that
    * window's end — a running [[graft.exec.Kmv]] union re-derived from
    * sketch hashes alone. EXACT (the retained-hash count) while the
    * cumulative distinct count stays under `k` — the two-regime KMV
    * discipline of q126/q137 — and the (k−1)/U_(k) estimator past it.
    * Same one-row-per-window input contract and deliberately single-
    * partition running window as [[cumulativeQuantiles]] (bounded by the
    * time horizon, never data volume).
    */
  def cumulativeDistinct(
      windowSketches: DataFrame, k: Int): DataFrame =
    runningUnion(windowSketches, "streamingWindowedDistinct", "__u",
      graft.exec.Kmv.unionAgg(col("sketch"), k))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_windows"),
        graft.exec.Kmv.estimate(col("__u"), k).as("n_distinct"))

  // not private: the state encoder instantiates it in generated code
  final case class TouchState(touchType: String, touchTime: Long,
    gv: Int = StateVersions.Touch)
  final case class TouchCredit(
      entity: String, conv_time: Long,
      touch_type: Option[String], touch_time: Option[Long])
  final case class TouchBufState(types: Seq[String], times: Seq[Long],
    gv: Int = StateVersions.TouchBuf)
  final case class MultiTouchCredit(
      entity: String, conv_time: Long,
      touch_type: Option[String], touch_time: Option[Long],
      credit: Option[Double])

  /** Streaming twin of [[graft.pipeline.Relational.multiTouchAttribution]]:
    * every conversion's credit split across its in-window touches with the
    * SAME models and the SAME arithmetic (linear 1/n; position 0.4/0.2/0.4;
    * time_decay over exact integer powers of two) — over a single
    * AvailableNow batch the two are bit-identical, the oracled regime.
    *
    * Per-entity state is the touch buffer itself, BOUNDED two ways: a
    * touch older than `lookback` relative to the entity's newest event
    * can never enter a future in-order window and is pruned on every
    * update, and `maxTouchesPerEntity` caps what one entity may hold —
    * breached LOUDLY (the batch operator's refusal discipline: a silently
    * dropped touch would not just lose a row, it would RENORMALIZE every
    * surviving touch's credit — wrong values, not missing ones).
    *
    * Disorder contract (sharper than last-touch's): within a batch,
    * events fold in (time, type) order, so arrival order is irrelevant;
    * ACROSS batches, a conversion arriving after later-timed events may
    * find part of its window already pruned, and its credits renormalize
    * over the surviving touches. Time-ordered sources and backfills are
    * exact; heavily disordered sources should run the batch operator
    * over closed windows. `entityTtlMs` / `eventTimeTtl` bound the
    * entity universe exactly as in [[streamingAttribution]].
    */
  def streamingMultiTouchAttribution(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      convType: String, touchTypes: Seq[String], lookback: Long,
      model: String = "linear", halfLife: Long = 0L,
      maxTouchesPerEntity: Int = 4096,
      entityTtlMs: Option[Long] = None,
      eventTimeTtl: Option[EventTimeTtl] = None): DataFrame = {
    Inputs.attribution(touchTypes, convType, lookback)
    Inputs.creditModel(model, halfLife, lookback)
    require(maxTouchesPerEntity >= 1,
      s"maxTouchesPerEntity must be >= 1, got $maxTouchesPerEntity")
    Inputs.present(events, "events side", entityCol, typeCol, timeCol)
    val timeoutConf = ttlTimeoutConf(events, entityTtlMs, eventTimeTtl)
    val touchSet = touchTypes.toSet
    implicit val stateEnc = Encoders.product[TouchBufState]
    implicit val outEnc = Encoders.product[MultiTouchCredit]
    implicit val strEnc = Encoders.STRING
    implicit val rowEnc = Encoders.tuple(
      Encoders.STRING, Encoders.STRING, Encoders.scalaLong,
      Encoders.TIMESTAMP)
    EntityTtl.input(events, eventTimeTtl, Seq(entityCol, timeCol),
      Seq(col(typeCol).isin((convType +: touchTypes): _*)),
      Seq(col(entityCol).cast("string"), col(typeCol).cast("string"),
        col(timeCol).cast("long")))
      .as[(String, String, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TouchBufState, MultiTouchCredit](
        OutputMode.Update, timeoutConf) { (entity, it, state) =>
        state.getOption.foreach(s => checkStateVersion(
          "streamingMultiTouchAttribution", StateVersions.TouchBuf, s.gv))
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // buffer kept sorted by (time, type) — the batch array_sort order
          var buf = state.getOption
            .map(s => s.types.zip(s.times).map { case (y, t) => (t, y) }
              .toVector)
            .getOrElse(Vector.empty)
          var maxSeen =
            if (buf.isEmpty) Long.MinValue else buf.iterator.map(_._1).max
          val out = Vector.newBuilder[MultiTouchCredit]
          val evs = it.toArray.sortBy(r => (r._3, r._2))
          for ((_, y, t, _) <- evs) {
            if (y == convType) {
              val window = buf.filter(p => p._1 >= t - lookback && p._1 < t)
              if (window.isEmpty)
                out += MultiTouchCredit(entity, t, None, None, None)
              else {
                val n = window.size
                val credits: Seq[Double] = model match {
                  case "linear" => Seq.fill(n)(1.0 / n)
                  case "position" =>
                    if (n == 1) Seq(1.0)
                    else if (n == 2) Seq(0.5, 0.5)
                    else (0 until n).map(i =>
                      if (i == 0 || i == n - 1) 0.4 else 0.2 / (n - 2))
                  case _ =>
                    val ws = window.map(p =>
                      1L << (40L - (t - p._1) / halfLife).toInt)
                    val sw = ws.sum
                    ws.map(w => w.toDouble / sw.toDouble)
                }
                window.zip(credits).foreach { case ((tt, ty), c) =>
                  out += MultiTouchCredit(entity, t, Some(ty), Some(tt),
                    Some(c))
                }
              }
            } else if (touchSet(y)) {
              maxSeen = math.max(maxSeen, t)
              // insert keeping (time, type) order; prune what no in-order
              // future conversion can ever see. INCLUSIVE bound: a
              // conversion tied with maxSeen still reaches back to
              // maxSeen - lookback (the batch RANGE frame's closed lower
              // edge), so exactly-lookback-old touches must survive
              buf = (buf :+ ((t, y))).sortBy(identity)
                .filter(_._1 >= maxSeen - lookback)
              if (buf.size > maxTouchesPerEntity)
                throw new IllegalStateException(
                  s"streamingMultiTouchAttribution: entity $entity holds > " +
                    s"$maxTouchesPerEntity in-window touches — a silent " +
                    "drop would renormalize every credit; raise " +
                    "maxTouchesPerEntity or shorten the lookback")
            }
          }
          if (buf.nonEmpty || state.exists) {
            state.update(TouchBufState(buf.map(_._2), buf.map(_._1)))
            EntityTtl.rearm(state, entityTtlMs, eventTimeTtl)(
              evs.iterator.map(_._4.getTime).max)
          }
          out.result().iterator
        }
      }
      .toDF()
  }

  // lastTsMs: newest event time EVER seen for the entity (event-time TTL
  // deadlines must only move forward; 0 when no event-time clock is used).
  // STATE-SCHEMA COMPATIBILITY: adding lastTsMs changed the checkpointed
  // state layout — a streamingUpsert query restarting from a checkpoint
  // written BEFORE the field existed fails Spark's state-store schema
  // check (by design: with the check disabled it would misdecode). Restart
  // such queries from a fresh checkpoint with a backfill replay; the
  // operator's durability contract covers restarts WITHIN a state-schema
  // version, which is why this type must not change shape casually. The
  // `gv` tag (StateVersions.Upsert, checked on every state read) covers
  // the complementary case Spark CANNOT catch: a shape-compatible
  // semantic revision — a cross-version restart then fails with one graft
  // error line naming the fresh-checkpoint + backfill remedy.
  final case class UpsertState(
      version: Long, op: String, payload: String, lastTsMs: Long = 0L,
      gv: Int = StateVersions.Upsert)
  final case class UpsertRow(entity: String, version: Long, op: String,
      payload: Option[String])

  /** Streaming keep-latest upsert view — the streaming half of
    * [[graft.pipeline.Relational.applyChangelog]]: over a changelog
    * stream of (key, version, op, payload) rows, maintain the single
    * HIGHEST-version change per key and emit the key's new current state
    * whenever it advances. 'I'/'U' emit the payload, 'D' emits a NULL-
    * payload tombstone. Per-entity state is ONE (version, op, payload)
    * triple — the minimum possible upsert memory.
    *
    * Ordering contract: within a batch rows sort by version; across
    * batches a LOWER-version change than the state is stale and ignored
    * — disorder can never regress the view. Deletes are REMEMBERED (the
    * state keeps the delete's version rather than clearing), so a stale
    * pre-delete upsert arriving late cannot resurrect the key; the
    * tombstone only leaves memory via the TTL knobs. An op outside
    * {I, U, D} fails the stream loudly. Expiry: `entityTtlMs`
    * (processing-time) or `eventTimeTtl` (watermark clock, replay-
    * invariant) — mutually exclusive, the [[streamingFunnel]] contract.
    *
    * Scale shape: one hash exchange on the key, then O(1) state and
    * O(batch) work per entity; emission happens only on actual
    * advancement, so a quiet key costs nothing downstream.
    *
    * Durability caveat: restart works across checkpoints written by the
    * SAME state-schema version of this operator — see the
    * [[UpsertState]] compatibility note (the event-time-TTL field added
    * in round 12 breaks checkpoints written before it existed).
    */
  def streamingUpsert(
      events: DataFrame, keyCol: String, versionCol: String, opCol: String,
      payloadCol: String, entityTtlMs: Option[Long] = None,
      eventTimeTtl: Option[EventTimeTtl] = None): DataFrame = {
    Inputs.present(events, "events side", keyCol, versionCol, opCol, payloadCol)
    val timeoutConf = ttlTimeoutConf(events, entityTtlMs, eventTimeTtl)
    implicit val stateEnc = Encoders.product[UpsertState]
    implicit val outEnc = Encoders.product[UpsertRow]
    implicit val strEnc = Encoders.STRING
    implicit val rowEnc = Encoders.tuple(
      Encoders.STRING, Encoders.scalaLong, Encoders.STRING,
      Encoders.STRING, Encoders.TIMESTAMP)
    // op validated in codegen BEFORE the stateful stage: a bad op fails
    // the batch, never corrupts state
    val opChecked = when(col(opCol).isin("I", "U", "D"), col(opCol))
      .otherwise(raise_error(concat(
        lit(s"streamingUpsert: unknown op in '$opCol': "),
        coalesce(col(opCol).cast("string"), lit("NULL")))))
    EntityTtl.input(events, eventTimeTtl, Seq(keyCol, versionCol), Nil,
      Seq(col(keyCol).cast("string"), col(versionCol).cast("long"),
        opChecked, col(payloadCol).cast("string")))
      .as[(String, Long, String, String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UpsertState, UpsertRow](
        OutputMode.Update, timeoutConf) { (entity, it, state) =>
        state.getOption.foreach(s => checkStateVersion(
          "streamingUpsert", StateVersions.Upsert, s.gv))
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var cur = state.getOption.orNull
          val evs = it.toArray
          var advanced = false
          for ((_, v, o, p, _) <- evs.sortBy(_._2))
            if (cur == null || v > cur.version) {
              cur = UpsertState(v, o, p,
                if (cur == null) 0L else cur.lastTsMs)
              advanced = true
            }
          if (cur != null && eventTimeTtl.isDefined) {
            val batchMax = evs.iterator.map(_._5.getTime).max
            cur = cur.copy(lastTsMs = math.max(cur.lastTsMs, batchMax))
          }
          // re-arm the TTL on EVERY batch that touches the entity, not
          // only when the version advances: a key receiving nothing but
          // stale sub-version traffic is still ACTIVE, and letting its
          // delete tombstone expire mid-traffic would allow exactly the
          // stale-upsert resurrection the docstring rules out (the
          // funnel/attribution operators re-arm unconditionally; upsert
          // had diverged)
          if (cur != null) {
            state.update(cur)
            // deadline from the newest event time EVER seen (carried in
            // state): a batch of stale-timestamped traffic must never
            // pull an armed deadline earlier
            EntityTtl.rearm(state, entityTtlMs, eventTimeTtl)(cur.lastTsMs)
          }
          if (advanced)
            Iterator.single(UpsertRow(entity, cur.version, cur.op,
              if (cur.op == "D") None else Option(cur.payload)))
          else Iterator.empty
        }
      }
      .toDF()
  }

  /** Streaming LAST-touch attribution: per entity, O(1) state (the single
    * most recent touch) credits every conversion to the latest touch
    * strictly before it and at most `lookback` time units old — the
    * streaming twin of [[graft.pipeline.Relational.attribution]]'s
    * `mode = "last"` (first-touch needs the oldest in-window touch, which
    * no O(1) state can maintain under an advancing window — use the batch
    * operator). Each conversion is emitted exactly once, in its arrival
    * batch, with NULL touch columns when unattributed.
    *
    * Cross-batch DISORDER under-attributes, never mis-attributes: a touch
    * arriving in a later batch than its conversion is not retro-credited
    * (same direction as [[streamingFunnel]]'s disorder contract). Within a
    * batch, events fold in (time, type) order, so arrival order is
    * irrelevant. Over a single batch (AvailableNow on one file) the
    * release is batch-equivalent by construction — the oracled regime.
    *
    * `entityTtlMs` bounds total state exactly as in [[streamingFunnel]]
    * (processing-time timeout; expired entities just lose their pending
    * touch — requires a recurring trigger to settle). For
    * backfill/replay, pass `eventTimeTtl` instead: watermark-based
    * expiry is replay-invariant and settles under AvailableNow (see
    * [[EventTimeTtl]]); the two knobs are mutually exclusive. Either
    * expiry direction is safe: an expired entity's next conversion is
    * UNattributed, never MISattributed.
    */
  def streamingAttribution(
      events: DataFrame, entityCol: String, typeCol: String, timeCol: String,
      convType: String, touchTypes: Seq[String], lookback: Long,
      entityTtlMs: Option[Long] = None,
      eventTimeTtl: Option[EventTimeTtl] = None): DataFrame = {
    Inputs.attribution(touchTypes, convType, lookback)
    Inputs.present(events, "events side", entityCol, typeCol, timeCol)
    val timeoutConf = ttlTimeoutConf(events, entityTtlMs, eventTimeTtl)
    val touchSet = touchTypes.toSet
    implicit val stateEnc = Encoders.product[TouchState]
    implicit val outEnc = Encoders.product[TouchCredit]
    implicit val strEnc = Encoders.STRING
    implicit val rowEnc = Encoders.tuple(
      Encoders.STRING, Encoders.STRING, Encoders.scalaLong,
      Encoders.TIMESTAMP)
    EntityTtl.input(events, eventTimeTtl, Seq(entityCol, timeCol),
      Seq(col(typeCol).isin((convType +: touchTypes): _*)),
      Seq(col(entityCol).cast("string"), col(typeCol).cast("string"),
        col(timeCol).cast("long")))
      .as[(String, String, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, TouchCredit](
        OutputMode.Update, timeoutConf) { (entity, it, state) =>
        state.getOption.foreach(s => checkStateVersion(
          "streamingAttribution", StateVersions.Touch, s.gv))
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var lastTouch = state.getOption.orNull
          val out = Vector.newBuilder[TouchCredit]
          val evs = it.toArray.sortBy(r => (r._3, r._2))
          for ((_, y, t, _) <- evs) {
            if (y == convType) {
              val hit = lastTouch != null && lastTouch.touchTime < t &&
                t - lastTouch.touchTime <= lookback
              out += (if (hit)
                TouchCredit(entity, t,
                  Some(lastTouch.touchType), Some(lastTouch.touchTime))
              else TouchCredit(entity, t, None, None))
            } else if (touchSet(y)) {
              if (lastTouch == null || t >= lastTouch.touchTime)
                lastTouch = TouchState(y, t)
            }
          }
          if (lastTouch != null) {
            state.update(lastTouch)
            EntityTtl.rearm(state, entityTtlMs, eventTimeTtl)(
              evs.iterator.map(_._4.getTime).max)
          }
          out.result().iterator
        }
      }
      .toDF()
  }

  /** Streaming distribution-drift monitor — the live twin of
    * [[graft.pipeline.CorpusStats.distributionDrift]]: per event-time
    * window the binned distribution of `valueCol` against a FIXED
    * reference profile, released as exact integers — per-bin counts,
    * the L1 ppm distance (sum of |cur_ppm - ref_ppm| over bins, the
    * total-variation alarm line x2), and the worst bin with its signed
    * gap. `edges`/`refPpm` are dashboard CONFIG (derived once from a
    * reference snapshot — [[graft.exec.Kll]] quantiles or fixed domain
    * edges) so the monitor never re-reads the reference at stream time
    * and an alert is reproducible from the config alone.
    *
    * Bin rule matches the batch operator: value lands in the first bin
    * whose edge is >= it (`v <= edges(i)`), last bin catches the rest;
    * NULL/NaN rows drop. All released numbers are integers — truncating
    * ppm via integer division — so any engine replays a window
    * bit-identically.
    *
    * Scale shape: ONE watermarked stateful aggregate; per-window state
    * is `nBins + 1` longs (the bin counts ride as conditional sums, not
    * a (window, bin) key — one state row per window, not per bin).
    * Everything after the agg is a codegen'd projection.
    */
  def streamingDrift(
      events: DataFrame, tsCol: String, valueCol: String,
      edges: Seq[Double], refPpm: Seq[Long],
      windowDuration: String, watermark: String,
      ppmScale: Long = 1000000L): DataFrame = {
    require(edges.nonEmpty && edges.size <= 999,
      s"need 1..999 edges, got ${edges.size}")
    require(edges == edges.sorted && edges.distinct.size == edges.size,
      "edges must be strictly increasing")
    require(refPpm.size == edges.size + 1,
      s"refPpm must have ${edges.size + 1} entries (one per bin), got " +
        s"${refPpm.size}")
    Inputs.ppmScale(ppmScale)
    Inputs.present(events, "input", tsCol, valueCol)
    val nBins = edges.size + 1
    val v = col(valueCol).cast("double")
    val bin = edges.zipWithIndex
      .foldRight(lit(nBins - 1): org.apache.spark.sql.Column) {
      case ((e, i), rest) => when(v <= e, lit(i)).otherwise(rest)
    }
    val binSums = (0 until nBins).map(i =>
      sum(when(col("__bin") === i, 1L).otherwise(0L)).as(s"__b$i"))
    val agg = events
      .withWatermark(tsCol, watermark)
      .where(col(tsCol).isNotNull && v.isNotNull && !isnan(v))
      .select(col(tsCol), bin.as("__bin"))
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(lit(1)).as("n_rows"), binSums: _*)
    // shares widen through decimal(38,0): a >= ~9.3M-row window at the
    // 1e12 scale cap would overflow the long product and silently wrap
    // every released drift number; the quotient (<= ppmScale) fits a long
    val curPpm = (0 until nBins).map(i =>
      when(col("n_rows") > 0,
        expr(s"(CAST(__b$i AS DECIMAL(38,0)) * ${ppmScale}L) div " +
          "CAST(n_rows AS DECIMAL(38,0))").cast("long")).otherwise(0L))
    val deltas = curPpm.zip(refPpm).map { case (c, r) => c - lit(r) }
    val l1 = deltas.map(abs).reduce(_ + _)
    // worst bin: max |delta|, ties to the LOWEST bin (negated index in
    // the struct ordering), signed gap carried alongside
    val worst = greatest(deltas.zipWithIndex.map { case (dl, i) =>
      struct(abs(dl).as("a"), lit(-i.toLong).as("ni"), dl.as("dl"))
    }: _*)
    agg.select(col("window"), col("n_rows"),
      array((0 until nBins).map(i => col(s"__b$i")): _*).as("bin_counts"),
      l1.as("l1_ppm"),
      (-worst.getField("ni")).as("worst_bin"),
      worst.getField("dl").as("worst_delta_ppm"))
  }
}
