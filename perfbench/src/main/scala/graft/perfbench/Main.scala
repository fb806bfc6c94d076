package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir>`.
  *
  * A run is a closed loop of one client thread issuing queries into
  * `local[cores]` Spark. Set-up starts the session, reads every table once
  * and runs the run's queries once untimed, to warm code generation. The
  * timed pass then runs whole rounds of queries, each in a fresh seeded
  * order but the last: as many as fill about `seconds`, and at least
  * `minQueries` queries. Each
  * query is timed from the start of its construction to the end of the
  * action that hashes every output column (`Fingerprint`).
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * the per-layer metrics of a separate, instrumented run. The last line of
  * standard output is one JSON object.
  */
object Main {

  val workloads: Seq[String] = Seq("dp_release", "registry_lazy", "registry_eager")

  /** Queries per round of a registry workload, one per cost band, so the
    * latency percentiles are taken over ten or twenty distinct queries of
    * the mix. `registry_eager` stops at ten: its warm-up runs every query
    * of the round once, cold, and twenty eager queries would make a run of
    * both passes too long for the benchmark's time budget.
    */
  private val strata = Map("registry_lazy" -> 20, "registry_eager" -> 10)

  /** Seconds one round takes at this commit on four cores. A run does
    * `seconds / roundS` whole rounds, so runs of one workload always do the
    * same work; a deadline checked between rounds would let timing noise
    * decide whether a run does one round more, and later rounds run on
    * warmer code.
    */
  private val roundS = Map("dp_release" -> 7.0, "registry_lazy" -> 9.0, "registry_eager" -> 13.2)

  /** Latency samples a run takes at least, so that a tail percentile with
    * ten samples above it exists.
    */
  private val minQueries = 20

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dataDir = opts("data")
    require(new java.io.File(dataDir, "lineitem.parquet").isFile, s"no benchmark data in $dataDir")

    val spark = BenchSpark.session()
    val trace = if (traced) Some(new Trace(spark)) else None
    val rng = new Random(seed)
    BenchSpark.preRead(spark, dataDir)
    val rounds: Iterator[Seq[Task]] = workload match {
      case "dp_release" =>
        val analyst = new DpRelease(spark, dataDir)
        analyst.prepare()
        analyst.round(0, new Random(seed)).foreach(s => untimed(analyst.task(s)))
        analyst.reset()
        Iterator.from(0).map(analyst.round(_, rng).map(analyst.task))
      case _ =>
        val sample = Registry.sample(Registry.load(workload), strata(workload))
          .map(Registry.task(spark, dataDir, _))
        sample.foreach(untimed)
        Iterator.continually(rng.shuffle(sample))
    }
    trace.foreach(spark.sparkContext.addSparkListener)
    val run = new Runner(spark, trace)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val start = System.nanoTime()
    val first = rounds.next()
    val nRounds = math.max(math.ceil(seconds / roundS(workload)).toInt,
      (minQueries + first.size - 1) / first.size)
    // the last round runs in name order, so every run ends on the same
    // query and the heap reading does not depend on what ran last
    val timed = (Iterator(first) ++ rounds).take(nRounds).toSeq
    (timed.init :+ timed.last.sortBy(_.name)).foreach(_.foreach(run.apply))
    val passS = (System.nanoTime() - start) / 1e9

    // a full GC, a pause for Spark's cleaner to drop the blocks of the
    // objects it freed, and another full GC; then the heap in use
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
    BenchSpark.stop(spark)

    val ok = run.latencies.size
    val tail = Stats.tail(run.latencies.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("throughput_qps", ok / passS, "1/s"),
        ("latency_p50_s", if (ok == 0) Double.NaN else Stats.median(run.latencies.toSeq), "s"),
        ("latency_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
        ("heap_live_mb", heapMb, "MB"))
      else run.layerMetrics(storageMb)
    println(f"[perfbench] $workload seed=$seed attempted=${run.attempted} failed=${run.failed} " +
      f"pass=$passS%.2fs heap_max=${Runtime.getRuntime.maxMemory / 1e6}%.0fMB " +
      tail.fold("tail=none")(t => f"tail=p${t._1}%s n=$ok"))
    run.failures.take(5).foreach(f => System.err.println(s"[perfbench] failed: $f"))
    val metricJson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${run.failed == 0 && ok > 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": $metricJson}""")
  }

  /** Warm-up execution: outcome ignored, a failing query fails again when timed. */
  private def untimed(t: Task): Unit =
    try Fingerprint.of(t.build(new Layers(false))) catch { case NonFatal(_) => () }
}

/** Times queries one at a time and, when traced, splits each query's
  * latency into layers.
  *
  * Three parts of a query are measured, each by its own instrument:
  * construction (the wall of `Task.build`, including the jobs it launches,
  * on the driver's clock), the Catalyst phases of the timed action (their
  * durations as `queryExecution.tracker` records them) and the action's
  * Spark jobs (the union of their intervals, from the listener's events).
  * `harness.layer_sum_ratio` is the sum of the three over the latency,
  * summed over queries: below 1 by the share no layer accounts for, above
  * 1 only where two parts count the same time. The driver gap, the query
  * wall in which no job and no Catalyst phase runs, is reported on its own
  * and is not part of that sum.
  */
final class Runner(spark: SparkSession, trace: Option[Trace]) {
  import Trace.{Interval, unionLength}

  val layers = new Layers(trace.isDefined)
  val latencies = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  private val floors = mutable.ArrayBuffer.empty[Double]
  private var layerSum, latencySum = 0.0

  def attempted: Int = latencies.size + failures.size
  def failed: Int = failures.size

  def apply(task: Task): Unit = {
    trace.foreach { t => t.drain(); t.clearJobs() }
    val before = trace.map(_.counters)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = task.build(layers)
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      val (fp, qe) = Fingerprint.action(df)
      val t2 = System.nanoTime()
      val w2 = System.currentTimeMillis()
      task.check(fp) match {
        case Some(why) => failures += why
        case None =>
          latencies += (t2 - t0) / 1e9
          trace.foreach { t =>
            t.drain()
            val jobs = t.jobsIn(Interval(w0, w2))
            val (cons, act) = jobs.partition(_.start < w1)
            val phases = Seq("analysis", "optimization", "planning")
              .flatMap(p => qe.tracker.phases.get(p).map(p -> _))
            phases.foreach { case (p, s) => layers.add(s"catalyst.${p}_s", s.durationMs / 1e3) }
            val catalystS = phases.map(_._2.durationMs).sum / 1e3
            val catalyst = phases.map { case (_, s) =>
              Interval(math.max(s.startTimeMs, w0), math.min(s.endTimeMs, w2))
            }
            val constructS = (t1 - t0) / 1e9
            if (task.layer == "session") {
              layers.add("exec.release_jobs", cons.size)
              layers.add("keyset.release_rows", fp.rows)
            } else {
              layers.add(s"${task.layer}.construct_s", constructS)
              layers.add(s"${task.layer}.construct_jobs", cons.size)
            }
            val actionJobsS = unionLength(act) / 1e3
            layers.add("spark.action_s", actionJobsS)
            layers.add("spark.driver_gap_s", ((w2 - w0) - unionLength(jobs ++ catalyst)) / 1e3)
            layerSum += constructS + catalystS + actionJobsS
            latencySum += (t2 - t0) / 1e9
            val after = t.counters
            before.foreach { b => after.foreach { case (k, v) => layers.add(k, (v - b(k)).toDouble) } }
            val f0 = System.nanoTime()
            spark.range(1).count()
            floors += (System.nanoTime() - f0) / 1e9
          }
      }
    } catch {
      case NonFatal(e) => failures += s"${task.name}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  /** Per-layer metrics: sums per completed query, except where noted. */
  def layerMetrics(storageMb: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, latencies.size).toDouble
    def per(k: String): Double = layers.sums.getOrElse(k, 0.0) / n
    def s(name: String): (String, Double, String) = (name, per(name), "s")
    def c(name: String, key: String, unit: String = "count"): (String, Double, String) =
      (name, per(key), unit)
    Seq(
      s("session.build_s"), s("session.evaluate_s"), s("compile.measure_s"),
      ("exec.release_s", per("session.evaluate_s") - per("compile.measure_s"), "s"),
      c("exec.release_jobs", "exec.release_jobs"),
      c("budget.charges", "budget.charges"), c("keyset.release_rows", "keyset.release_rows"),
      s("pipeline.construct_s"), c("pipeline.construct_jobs", "pipeline.construct_jobs"),
      s("streaming.construct_s"), c("streaming.construct_jobs", "streaming.construct_jobs"),
      s("catalyst.analysis_s"), s("catalyst.optimization_s"), s("catalyst.planning_s"),
      s("spark.action_s"),
      c("spark.jobs", "jobs"), c("spark.stages", "stages"), c("spark.tasks", "tasks"),
      ("spark.executor_cpu_s", per("cpu_ns") / 1e9, "s"),
      ("spark.executor_run_s", per("run_ms") / 1e3, "s"),
      c("spark.shuffle_read_bytes", "shuffle_read", "bytes"),
      c("spark.shuffle_write_bytes", "shuffle_write", "bytes"),
      c("spark.spill_bytes", "spill", "bytes"),
      ("spark.gc_s", per("gc_ms") / 1e3, "s"),
      ("spark.storage_mb_end", storageMb, "MB"),
      ("spark.task_queue_s", per("queue_ms") / 1e3, "s"),
      s("spark.driver_gap_s"),
      ("harness.floor_s", if (floors.isEmpty) Double.NaN else Stats.median(floors.toSeq), "s"),
      ("harness.layer_sum_ratio", if (latencySum > 0) layerSum / latencySum else Double.NaN, "ratio"))
  }
}
