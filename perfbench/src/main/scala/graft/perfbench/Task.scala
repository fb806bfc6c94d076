package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Per-layer sums of one run, filled only when tracing is on. */
final class Layers(val on: Boolean) {
  val sums: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit =
    if (on) sums(name) = sums.getOrElse(name, 0.0) + v

  /** Runs `body`, adding its wall seconds to `name` when tracing. */
  def time[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, (System.nanoTime() - t0) / 1e9)
    }
}

/** One query of a workload.
  *
  * @param build      constructs the query's DataFrame; this is where the
  *                   program's eager work (sessions, releases, construction
  *                   jobs) happens
  * @param check      verifies the fingerprint of the materialized output;
  *                   `Some(reason)` marks the query failed
  * @param layer      the module construction runs in: `session` for DP
  *                   releases, which time their own parts, or `pipeline` or
  *                   `streaming` for registry queries
  */
final case class Task(
    name: String,
    build: Layers => DataFrame,
    check: Fingerprint.Result => Option[String],
    layer: String)
