package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.BooleanType

/** The one place graft holds rows. Every iterative operator, every eager
  * pipeline result and every DP release is pinned through
  * [[Materialize.apply]], and every frame an operator reads more than once
  * within one call is cached through [[Materialize.scoped]], so how rows
  * are held, and for how long, is decided here and nowhere else. (The
  * user-facing caches, `Session.createView(cache = true)` and
  * `KeySet.cache`, are the only other holders.)
  *
  * The pin is Spark's eager `localCheckpoint`: the rows live in executor
  * block storage, and the returned frame scans them, reporting the output
  * partitioning of the input's executed plan as Spark's own checkpoint
  * does. (An adaptive plan's root reports none in Spark 4.1, so under AQE
  * a later keyed operator re-shuffles the pinned rows unless it
  * broadcasts.) That storage is not fault-tolerant — an executor lost
  * after the pin loses its blocks, and a later action over the frame
  * fails (SCALING.md). A reliable checkpoint would be a change to
  * this file alone.
  *
  * The pin job counts the rows of every partition as it writes them, and
  * the true rows of an optional boolean `flag` column, so a caller that
  * needs "is it empty", "how many" or "did anything change" reads it from
  * the pin instead of launching a second job.
  */
object Materialize {

  /** A pinned frame with what its pin job counted. `partitionRows(i)` is
    * the row count of partition i of `df`; `flagged` counts the rows whose
    * flag column is true (0 when no flag was named).
    */
  final case class Pinned(df: DataFrame, partitionRows: IndexedSeq[Long],
      flagged: Long) {
    def rows: Long = partitionRows.sum
    def isEmpty: Boolean = rows == 0L
  }

  /** Pin `df` in one Spark job. `label` names the operator and round that
    * asked (e.g. "Graph.kCore round 2"); it is the description of every job
    * the pin launches, and the caller's description is restored afterwards.
    * `flag`, when given, names a boolean column of `df` whose true rows are
    * counted into [[Pinned.flagged]].
    */
  def apply(df: DataFrame, label: String, flag: Option[String] = None): Pinned = {
    val ordinal = flag.fold(-1) { f =>
      val field = df.schema(f)
      require(field.dataType == BooleanType,
        s"Materialize flag '$f' must be boolean, got ${field.dataType}")
      df.schema.fieldIndex(f)
    }
    val sc = df.sparkSession.sparkContext
    val outer = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    val (pinned, counts) =
      try CheckpointBridge.localCheckpoint(df) { rows =>
        var n = 0L
        var hits = 0L
        while (rows.hasNext) {
          val r = rows.next()
          n += 1L
          if (ordinal >= 0 && !r.isNullAt(ordinal) && r.getBoolean(ordinal))
            hits += 1L
        }
        (n, hits)
      } finally sc.setLocalProperty(JobDescription, outer)
    Pinned(pinned, counts.map(_._1).toIndexedSeq, counts.map(_._2).sum)
  }

  /** Run `body` with `reuse`, which caches a frame the body reads more
    * than once at `Dataset.persist()`'s default level (MEMORY_AND_DISK,
    * deserialized; the first job that reads it fills it) and returns it.
    * Every reused frame is released, newest first and without blocking,
    * when the body returns or throws, so a refused input leaves no cache
    * entry behind. A frame read after the scope recomputes what it reused:
    * the body returns a pinned frame, or one that does not read them.
    */
  def scoped[A](body: (DataFrame => DataFrame) => A): A = {
    var held = List.empty[DataFrame]
    try body { df => held ::= df.persist(); df }
    finally held.foreach(_.unpersist(false))
  }

  /** `df.pin(label)`: [[apply]] for a caller that needs only the frame. */
  implicit final class Pin(private val df: DataFrame) extends AnyVal {
    def pin(label: String): DataFrame = Materialize(df, label).df
  }

  private val JobDescription = "spark.job.description"
}
