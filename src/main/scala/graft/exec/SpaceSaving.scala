package graft.exec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Heavy hitters by the SpaceSaving sketch (Metwally/Agrawal/El Abbadi
  * 2005) as a MERGEABLE Spark aggregate: each task summarizes its partition
  * into at most `capacity` counters, partial sketches merge associatively
  * (Agarwal et al. 2013, "Mergeable Summaries"), and only sketches — never
  * raw keys — cross the exchange. This is the streaming/batch top-k whose
  * memory is fixed no matter how many distinct keys flow through: the
  * built-in alternative (full groupBy + TakeOrdered) keeps VOCABULARY-sized
  * state, which on a 100 TB url/token column is the difference between a
  * sketch page and a spilling hash map.
  *
  * Guarantees, in decreasing strength:
  *  - if the TRUE number of distinct keys is <= capacity, no counter is
  *    ever evicted anywhere, every reported (count, error=0) is exact, and
  *    the result equals the exact groupBy top-k (the oracle anchor);
  *  - any reported count is an overestimate within its reported error:
  *    count - error <= true <= count. Eviction credits the evicted
  *    minimum to the incoming key (the classic bound error <= N/capacity
  *    per sketch); merges add a saturated side's minimum for keys the
  *    other side holds — a sketch that never evicted holds EVERY key it
  *    saw, so its absent keys contribute a true zero instead.
  *
  * All tie-breaks (eviction victim, merge truncation, final ranking) are
  * on the key string, so results are deterministic under any partitioning.
  */
final case class SpaceSavingTopK(capacity: Int, k: Int)
    extends SketchKind[SpaceSavingTopK.Sketch] {

  require(capacity >= 1, "space_saving_topk requires a positive capacity")
  require(k >= 1 && k <= capacity, "k must be in [1, capacity]")

  import SpaceSavingTopK.Sketch

  def name: String = "space_saving_topk"
  def inputError(in: DataType): Option[String] =
    if (in == StringType) None
    else Some(s"space_saving_topk tracks string keys; cast " +
      s"${in.simpleString} to string first")
  def resultType(in: DataType): DataType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("error", LongType, nullable = false))), containsNull = false)
  def empty(): Sketch = new Sketch(capacity)
  def add(state: Sketch, value: Any): Unit =
    state.add(value.asInstanceOf[UTF8String].toString)
  def merge(state: Sketch, other: Sketch): Unit = state.mergeWith(other)
  def result(state: Sketch): Any = {
    val top = state.top(k).map { case (key, c, e) =>
      InternalRow(UTF8String.fromString(key), c, e)
    }
    new GenericArrayData(top)
  }
  def wire(in: DataType): (Sketch => Array[Byte], Array[Byte] => Sketch) =
    (_.toBytes, Sketch.fromBytes(_, capacity))
}

object SpaceSavingTopK {

  /** Counter table + the saturation flag that upgrades merge semantics:
    * until the first eviction the sketch IS an exact count map.
    */
  final class Sketch(val capacity: Int) {
    // key -> (count, error); size bounded by capacity. Private: every
    // mutation must also maintain the byCount index below, so external
    // writes go through add/remove — readers get the immutable view.
    private val tbl: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty
    def counters: collection.Map[String, (Long, Long)] = tbl
    // (count, key) ordered index: victim selection and the merge floor are
    // O(log capacity) head lookups. The full-map minBy scan this replaces
    // made every saturated-regime update O(capacity) — a capacity-factor
    // slowdown on exactly the high-cardinality streams the sketch exists
    // for. Tuple ordering is (count asc, key asc), so the head IS the old
    // deterministic victim rule.
    private val byCount = mutable.TreeSet.empty[(Long, String)]
    var evicted: Boolean = false

    private[SpaceSavingTopK] def put(key: String, c: Long, e: Long): Unit = {
      tbl.get(key).foreach { case (old, _) => byCount.remove((old, key)) }
      tbl.update(key, (c, e))
      byCount.add((c, key))
    }

    def add(key: String, by: Long = 1L): Unit = tbl.get(key) match {
      case Some((c, e)) => put(key, c + by, e)
      case None if tbl.size < capacity =>
        // a lossy MERGE can leave the sketch saturated below capacity; an
        // unseen key's true count may then be anything up to the resident
        // minimum, so it inherits that floor or its count would
        // under-estimate — an un-saturated sketch has seen every key and
        // credits a true zero
        val floor = if (evicted) minCount() else 0L
        put(key, floor + by, floor)
      case None =>
        // deterministic victim: smallest count, ties on the key string
        val (minC, victim) = byCount.head
        tbl.remove(victim)
        byCount.remove((minC, victim))
        put(key, minC + by, minC)
        evicted = true
    }

    /** Minimum resident count — what a saturated sketch may owe any key it
      * no longer (or never) holds.
      */
    private def minCount(): Long =
      if (byCount.isEmpty) 0L else byCount.head._1

    /** Remove a resident key, maintaining the index (used by tests that
      * force below-capacity saturation; production code never removes
      * except through eviction).
      */
    def remove(key: String): Unit =
      tbl.remove(key).foreach { case (c, _) => byCount.remove((c, key)) }

    def mergeWith(other: Sketch): Unit = {
      val floorSelf = if (evicted) minCount() else 0L
      val floorOther = if (other.evicted) other.minCount() else 0L
      val keys = tbl.keySet.toSet ++ other.counters.keySet
      val combined = keys.iterator.map { key =>
        val (c1, e1) = tbl.getOrElse(key, (floorSelf, floorSelf))
        val (c2, e2) = other.counters.getOrElse(key, (floorOther, floorOther))
        (key, (c1 + c2, e1 + e2))
      }.toSeq
      tbl.clear()
      byCount.clear()
      if (combined.size <= capacity) {
        combined.foreach { case (key, (c, e)) => put(key, c, e) }
        evicted ||= other.evicted
      } else {
        // keep the top `capacity` by (count desc, key asc) — dropping keys
        // never touches the survivors' overestimate invariant
        combined.sortBy { case (key, (c, _)) => (-c, key) }
          .take(capacity)
          .foreach { case (key, (c, e)) => put(key, c, e) }
        evicted = true
      }
    }

    def top(k: Int): Seq[(String, Long, Long)] =
      tbl.toSeq
        .sortBy { case (key, (c, _)) => (-c, key) }
        .take(k)
        .map { case (key, (c, e)) => (key, c, e) }

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeBoolean(evicted)
      out.writeInt(tbl.size)
      tbl.foreach { case (key, (c, e)) =>
        // length-framed UTF-8, not writeUTF: a key past 64 KB (degenerate
        // URLs, whole documents as keys) must round-trip, not crash the
        // shuffle with UTFDataFormatException
        val kb = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(kb.length); out.write(kb)
        out.writeLong(c); out.writeLong(e)
      }
      out.flush()
      bos.toByteArray
    }
  }

  object Sketch {
    def fromBytes(bytes: Array[Byte], capacity: Int): Sketch = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val s = new Sketch(capacity)
      s.evicted = in.readBoolean()
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val kb = new Array[Byte](in.readInt())
        in.readFully(kb)
        val key = new String(kb, java.nio.charset.StandardCharsets.UTF_8)
        s.put(key, in.readLong(), in.readLong())
        i += 1
      }
      s
    }
  }
}

object SpaceSaving {
  /** Column API: the top `k` of a bounded-memory `capacity`-counter
    * SpaceSaving sketch over `c`, as array<struct<key, count, error>> in
    * (count desc, key) order. Exact (error = 0) whenever the true distinct
    * count fits the capacity.
    */
  def spaceSavingTopK(c: Column, capacity: Int, k: Int): Column =
    SketchAggregate.column(ColumnBridge.expression(c), SpaceSavingTopK(capacity, k))
}
