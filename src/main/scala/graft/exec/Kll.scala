package graft.exec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded-state quantile sketch for CONTINUOUS measures — the
  * compactor-cascade design of KLL (Karnin, Lang & Liberty 2016,
  * "Optimal Quantile Approximation in Streams"), run with uniform
  * level capacity and DETERMINISTIC alternating-parity compaction (the
  * classic Munro–Paterson / Manku–Rajagopalan–Lindsay collapse rule)
  * instead of random coin flips.
  *
  * Why this variant: the repo's estimator-regime anchors release
  * SELF-CHECKING bounds, not point estimates — so what matters is a
  * worst-case rank-error bound that the sketch can ACCOUNT FOR EXACTLY
  * as it runs, not the (tighter, but probabilistic) expected error of
  * random coins. Every compaction of a level whose items carry weight
  * w = 2^level introduces at most w of rank error for any quantile
  * query; the state simply sums those w's into `errUnits`, so the
  * released bound is a certificate: true_rank(estimate) is within
  * errUnits of the target rank, unconditionally, under any partitioning
  * and any merge order.
  *
  * State: one buffer per level, each at most `k` doubles, weight 2^level
  * — O(k · log(n/k)) total, the fix for numericProfile's
  * O(distinct-values) exact percentile state (CorpusStats.scala). The
  * aggregate is mergeable (concatenate level-wise, re-compact), so
  * partials combine map-side and only sketches cross the exchange.
  *
  * Exactness contract (the two-regime anchor discipline of KMV
  * q126/q137): while n < k nothing ever compacts — every value is
  * retained at weight 1, errUnits stays 0, and quantiles are EXACT rank
  * statistics (smallest value with cumulative weight >= ceil(q*n)),
  * hash-matching a SQL engine's discrete quantile. Past k, estimates
  * come with the certificate above; with uniform capacity k the bound
  * grows as ~(n/2k)·log2(n/k), i.e. a sub-percent fraction of n for
  * k in the hundreds at test scale.
  *
  * The three KLL kinds share the state, its merge and its bytes; they
  * differ only in what they fold in (doubles or serialized sketches) and
  * what they release (the certificate or the sketch).
  */
sealed trait KllKind extends SketchKind[Kll.State] {
  def k: Int
  require(k >= 8, s"$name needs k >= 8, got $k")

  def empty(): Kll.State = new Kll.State(k)
  def merge(state: Kll.State, other: Kll.State): Unit = state.mergeWith(other)
  def wire(in: DataType): (Kll.State => Array[Byte], Array[Byte] => Kll.State) =
    (_.toBytes, Kll.State.fromBytes(_, k))
}

/** kll_quantiles: doubles in, the certificate struct (n, err_units,
  * values) out.
  */
final case class KllQuantiles(k: Int, percentiles: Seq[Double]) extends KllKind {
  Kll.checkPercentiles(name, percentiles)
  def name: String = "kll_quantiles"
  def inputError(in: DataType): Option[String] = Kll.doublesOnly(name, in)
  def resultType(in: DataType): DataType = Kll.releaseType
  def add(state: Kll.State, value: Any): Unit = state.add(value.asInstanceOf[Double])
  def result(state: Kll.State): Any = Kll.release(state, percentiles)
}

/** kll_sketch: doubles in, the RAW serialized sketch (binary) out instead
  * of extracted quantiles — the building block for ROLLUPS: sketch once
  * per fine grouping, then re-aggregate coarser levels with [[KllUnion]]
  * without re-reading the data (the [[KmvUnion]] story for quantiles).
  * The wire format is the State's own serialization; the certificate
  * (totalWeight, errUnits) rides inside.
  */
final case class KllSketch(k: Int) extends KllKind {
  def name: String = "kll_sketch"
  def inputError(in: DataType): Option[String] = Kll.doublesOnly(name, in)
  def resultType(in: DataType): DataType = BinaryType
  def add(state: Kll.State, value: Any): Unit = state.add(value.asInstanceOf[Double])
  def result(state: Kll.State): Any = state.toBytes
}

/** kll_union: grouped union of released [[KllSketch]] sketches — merge
  * per group, release the same (n, err_units, values) struct as
  * [[KllQuantiles]]. Certificates COMPOSE: merged errUnits = sum of the
  * parts plus any merge-time compactions, and the rank theorem holds for
  * the union — so a rollup whose fine sketches were exact and whose merged
  * buffer still fits k is itself EXACT (err_units 0), the regime the
  * oracle pins. The caller must pass the SAME k the sketches were built
  * with: k leads the wire format and deserialization `require`s a match,
  * so a mixed-k union fails loudly instead of silently re-compacting under
  * the caller's k (which would change the reported regime/err_units).
  */
final case class KllUnion(k: Int, percentiles: Seq[Double]) extends KllKind {
  Kll.checkPercentiles(name, percentiles)
  def name: String = "kll_union"
  def inputError(in: DataType): Option[String] =
    if (in == BinaryType) None
    else Some(s"kll_union merges binary sketches, got ${in.simpleString}")
  def resultType(in: DataType): DataType = Kll.releaseType
  def add(state: Kll.State, value: Any): Unit =
    state.mergeWith(Kll.State.fromBytes(value.asInstanceOf[Array[Byte]], k))
  def result(state: Kll.State): Any = Kll.release(state, percentiles)
}

/** The KLL state and the column API over the KLL aggregates. */
object Kll {

  /** Compactor cascade: `levels(l)` holds items of weight 2^l, at most k
    * each. Compaction sorts a level, keeps the odd survivor (largest) when
    * the size is odd, promotes alternating elements of the even remainder
    * to the next level, and charges 2^l to `errUnits` — the exact
    * worst-case rank slack that collapse can introduce. The parity bit
    * alternates per level per compaction so systematic bias cancels in
    * long runs (the MRL rule), though the certificate never relies on it.
    */
  final class State(val k: Int) {
    private[exec] var levels: Array[Array[Double]] = Array(Array.empty)
    private[exec] var sizes: Array[Int] = Array(0)
    private var parity: Array[Boolean] = Array(false)
    var errUnits: Long = 0L
    var totalWeight: Long = 0L

    private def ensureLevel(l: Int): Unit =
      if (l >= levels.length) {
        levels = levels.padTo(l + 1, Array.empty[Double])
        sizes = sizes.padTo(l + 1, 0)
        parity = parity.padTo(l + 1, false)
      }

    private def append(l: Int, v: Double): Unit = {
      ensureLevel(l)
      if (sizes(l) >= levels(l).length)
        levels(l) = java.util.Arrays.copyOf(levels(l), math.max(k, sizes(l) * 2))
      levels(l)(sizes(l)) = v
      sizes(l) += 1
    }

    def add(v: Double): Unit = {
      append(0, v)
      totalWeight += 1L
      if (sizes(0) >= k) compactFrom(0)
    }

    private def compactFrom(start: Int): Unit = {
      var l = start
      while (l < sizes.length && sizes(l) >= k) {
        val m = sizes(l)
        val buf = java.util.Arrays.copyOf(levels(l), m)
        java.util.Arrays.sort(buf)
        val even = m - (m % 2)
        // survivors of the odd tail stay at this level; alternating
        // elements of the even prefix promote at doubled weight
        sizes(l) = 0
        if (m % 2 == 1) append(l, buf(m - 1))
        val off = if (parity(l)) 1 else 0
        parity(l) = !parity(l)
        var i = off
        while (i < even) { append(l + 1, buf(i)); i += 2 }
        errUnits += 1L << l
        l += 1
      }
    }

    def mergeWith(other: State): Unit = {
      errUnits += other.errUnits
      totalWeight += other.totalWeight
      var l = 0
      while (l < other.sizes.length) {
        var i = 0
        while (i < other.sizes(l)) { append(l, other.levels(l)(i)); i += 1 }
        l += 1
      }
      l = 0
      while (l < sizes.length) { if (sizes(l) >= k) compactFrom(l); l += 1 }
    }

    /** Smallest retained value whose cumulative weight reaches
      * ceil(q * totalWeight) (>= 1) — in the exact regime, the classic
      * 1-based rank-ceil discrete quantile of the input multiset.
      */
    def quantile(q: Double): Double = quantilesOf(Seq(q))(0)

    /** All requested quantiles off ONE sort of the retained items: the
      * (value, cumulative-weight) arrays are built once, then each
      * percentile is a binary search for the first cumulative weight
      * reaching its target rank — O(S log S + P log S) instead of P
      * independent sorts (S = retained items, O(k log(n/k))).
      */
    def quantilesOf(qs: Seq[Double]): Array[Double] = {
      var s = 0
      var l = 0
      while (l < sizes.length) { s += sizes(l); l += 1 }
      val vals = new Array[Double](s)
      val wts = new Array[Long](s)
      var j = 0
      l = 0
      while (l < sizes.length) {
        var i = 0
        while (i < sizes(l)) {
          vals(j) = levels(l)(i); wts(j) = 1L << l; j += 1; i += 1
        }
        l += 1
      }
      // sort pairs by value: index sort keeps the weight attached
      val idx = Array.range(0, s).sortBy(vals)
      val cum = new Array[Long](s)
      var acc = 0L
      j = 0
      while (j < s) { acc += wts(idx(j)); cum(j) = acc; j += 1 }
      qs.map { q =>
        val target = math.max(1L, math.ceil(q * totalWeight).toLong)
        // first index with cum(i) >= target (cum is strictly increasing)
        var lo = 0
        var hi = s - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cum(mid) >= target) hi = mid else lo = mid + 1
        }
        vals(idx(lo))
      }.toArray
    }

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      // k leads the wire format so a union under a DIFFERENT k fails
      // loudly in fromBytes instead of silently re-compacting under the
      // caller's k (which would change the reported regime/err_units)
      out.writeInt(k)
      out.writeLong(errUnits)
      out.writeLong(totalWeight)
      out.writeInt(sizes.length)
      var l = 0
      while (l < sizes.length) {
        out.writeInt(sizes(l))
        out.writeBoolean(parity(l))
        var i = 0
        while (i < sizes(l)) { out.writeDouble(levels(l)(i)); i += 1 }
        l += 1
      }
      out.flush()
      bos.toByteArray
    }

    private[exec] def rawAppend(l: Int, v: Double): Unit = append(l, v)
    private[exec] def rawSetParity(l: Int, p: Boolean): Unit = {
      ensureLevel(l)
      parity(l) = p
    }
  }

  object State {
    def fromBytes(bytes: Array[Byte], k: Int): State = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val wireK = in.readInt()
      require(wireK == k,
        s"KLL sketch was built with k=$wireK but is being merged under " +
          s"k=$k — mixed-k unions silently change the error certificate; " +
          "rebuild the sketches or the union with one k")
      val st = new State(k)
      st.errUnits = in.readLong()
      st.totalWeight = in.readLong()
      val nLevels = in.readInt()
      var l = 0
      while (l < nLevels) {
        val n = in.readInt()
        val p = in.readBoolean()
        // reconstruct raw buffers without re-compacting (serialize always
        // leaves every level under k)
        var i = 0
        while (i < n) { st.rawAppend(l, in.readDouble()); i += 1 }
        st.rawSetParity(l, p)
        l += 1
      }
      st
    }
  }

  private[exec] def checkPercentiles(name: String, percentiles: Seq[Double]): Unit = {
    require(percentiles.nonEmpty, s"$name needs at least one percentile")
    percentiles.foreach(p =>
      require(p >= 0.0 && p <= 1.0, s"percentile out of [0, 1]: $p"))
  }

  private[exec] def doublesOnly(name: String, in: DataType): Option[String] =
    if (in == DoubleType) None
    else Some(s"$name aggregates doubles, got ${in.simpleString}")

  private[exec] val releaseType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("err_units", LongType, nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false))))

  /** (n, err_units, values[...]) — null values array when the group was
    * empty (quantiles of nothing are undefined, mirroring SQL).
    */
  private[exec] def release(state: State, percentiles: Seq[Double]): InternalRow = {
    val n = state.totalWeight
    val qs: Any =
      if (n == 0L) null
      else new GenericArrayData(state.quantilesOf(percentiles))
    InternalRow(n, state.errUnits, qs)
  }

  /** Aggregate: struct(n, err_units, values) — `values(i)` estimates the
    * `percentiles(i)` quantile of `c`, with the certificate
    * |true_rank(values(i)) - ceil(p*n)| <= err_units. err_units == 0 (n
    * under the buffer) means every value is exact.
    */
  def quantiles(c: Column, k: Int, percentiles: Seq[Double]): Column =
    SketchAggregate.column(
      ColumnBridge.resolvedExpression(c.cast("double")), KllQuantiles(k, percentiles))

  /** Aggregate: the serialized sketch of `c` (binary) — sketch per fine
    * group once, roll up with [[unionQuantiles]] without re-reading data.
    */
  def sketch(c: Column, k: Int): Column =
    SketchAggregate.column(
      ColumnBridge.resolvedExpression(c.cast("double")), KllSketch(k))

  /** Grouped rollup: union [[sketch]] outputs per group and extract
    * quantiles + certificate, same release shape as [[quantiles]]. Pass
    * the SAME k the sketches were built with.
    */
  def unionQuantiles(sketches: Column, k: Int,
      percentiles: Seq[Double]): Column =
    SketchAggregate.column(ColumnBridge.expression(sketches), KllUnion(k, percentiles))
}
