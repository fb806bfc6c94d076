package graft.exec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** K-minimum-values (KMV / theta) distinct sketches (Beyer et al. 2007,
  * "On Synopses for Distinct-Value Estimation Under Multiset Operations"):
  * keep the `k` smallest distinct 64-bit hashes of a column. Where HLL
  * answers only "how many distinct", KMV sketches support SET ALGEBRA —
  * union, and crucially INTERSECTION estimates ("how many shingles do the
  * train and eval corpora share") that register sketches cannot express.
  *
  * The sketch is a bounded, mergeable aggregate: each task keeps at most
  * `k` longs, partials merge associatively (keep the k smallest of the
  * union), and only sketches cross the exchange. Set operations are pure
  * codegen'd array expressions over the released sketches — no second pass
  * over data.
  *
  * Exactness contract (the driver-oracle regime): while the true distinct
  * count is < k the sketch retains EVERY hash, so estimates are exact
  * counts and intersections are exact distinct-overlap counts (modulo
  * 64-bit hash collisions, ~n^2/2^64). Past k, the classic estimators
  * apply: distinct ~ (k-1)/U_(k) with relative error ~1/sqrt(k-2), and
  * intersection via the rho * union rule.
  *
  * Encoding: values are stored as xxhash64 XOR Long.MinValue, making
  * SIGNED ascending order equal UNSIGNED ascending order of the raw hash —
  * so plain array_sort / array ops / min-k logic all use natural longs.
  *
  * The two KMV kinds share the state, its merge, its bytes and the
  * released sorted array; they differ only in what they fold in.
  */
sealed trait KmvKind extends SketchKind[Kmv.State] {
  def k: Int
  require(k >= 2, s"$name needs k >= 2")

  def empty(): Kmv.State = new Kmv.State(k)
  def merge(state: Kmv.State, other: Kmv.State): Unit = state.mergeWith(other)
  def resultType(in: DataType): DataType = ArrayType(LongType, containsNull = false)
  def result(state: Kmv.State): Any = new GenericArrayData(state.sortedValues)
  def wire(in: DataType): (Kmv.State => Array[Byte], Array[Byte] => Kmv.State) =
    (_.toBytes, Kmv.State.fromBytes(_, k))
}

/** kmv_sketch: flipped 64-bit hashes in, the sorted sketch out. */
final case class KmvSketch(k: Int) extends KmvKind {
  def name: String = "kmv_sketch"
  def inputError(in: DataType): Option[String] =
    if (in == LongType) None
    else Some(s"kmv_sketch aggregates pre-hashed longs, got ${in.simpleString}")
  def add(state: Kmv.State, value: Any): Unit = state.add(value.asInstanceOf[Long])
}

/** kmv_union: grouped union of already-built KMV sketches — the rollup
  * aggregate that turns per-(day, source) sketches into per-source
  * sketches without re-reading data. Unlike HLL (whose direct builds score via HIP and
  * unions via the standard estimator), KMV has ONE estimator, so a rolled-
  * up sketch is BIT-IDENTICAL to a direct single-pass sketch of the
  * combined data: k-smallest-of-union is associative, order-free, and
  * exactly what one pass retains (KmvSpec pins this).
  */
final case class KmvUnion(k: Int) extends KmvKind {
  def name: String = "kmv_union"
  def inputError(in: DataType): Option[String] = in match {
    case ArrayType(LongType, _) => None
    case other =>
      Some(s"kmv_union merges array<bigint> sketches, got ${other.simpleString}")
  }
  def add(state: Kmv.State, value: Any): Unit = {
    val arr = value.asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) { state.add(arr.getLong(i)); i += 1 }
  }
}

/** The KMV state, the column API over [[KmvSketch]] and [[KmvUnion]],
  * plus the codegen'd set-operation estimators. Sketches are sorted array<long> in the flipped encoding;
  * every helper below is a pure projection over released sketches.
  *
  * INVARIANT: every sketch passed to [[estimate]] / [[union]] /
  * [[intersectEstimate]] / [[jaccardEstimate]] must have been built by
  * [[sketch]]/[[unionAgg]] with the SAME `k` — the sketch array does not
  * carry its k, so the estimators trust the caller. A sketch built with a
  * LARGER k is caught structurally (size > k fails loudly via
  * [[checkK]]); a sketch built with a SMALLER k is indistinguishable from
  * an exact-regime sketch and would silently bias the estimator — keep k
  * in one place at the call site.
  */
object Kmv {
  /** Bounded min-k set of flipped hashes. A TreeSet keeps membership and
    * max-eviction both O(log k); state never exceeds k entries.
    */
  final class State(val k: Int) {
    private val set = new java.util.TreeSet[java.lang.Long]()

    def add(v: Long): Unit =
      if (set.size < k) { set.add(v); () }
      else if (v < set.last()) { if (set.add(v)) { set.pollLast(); () } }

    def mergeWith(other: State): Unit = {
      val it = other.set.iterator()
      while (it.hasNext) add(it.next())
    }

    def sortedValues: Array[Long] = {
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(set.size)
      val it = set.iterator()
      while (it.hasNext) out.writeLong(it.next())
      out.flush()
      bos.toByteArray
    }
  }

  object State {
    def fromBytes(bytes: Array[Byte], k: Int): State = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val st = new State(k)
      val n = in.readInt()
      var i = 0
      while (i < n) { st.add(in.readLong()); i += 1 }
      st
    }
  }

  /** Structural k guard: a sketch can never hold more than its k hashes,
    * so size > k proves a mismatched (larger-k) sketch — fail loudly
    * instead of estimating from the wrong order statistic.
    */
  private def checkK(sk: Column, k: Int): Column =
    when(size(sk) > k,
      raise_error(concat(
        lit("kmv: sketch holds "), size(sk).cast("string"),
        lit(s" hashes but k=$k was passed — it was built with a larger k"))))
      .otherwise(sk)

  /** Grouped rollup: union many sketches per group ([[KmvUnion]]);
    * bit-identical to sketching the combined data directly.
    */
  def unionAgg(sketches: Column, k: Int): Column =
    SketchAggregate.column(ColumnBridge.expression(sketches), KmvUnion(k))

  /** Aggregate: the KMV sketch of `c` (any type; hashed with xxhash64).
    * Null items are skipped, matching count(DISTINCT c)'s null discipline.
    */
  def sketch(c: Column, k: Int): Column = {
    val flipped = when(c.isNotNull,
      xxhash64(c).bitwiseXOR(lit(Long.MinValue)))
    SketchAggregate.column(ColumnBridge.resolvedExpression(flipped), KmvSketch(k))
  }

  /** Normalized uniform of the flipped hash at `idx` (0-based), in (0, 1). */
  private def u(sk: Column, idx: Column): Column =
    (element_at(sk, idx + 1).cast("double") + lit(9.223372036854776e18)) /
      lit(1.8446744073709552e19)

  /** Distinct-count estimate: exact size while < k (every hash retained),
    * else (k-1) / U_(k).
    */
  def estimate(sk: Column, k: Int): Column = {
    val s = checkK(sk, k)
    when(size(s) < k, size(s).cast("double"))
      .otherwise(lit((k - 1).toDouble) / u(s, lit(k - 1)))
  }

  /** Union sketch: the k smallest distinct hashes of either side — exactly
    * the sketch a single pass over the concatenated data would build.
    */
  def union(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(checkK(a, k), checkK(b, k)))), 1, k)

  /** Distinct-intersection estimate via the rho * union rule
    * (|U_k ∩ A ∩ B| / |U_k|) * estimate(U_k): exact when the union stays
    * under k (U_k then holds every hash of both sides), the standard
    * theta-sketch estimator past it.
    */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val uk = union(a, b, k)
    val common = size(array_intersect(array_intersect(uk, a), b))
    when(size(uk) === 0, lit(0.0)).otherwise(
      common.cast("double") / size(uk).cast("double") * estimate(uk, k))
  }

  /** Jaccard estimate of the two distinct sets: |U_k ∩ A ∩ B| / |U_k|. */
  def jaccardEstimate(a: Column, b: Column, k: Int): Column = {
    val uk = union(a, b, k)
    when(size(uk) === 0, lit(0.0)).otherwise(
      size(array_intersect(array_intersect(uk, a), b)).cast("double") /
        size(uk).cast("double"))
  }
}
