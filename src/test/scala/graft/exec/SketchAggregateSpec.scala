package graft.exec

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The eight sketch aggregates run by [[SketchAggregate]]: their bytes,
  * names, type checks and plan strings are pinned to the values the
  * hand-written aggregates they replaced produced, and the serialize path
  * is run through Spark's sort-based fallback.
  */
class SketchAggregateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def doubles(n: Int, salt: Int): Seq[Double] =
    (0 until n).map(i => ((i * 7919 + salt) % 1009).toDouble / 7.0)

  private def hashes(n: Int, salt: Long): Seq[Long] =
    (0 until n).map(i => (i + salt) * 0x9E3779B97F4A7C15L)

  private def keys(n: Int): Seq[String] =
    (0 until n).map(i => s"key${(i * i) % 11}")

  // Streaming.streamingQuantiles checkpoints Kll.State bytes under
  // StateVersions.Kll: a change to these pins needs a state-version bump
  test("state wire bytes are pinned: KLL past compaction and merged, KMV, " +
      "SpaceSaving past eviction") {
    val kll = new Kll.State(16)
    doubles(1000, 1).foreach(kll.add)
    assert(kll.errUnits > 0L, "the KLL pin must cover compaction")
    val kllOther = new Kll.State(16)
    doubles(700, 3).foreach(kllOther.add)
    val kmv = new Kmv.State(16)
    hashes(200, 0L).foreach(kmv.add)
    val ss = new SpaceSavingTopK.Sketch(4)
    keys(300).foreach(k => ss.add(k))
    assert(ss.evicted, "the SpaceSaving pin must cover eviction")
    assert(md5(kll.toBytes) === "de6d28dcfb35fa8afdeb2fa9b98063ea")
    kll.mergeWith(kllOther)
    assert(md5(kll.toBytes) === "1bd557a3c05032520cfd1371599a9dd4")
    assert(md5(kmv.toBytes) === "fba29bb1210f277e86cd976ab88d5b2c")
    assert(md5(ss.toBytes) === "ee486e96c2069ce581c5013f10b8eb32")
  }

  /** MD5 of the buffer built from `inputs` in two halves, the second
    * merged in after a serialize/deserialize round trip.
    */
  private def bufferBytes[T](agg: TypedImperativeAggregate[T], inputs: Seq[Any]): String = {
    val (left, right) = inputs.splitAt(inputs.size / 2)
    val a = agg.createAggregationBuffer()
    left.foreach(v => agg.update(a, InternalRow(v)))
    val b = agg.createAggregationBuffer()
    right.foreach(v => agg.update(b, InternalRow(v)))
    md5(agg.serialize(agg.merge(a, agg.deserialize(agg.serialize(b)))))
  }

  test("every sketch aggregate's serialized buffer is pinned") {
    def ref(t: DataType) = BoundReference(0, t, nullable = true)
    def sk(xs: Seq[Double]) = {
      val st = new Kll.State(16)
      xs.foreach(st.add)
      st.toBytes
    }
    val strs = keys(300).map(UTF8String.fromString) :+ null
    val got = Seq(
      "kll_quantiles" -> bufferBytes(
        SketchAggregate(ref(DoubleType), KllQuantiles(16, Seq(0.5))), doubles(500, 1) :+ null),
      "kll_sketch" -> bufferBytes(
        SketchAggregate(ref(DoubleType), KllSketch(16)), doubles(500, 2) :+ null),
      "kll_union" -> bufferBytes(
        SketchAggregate(ref(BinaryType), KllUnion(16, Seq(0.5))),
        Seq(sk(doubles(300, 1)), null, sk(doubles(200, 5)), sk(doubles(40, 9)))),
      "kmv_sketch" -> bufferBytes(
        SketchAggregate(ref(LongType), KmvSketch(16)), hashes(200, 0L) :+ null),
      "kmv_union" -> bufferBytes(
        SketchAggregate(ref(ArrayType(LongType, containsNull = false)), KmvUnion(16)),
        Seq(hashes(30, 0L), hashes(30, 100L), hashes(30, 7L))
          .map(h => new GenericArrayData(h.sorted.toArray)) :+ null),
      "space_saving_topk" -> bufferBytes(
        SketchAggregate(ref(StringType), SpaceSavingTopK(4, 2)), strs),
      "count_min" -> bufferBytes(
        SketchAggregate(ref(StringType), CountMinSketch(3, 8)), strs),
      "bounded_collect_list" -> bufferBytes(
        SketchAggregate(ref(LongType), BoundedCollectList(5)),
        (1L to 12L).map(i => i * i) :+ null))
    assert(got === Seq(
      "kll_quantiles" -> "2edb9be54fe6b6f2c9d9f01d0b0ede3e",
      "kll_sketch" -> "afa810646b7fa101fabd93d29d8e5cce",
      "kll_union" -> "d986594feddc52a52449880a4bd9adee",
      "kmv_sketch" -> "fba29bb1210f277e86cd976ab88d5b2c",
      "kmv_union" -> "6cf8aed3f3fff92a7b8dcdccf6b5dd93",
      "space_saving_topk" -> "27db5040ce2a55d262fb2e82cd298de5",
      "count_min" -> "fc2e2da21ec92e935e5efe7f57abd736",
      "bounded_collect_list" -> "7c8cd1147263065bec2ce1aa200970be"))
  }

  test("names, plan strings, result types and type-check messages are " +
      "kept; identical aggregates are equal") {
    def ref(t: DataType) = BoundReference(0, t, nullable = true)
    val release = "struct<n:bigint,err_units:bigint,values:array<double>>"
    val cases: Seq[(SketchAggregate[_], String, String, Option[String])] = Seq(
      (SketchAggregate(ref(DoubleType), KllQuantiles(16, Seq(0.25, 0.5))),
        "kll_quantiles(input[0, double, true], 16, 0.25, 0.5, 0, 0)", release,
        Some("kll_quantiles aggregates doubles, got int")),
      (SketchAggregate(ref(DoubleType), KllSketch(16)),
        "kll_sketch(input[0, double, true], 16, 0, 0)", "binary",
        Some("kll_sketch aggregates doubles, got int")),
      (SketchAggregate(ref(BinaryType), KllUnion(16, Seq(0.5))),
        "kll_union(input[0, binary, true], 16, 0.5, 0, 0)", release,
        Some("kll_union merges binary sketches, got int")),
      (SketchAggregate(ref(LongType), KmvSketch(16)),
        "kmv_sketch(input[0, bigint, true], 16, 0, 0)", "array<bigint>",
        Some("kmv_sketch aggregates pre-hashed longs, got int")),
      (SketchAggregate(ref(ArrayType(LongType)), KmvUnion(16)),
        "kmv_union(input[0, array<bigint>, true], 16, 0, 0)", "array<bigint>",
        Some("kmv_union merges array<bigint> sketches, got int")),
      (SketchAggregate(ref(StringType), SpaceSavingTopK(4, 2)),
        "space_saving_topk(input[0, string, true], 4, 2, 0, 0)",
        "array<struct<key:string,count:bigint,error:bigint>>",
        Some("space_saving_topk tracks string keys; cast int to string first")),
      (SketchAggregate(ref(StringType), CountMinSketch(3, 8)),
        "count_min(input[0, string, true], 3, 8, 0, 0)", "array<bigint>",
        Some("count_min sketches string keys; cast int first")),
      (SketchAggregate(ref(LongType), BoundedCollectList(5)),
        "bounded_collect_list(input[0, bigint, true], 5, 0, 0)", "array<bigint>",
        None))
    val int = BoundReference(0, IntegerType, nullable = true)
    cases.foreach { case (agg, plan, resultType, refusal) =>
      assert(agg.toString === plan)
      assert(agg.toAggregateExpression().toString === plan)
      assert(agg.sql === s"${agg.prettyName}(boundreference())")
      assert(agg.dataType.simpleString === resultType, plan)
      assert(!agg.nullable, plan)
      assert(agg.withNewChildren(Seq(int)).checkInputDataTypes() ===
        refusal.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
          TypeCheckResult.TypeCheckFailure), plan)
    }
    // bounded_collect_list's result type follows its input
    assert(cases.last._1.withNewChildren(Seq(int)).dataType.simpleString === "array<int>")
    val median = SketchAggregate(ref(DoubleType), KllQuantiles(16, Seq(0.5)))
    assert(median === SketchAggregate(ref(DoubleType), KllQuantiles(16, Seq(0.5))))
    assert(median !== SketchAggregate(ref(DoubleType), KllQuantiles(32, Seq(0.5))))
    assert(median !== SketchAggregate(ref(DoubleType), KllUnion(16, Seq(0.5))))
  }

  private val ps = Seq(0.0, 0.1, 0.5, 0.9, 1.0)

  /** Each aggregate shape over a grouped input in 6 partitions, every
    * group in every partition, 1 row in 13 null. Sketch sizes keep each
    * result independent of merge order, so two physical strategies must
    * agree row for row. Also returns how many tasks fell back to sort.
    */
  private def shapes(sess: SparkSession): (Seq[(String, Seq[Row])], Long) = {
    val rows = (0 until 2400).map { i =>
      if (i % 13 == 0) Row((i % 5).toLong, (i % 3).toLong, null, null)
      else Row((i % 5).toLong, (i % 3).toLong, ((i * 7919) % 1009).toDouble,
        s"key${(i * i) % 7}")
    }
    val schema = StructType(Seq(longCol("g"), longCol("sub"),
      StructField("v", DoubleType), StructField("key", StringType)))
    val df = sess.createDataFrame(sess.sparkContext.parallelize(rows, 6), schema)
    val fine = df.groupBy("g", "sub")
      .agg(Kll.sketch(col("v"), 1024).as("kll"), Kmv.sketch(col("v"), 32).as("kmv"))
    val frames: Seq[(String, DataFrame)] = Seq(
      "kll_quantiles" -> df.groupBy("g").agg(Kll.quantiles(col("v"), 1024, ps)),
      "kll_sketch" -> df.groupBy("g").agg(Kll.sketch(col("v"), 1024)),
      "kll_union" -> fine.groupBy("g").agg(Kll.unionQuantiles(col("kll"), 1024, ps)),
      "kmv_sketch" -> df.groupBy("g").agg(Kmv.sketch(col("v"), 32)),
      "kmv_union" -> fine.groupBy("g").agg(Kmv.unionAgg(col("kmv"), 32)),
      "space_saving_topk" ->
        df.groupBy("g").agg(SpaceSaving.spaceSavingTopK(col("key"), 8, 3)),
      "count_min" -> df.groupBy("g").agg(CountMin.sketch(col("key"), 3, 16)),
      "bounded_collect_list" -> df.groupBy("g").agg(
        sort_array(BoundedCollect.boundedCollectList(col("v"), 1000)),
        size(BoundedCollect.boundedCollectList(col("v"), 50))))
    var fellBack = 0L
    val out = frames.map { case (name, frame) =>
      val f = frame.orderBy("g")
      val got = f.collect().toSeq
      fellBack += collect(f.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }.sum
      // a released KLL sketch lists retained values in arrival order:
      // compare what it certifies instead of its bytes
      name -> (if (name != "kll_sketch") got else got.map { r =>
        val st = Kll.State.fromBytes(r.getAs[Array[Byte]](1), 1024)
        Row(r.getLong(0), st.totalWeight, st.errUnits, st.quantilesOf(ps).toSeq)
      })
    }
    (out, fellBack)
  }

  test("the sort-based fallback serializes every buffer and gives the same " +
      "rows for all eight aggregate shapes") {
    val (hashed, hashFellBack) = shapes(spark)
    val sorting = spark.newSession()
    sorting.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    val (sorted, sortFellBack) = shapes(sorting)
    assert(hashFellBack === 0L)
    assert(sortFellBack > 0L, "the threshold must force the sort-based path")
    hashed.zip(sorted).foreach { case ((name, a), (_, b)) =>
      assert(a.size === 5, name)
      assert(a === b, name)
    }
  }
}
