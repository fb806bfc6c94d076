package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.exec.Materialize
import graft.exec.Materialize.Pin
import graft.pipeline.{CorpusStats, Dedup}

/** Every frame an operator caches is released on every path: through
  * [[Materialize.scoped]], a body that returns and a body that throws leave
  * no cache entry behind. The operators whose input guards refuse after
  * their first cache is taken are checked on the refusal path.
  *
  * Suites share one SparkContext and run concurrently, so nothing here
  * reads a global count: the unit test looks its own frames up in the
  * cache manager (`private[sql]`, hence this package), and the operator
  * tests look for cached blocks whose lineage reads their own input RDD.
  */
class ScopedReleaseSpec extends SparkSpec {

  private def cacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  private def isCached(df: DataFrame): Boolean =
    cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[Row]]).isDefined

  /** A frame over its own RDD of `rows`, and that RDD. */
  private def sourced(schema: StructType, rows: Seq[Row]): (DataFrame, RDD[Row]) = {
    val rdd = spark.sparkContext.parallelize(rows, 2)
    (spark.createDataFrame(rdd, schema), rdd)
  }

  /** Ids of the persisted RDDs whose lineage reads `source`. */
  private def heldFrom(source: RDD[_]): Seq[Int] = {
    def reads(r: RDD[_], seen: mutable.Set[Int]): Boolean =
      r.id == source.id ||
        (seen.add(r.id) && r.dependencies.exists(d => reads(d.rdd, seen)))
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => reads(r, mutable.Set.empty)).map(_.id).toSeq
  }

  private val pairSchema = StructType(Seq(
    StructField("b", LongType), StructField("i", StringType)))
  // basket 1 holds three frequent items, more than maxBasketItems = 2
  private val baskets = Seq(Row(1L, "x"), Row(1L, "y"), Row(1L, "z"),
    Row(2L, "x"), Row(2L, "y"))

  test("a scoped body that reuses two frames and then throws releases both") {
    val a = spark.range(10).toDF("v").withColumn("w", col("v") * 2)
    val b = spark.range(5).toDF("v").withColumn("w", col("v") + 7)
    val e = intercept[IllegalStateException] {
      Materialize.scoped { reuse =>
        reuse(a).count()
        reuse(b)
        assert(isCached(a) && isCached(b))
        throw new IllegalStateException("refused")
      }
    }
    assert(e.getMessage === "refused")
    assert(!isCached(a) && !isCached(b))
  }

  test("a scoped body that returns releases what it reused and keeps its result") {
    val a = spark.range(10).toDF("v").withColumn("w", col("v") * 3)
    val out = Materialize.scoped { reuse =>
      reuse(a).agg(sum("w").as("t")).pin("ScopedReleaseSpec")
    }
    assert(!isCached(a))
    assert(out.collect().toSeq === Seq(Row(135L)))
  }

  test("the lineage probe sees a cached frame of its source") {
    val (df, src) = sourced(pairSchema, baskets)
    val c = df.groupBy("b").count().persist()
    try {
      c.count()
      assert(heldFrom(src).nonEmpty)
    } finally c.unpersist(true)
    assert(heldFrom(src).isEmpty)
  }

  test("editDistancePairs refused on maxLenBucket holds no cache") {
    val (df, src) = sourced(StructType(Seq(StructField("s", StringType))),
      Seq(Row("ab"), Row("ac"), Row("ad")))
    val e = intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "s", maxDistance = 1, maxLenBucket = 2)
    }
    assert(e.getMessage.contains("maxLenBucket=2"))
    assert(heldFrom(src).isEmpty)
  }

  test("frequentPairs refused on maxBasketItems holds no cache") {
    val (df, src) = sourced(pairSchema, baskets)
    val e = intercept[IllegalArgumentException] {
      CorpusStats.frequentPairs(df, "b", "i", minSupport = 1L, maxBasketItems = 2)
    }
    assert(e.getMessage.contains("maxBasketItems=2"))
    assert(heldFrom(src).isEmpty)
  }

  test("pairAffinity refused on maxBasketItems holds no cache") {
    val (df, src) = sourced(pairSchema, baskets)
    val e = intercept[IllegalArgumentException] {
      CorpusStats.pairAffinity(df, "b", "i", minSupport = 1L, maxBasketItems = 2)
    }
    assert(e.getMessage.contains("maxBasketItems=2"))
    assert(heldFrom(src).isEmpty)
  }
}
