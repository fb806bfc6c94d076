package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class SkewReportSpec extends SparkSpec {

  private def keys(ks: Seq[String]) = makeDf(
    StructType(Seq(strCol("k"))), ks.map(Row(_)))

  test("skew report: hand-computed histogram stats and entropy") {
    // histogram a:4 b:2 c:2, T=8 -> per-key micro-nat terms
    // 4*round(ln(2)*1e6) + 2*round(ln(4)*1e6) + 2*round(ln(4)*1e6)
    val out = Salting.keySkewReport(
      keys(Seq("a", "a", "a", "a", "b", "b", "c", "c")), "k").collect().head
    val ln2 = math.round(math.log(2.0) * 1e6)
    val ln4 = math.round(math.log(4.0) * 1e6)
    val num = 4 * ln2 + 2 * ln4 + 2 * ln4
    assert(out.getLong(0) === 3L) // n_keys
    assert(out.getLong(1) === 8L) // n_rows
    assert(out.getLong(2) === 4L) // max_count
    assert(out.getLong(3) === num)
    assert(out.getDouble(4) === num / 8.0)
  }

  test("uniform keys score ln(n_keys); a single key scores zero entropy") {
    val uni = Salting.keySkewReport(
      keys(Seq("a", "b", "c", "d")), "k").collect().head
    assert(uni.getLong(3) === 4 * math.round(math.log(4.0) * 1e6))
    val one = Salting.keySkewReport(keys(Seq("z", "z", "z")), "k").collect().head
    assert(one.getLong(3) === 0L) // ln(T/T) = 0: fully concentrated
    assert(one.getLong(2) === 3L)
  }

  test("salted join equals the plain join and spreads the hot key") {
    import org.apache.spark.sql.functions._
    // one hot key (k=1) with many rows, plus a tail
    val skewed = makeDf(StructType(Seq(longCol("k"), longCol("v"))),
      (1L to 300L).map(i => Row(if (i <= 250) 1L else i, i)))
    val dim = makeDf(StructType(Seq(longCol("k"), strCol("name"))),
      (1L to 300L).map(i => Row(i, s"n$i")))
    val plain = skewed.join(dim, Seq("k")).select("k", "v", "name")
    val salted = Salting.saltedJoin(skewed, dim, Seq("k"), buckets = 8)
      .select("k", "v", "name")
    assert(salted.collect().toSet === plain.collect().toSet)
    // the hot key's rows land in several salt buckets
    val spread = skewed
      .withColumn("s", Salting.saltExpr(skewed.columns.map(col).toSeq, 8))
      .filter(col("k") === 1L).select("s").distinct().count()
    assert(spread > 1, s"hot key stayed in $spread salt bucket(s)")
  }

  test("saltedJoin refuses an input already carrying the salt scratch " +
      "column on either side (withColumn would silently replace it)") {
    import org.apache.spark.sql.functions._
    val a = keys(Seq("x", "y"))
    val bad = a.withColumn("__graft_salt", lit(0L))
    val e1 = intercept[IllegalArgumentException] {
      Salting.saltedJoin(bad, a, Seq("k"), 4)
    }
    assert(e1.getMessage.contains("__graft_salt"))
    val e2 = intercept[IllegalArgumentException] {
      Salting.saltedJoin(a, bad, Seq("k"), 4)
    }
    assert(e2.getMessage.contains("other side"))
  }
}
