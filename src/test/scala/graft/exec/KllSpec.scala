package graft.exec

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** KLL-style compactor quantile sketch: exact-regime bit equality with a
  * rank model, the estimator-regime error certificate, merge/partition
  * invariance of the certificate, and the bounded-state claim.
  */
class KllSpec extends SparkSpec {
  import spark.implicits._

  /** Discrete rank-ceil quantile of a plain multiset (the sketch's
    * exact-regime definition): smallest value with 1-based rank
    * >= ceil(q*n).
    */
  private def rankQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s((math.max(1L, math.ceil(q * s.size).toLong) - 1L).toInt)
  }

  test("exact regime (n < k): err_units = 0 and every percentile equals " +
      "the rank model bit for bit, under any partitioning") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(300)(rnd.nextDouble() * 1000 - 500)
    val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    for (parts <- Seq(1, 7)) {
      val row = xs.toDF("v").repartition(parts)
        .agg(Kll.quantiles(col("v"), 400, ps).as("s"))
        .select("s.n", "s.err_units", "s.values").head()
      assert(row.getLong(0) === 300L)
      assert(row.getLong(1) === 0L, "nothing may compact under the buffer")
      val got = row.getSeq[Double](2)
      assert(got === ps.map(rankQuantile(xs, _)), s"parts=$parts")
    }
  }

  test("estimator regime: the released err_units is a valid rank " +
      "certificate on random data at several k, any partitioning") {
    val rnd = new scala.util.Random(23)
    val n = 20000
    val xs = Seq.fill(n)(rnd.nextGaussian() * 100)
    val sorted = xs.sorted
    val ps = Seq(0.1, 0.5, 0.9)
    for (k <- Seq(64, 256); parts <- Seq(3, 17)) {
      val row = xs.toDF("v").repartition(parts)
        .agg(Kll.quantiles(col("v"), k, ps).as("s"))
        .select("s.n", "s.err_units", "s.values").head()
      assert(row.getLong(0) === n.toLong)
      val err = row.getLong(1)
      // the certificate must be non-vacuous: well under n
      assert(err > 0L && err < n / 4, s"k=$k parts=$parts err=$err")
      val got = row.getSeq[Double](2)
      for ((q, est) <- ps.zip(got)) {
        // true rank range of the estimate in the sorted data
        val lo = sorted.indexWhere(_ >= est) + 1 // first 1-based position
        val hi = sorted.lastIndexWhere(_ <= est) + 1
        val target = math.ceil(q * n).toLong
        assert(target >= lo - err && target <= hi + err,
          s"k=$k parts=$parts q=$q est=$est rank=[$lo,$hi] " +
            s"target=$target err=$err")
        // every estimate is a genuine retained input value
        assert(xs.contains(est), s"estimate $est is not an input value")
      }
    }
  }

  test("state stays bounded: the serialized sketch of 50k values at " +
      "k=128 is a few KB, not O(n)") {
    val st = new Kll.State(128)
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 50000) st.add(rnd.nextDouble())
    val bytes = st.toBytes.length
    // ~k doubles per level x log2(50000/128) ~ 9 levels ~ 10KB ceiling
    assert(bytes < 20000, s"state grew to $bytes bytes")
    // roundtrip preserves the certificate and the quantiles
    val back = Kll.State.fromBytes(st.toBytes, 128)
    assert(back.errUnits === st.errUnits)
    assert(back.totalWeight === st.totalWeight)
    assert(back.quantile(0.5) === st.quantile(0.5))
  }

  test("merge equals a sequential build's certificate discipline: " +
      "mergeWith never loses weight and keeps err accounting additive") {
    val a = new Kll.State(64)
    val b = new Kll.State(64)
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 5000) a.add(rnd.nextDouble())
    for (_ <- 1 to 3000) b.add(rnd.nextDouble() + 0.5)
    val errBefore = a.errUnits + b.errUnits
    a.mergeWith(b)
    assert(a.totalWeight === 8000L)
    assert(a.errUnits >= errBefore) // merge may compact, never un-compact
    val med = a.quantile(0.5)
    assert(med > 0.0 && med < 1.5)
  }

  test("numericProfileSketched: exact-regime groups match the rank model " +
      "per group; nulls are skipped; all-null groups release null " +
      "percentiles") {
    val schema = StructType(Seq(strCol("g"), dblCol("v")))
    val rnd = new scala.util.Random(3)
    val ga = Seq.fill(150)(rnd.nextDouble() * 10)
    val gb = Seq.fill(90)(rnd.nextDouble() * 10 + 100)
    val rows = ga.map(v => Row("a", v)) ++ gb.map(v => Row("b", v)) ++
      Seq(Row("a", null), Row("c", null))
    val out = graft.pipeline.CorpusStats.numericProfileSketched(
      makeDf(schema, rows), Seq("g"), "v", Seq(0.5, 0.9), k = 400)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 150L) // null skipped from the count
    assert(out("a").getLong(4) === 0L)   // err_units: exact regime
    assert(out("a").getDouble(5) === rankQuantile(ga, 0.5))
    assert(out("a").getDouble(6) === rankQuantile(ga, 0.9))
    assert(out("b").getDouble(5) === rankQuantile(gb, 0.5))
    assert(out("c").getLong(1) === 0L)
    assert(out("c").isNullAt(5) && out("c").isNullAt(6))
  }

  test("rollup: union of exact fine sketches under k is EXACT and equals " +
      "both the direct sketch and the rank model") {
    val rnd = new scala.util.Random(13)
    val schema = StructType(Seq(strCol("g"), strCol("src"), dblCol("v")))
    val vals = Seq("a", "b").flatMap(g => Seq("x", "y", "z").flatMap(src =>
      Seq.fill(40)((g, src, rnd.nextDouble() * 100))))
    val df = makeDf(schema, vals.map { case (g, sc, v) => Row(g, sc, v) })
    val ps = Seq(0.25, 0.5, 0.75)
    val rolled = df.groupBy(col("g"), col("src"))
      .agg(Kll.sketch(col("v"), 400).as("sk"))
      .groupBy("g").agg(Kll.unionQuantiles(col("sk"), 400, ps).as("u"))
      .select(col("g"), col("u.n"), col("u.err_units"), col("u.values"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Double](3)))).toMap
    val direct = df.groupBy("g")
      .agg(Kll.quantiles(col("v"), 400, ps).as("u"))
      .select(col("g"), col("u.values"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    for (g <- Seq("a", "b")) {
      val byG = vals.collect { case (`g`, _, v) => v }
      assert(rolled(g)._1 === 120L)
      assert(rolled(g)._2 === 0L, "rollup under k must stay exact")
      assert(rolled(g)._3 === ps.map(rankQuantile(byG, _)))
      assert(rolled(g)._3 === direct(g), "rollup == direct in exact regime")
    }
  }

  test("rollup: estimator-regime certificates compose — merged err covers " +
      "the true rank slack and is at least the parts' sum") {
    val rnd = new scala.util.Random(29)
    val parts = Seq.fill(6)(Seq.fill(3000)(rnd.nextGaussian()))
    val all = parts.flatten
    val sorted = all.sorted
    val k = 64
    // per-part states (the "fine sketches"), then a merge chain
    val fine = parts.map { p =>
      val st = new Kll.State(k)
      p.foreach(st.add)
      st
    }
    val partErr = fine.map(_.errUnits).sum
    val merged = Kll.State.fromBytes(fine.head.toBytes, k)
    fine.tail.foreach(merged.mergeWith)
    assert(merged.totalWeight === all.size.toLong)
    assert(merged.errUnits >= partErr)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = merged.quantile(q)
      val lo = sorted.indexWhere(_ >= est) + 1
      val hi = sorted.lastIndexWhere(_ <= est) + 1
      val target = math.ceil(q * all.size).toLong
      assert(target >= lo - merged.errUnits && target <= hi + merged.errUnits,
        s"q=$q est=$est rank=[$lo,$hi] target=$target err=${merged.errUnits}")
    }
    assert(merged.errUnits < all.size / 4, "certificate must be non-vacuous")
  }

  test("equiDepthBins: quartile bins by hand — edge values bin DOWN, " +
      "nulls get null bins, counts are equal-depth; guards") {
    val C = graft.pipeline.CorpusStats
    val schema = StructType(Seq(longCol("id"), dblCol("v")))
    // 8 values: quartile edges (rank-ceil at 2, 4, 6) = 20, 40, 60
    val rows = (1 to 8).map(i => Row(i.toLong, i * 10.0)) :+ Row(99L, null)
    val out = C.equiDepthBins(makeDf(schema, rows), "v", 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(out(1L) === Some(0) && out(2L) === Some(0)) // 20 <= edge 20
    assert(out(3L) === Some(1) && out(4L) === Some(1))
    assert(out(5L) === Some(2) && out(6L) === Some(2))
    assert(out(7L) === Some(3) && out(8L) === Some(3))
    assert(out(99L) === None)
    // nBins = 1: everything non-null in bin 0
    val one = C.equiDepthBins(makeDf(schema, rows), "v", 1)
      .where("v IS NOT NULL").select("bin").distinct().collect()
    assert(one.map(_.getInt(0)).toSeq === Seq(0))
    // empty input: bin column present, no rows
    assert(C.equiDepthBins(
      makeDf(schema, Nil), "v", 4).columns.contains("bin"))
    intercept[IllegalArgumentException] {
      C.equiDepthBins(makeDf(schema, rows), "v", 0)
    }
    intercept[IllegalArgumentException] {
      C.equiDepthBins(makeDf(schema, rows).withColumnRenamed("id", "bin"),
        "v", 4)
    }
  }

  test("guards: k too small, bad percentiles, non-numeric input") {
    intercept[IllegalArgumentException] {
      KllQuantiles(4, Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      KllQuantiles(64, Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      KllQuantiles(64, Nil)
    }
  }

  test("distributionDrift: reference bins its own quantiles ~uniformly, " +
      "a shifted current corpus shows the skew; zero-fill, truncating " +
      "ppm, NULLs uncounted; empty reference refuses") {
    import graft.pipeline.{CorpusStats => C}
    val schema = StructType(Seq(dblCol("v")))
    // ref 1..100 -> edges 25/50/75; cur all in the top bin plus a NULL
    val ref = makeDf(schema, (1 to 100).map(i => Row(i.toDouble)))
    val cur = makeDf(schema,
      (1 to 30).map(i => Row(80.0 + i % 10)) :+ Row(null))
    val got = C.distributionDrift(ref, cur, "v", nBins = 4, k = 256)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(got === Seq(
      (0, 25L, 0L, 250000L, 0L),
      (1, 25L, 0L, 250000L, 0L),
      (2, 25L, 0L, 250000L, 0L),
      (3, 25L, 30L, 250000L, 1000000L)))
    // truncating ppm: 3 bins of 1/3 never sum past 10^6
    val ref3 = makeDf(schema, (1 to 3).map(i => Row(i.toDouble)))
    val got3 = C.distributionDrift(ref3, ref3, "v", nBins = 3, k = 64)
      .collect().map(r => r.getLong(3))
    assert(got3.forall(_ == 333333L))
    intercept[IllegalArgumentException](C.distributionDrift(
      makeDf(schema, Seq(Row(null))), cur, "v", nBins = 4))
    intercept[IllegalArgumentException](
      C.distributionDrift(ref, cur, "v", nBins = 1))
  }

  test("union under a DIFFERENT k fails loudly (k is in the wire format; " +
      "a silent re-compaction would change the certificate)") {
    val schema = StructType(Seq(strCol("g"), dblCol("v")))
    val df = makeDf(schema, (1 to 50).map(i => Row("a", i.toDouble)))
    val sk = df.groupBy("g").agg(Kll.sketch(col("v"), 64).as("sk"))
    val e = intercept[Exception] {
      sk.agg(Kll.unionQuantiles(col("sk"), 128, Seq(0.5)).as("u"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m =>
      m.contains("built with k=64") && m.contains("k=128")))
  }
}
