package graft.perfbench

class FingerprintSpec extends SparkSuite {
  import spark.implicits._

  test("independent of row order, column order and partitioning") {
    val a = Seq((1, "x", 0.5), (2, "y", 1.5), (3, "z", 2.5)).toDF("k", "s", "v")
    val b = a.select("v", "k", "s").orderBy($"k".desc).repartition(3)
    assert(Fingerprint.of(a) == Fingerprint.of(b))
    assert(Fingerprint.of(a).rows == 3)
  }

  test("integer widths, float noise and the sign of zero do not count") {
    val ints = Seq((1, 0.1 + 0.2, 0.0)).toDF("k", "v", "z")
    val longs = Seq((1L, 0.3, -0.0)).toDF("k", "v", "z")
    assert(Fingerprint.of(ints).hash == Fingerprint.of(longs).hash)
    assert(Fingerprint.of(ints).schema != Fingerprint.of(longs).schema)
  }

  test("values, duplicate rows and list contents count") {
    val base = Seq((1, 0.5), (2, 1.5)).toDF("k", "v")
    val changed = Seq((1, 0.5), (2, 1.50001)).toDF("k", "v")
    val dup = Seq((1, 0.5), (2, 1.5), (2, 1.5)).toDF("k", "v")
    val fp = Fingerprint.of(base)
    assert(fp.hash != Fingerprint.of(changed).hash)
    assert(fp.key != Fingerprint.of(dup).key)
    val l1 = Seq((1, Seq(1.0, 2.0))).toDF("k", "xs")
    val l2 = Seq((1, Seq(2.0, 1.0))).toDF("k", "xs")
    assert(Fingerprint.of(l1).hash != Fingerprint.of(l2).hash)
  }

  test("maps hash by their sorted entries") {
    val m1 = spark.sql("SELECT map('a', 1.0, 'b', 2.0) AS m")
    val m2 = spark.sql("SELECT map('b', 2.0, 'a', 1.0) AS m")
    assert(Fingerprint.of(m1).hash == Fingerprint.of(m2).hash)
  }

  test("empty output has a fingerprint") {
    val e = Seq((1, "x")).toDF("k", "s").filter($"k" > 5)
    assert(Fingerprint.of(e).key == "0:0.0")
  }
}
