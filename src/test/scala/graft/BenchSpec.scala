package graft

/** `graft.Bench`'s query-name arguments are resolved before a session is
  * built: a typo costs nothing and never touches a running session.
  */
class BenchSpec extends SparkSpec {

  test("unknown query names fail before a session is built, every one listed") {
    val before = spark.conf.getAll
    val err = intercept[IllegalArgumentException](
      Bench.main(Array("q02_groupby_count", "no_such_a", "no_such_b", "no_such_a")))
    assert(err.getMessage === "unknown queries: no_such_a, no_such_b")
    // the shared session is neither stopped nor reconfigured by a builder
    assert(!spark.sparkContext.isStopped)
    assert(spark.conf.getAll === before)
    assert(spark.range(3).count() === 3)
  }

  test("no names select every registered query; names keep their order") {
    assert(Bench.queries(Nil).map(_._1).toSet === SparkEntry.queries.keySet)
    assert(Bench.queries(Seq("q141_bfs_distances", "q02_groupby_count",
      "q141_bfs_distances")).map(_._1) ===
      Seq("q141_bfs_distances", "q02_groupby_count"))
  }
}
