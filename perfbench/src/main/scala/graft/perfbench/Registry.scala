package graft.perfbench


import org.apache.spark.sql.SparkSession

/** The registry workloads: `registry_lazy` and `registry_eager`.
  *
  * Both run queries of `graft.SparkEntry.queries`, from fixed lists
  * committed beside this file (resources `registry_lazy.tsv` and
  * `registry_eager.tsv`). The split was made once, by `Census`, on a warm
  * pass over the benchmark data: a query that launches no Spark job while
  * its DataFrame is built is lazy, any other is eager. The lists are not
  * recomputed, so a later change that makes an operator lazy does not move
  * queries between workloads.
  *
  * Each list line carries the query's census cost, its layer (`streaming`
  * for the streaming operators, `pipeline` otherwise) and its expected
  * output: an exact fingerprint, or, for a query whose output does not
  * reproduce from run to run, only its row count and schema.
  */
object Registry {

  final case class Entry(
      name: String, costS: Double, layer: String, exact: Boolean,
      rows: Long, hash: String, schema: String) {

    def check(fp: Fingerprint.Result): Option[String] =
      if (fp.schema != schema) Some(s"$name: schema ${fp.schema}, expected $schema")
      else if (fp.rows != rows) Some(s"$name: ${fp.rows} rows, expected $rows")
      else if (exact && fp.hash != hash) Some(s"$name: fingerprint ${fp.hash}, expected $hash")
      else None
  }

  def load(workload: String): Seq[Entry] = {
    val in = getClass.getResourceAsStream(s"/$workload.tsv")
    require(in != null, s"no list for workload $workload")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).map { l =>
      val Array(name, cost, layer, check, rows, hash, schema) = l.split("\t", -1)
      Entry(name, cost.toDouble, layer, check == "exact", rows.toLong, hash, schema)
    }.toVector
    finally src.close()
  }

  /** The queries a run issues: the list ordered by census cost, cut into
    * `strata` bands of equal size, and from each band its middle query. The
    * sample is the same for every seed, which only orders each round: at
    * up to three seconds a query, a run has time for about twenty queries,
    * and a seed-drawn sample that small moved throughput by a tenth from
    * seed to seed.
    */
  def sample(entries: Seq[Entry], strata: Int): Seq[Entry] = {
    val byCost = entries.sortBy(e => (e.costS, e.name)).toVector
    (0 until strata).map { i =>
      val lo = i * byCost.size / strata
      val hi = (i + 1) * byCost.size / strata
      byCost((lo + hi) / 2)
    }
  }

  def task(spark: SparkSession, dataDir: String, e: Entry): Task = {
    val fn = graft.SparkEntry.queries(e.name)
    Task(e.name, _ => fn(spark, dataDir), e.check, e.layer)
  }
}
