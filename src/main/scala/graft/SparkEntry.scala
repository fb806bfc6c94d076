package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("q02_groupby_count")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles
  /** The one session recipe of graft's mains (Bench, Verify, ScaleUp, Demo):
    * `local[cpus]` with one shuffle partition per core, UTC, no UI, WARN
    * logging — so numbers from any of them describe the same engine.
    */
  def localSession(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
