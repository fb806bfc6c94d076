package graft.perfbench

import java.io.File
import java.util.concurrent.Executors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The Spark session every benchmark process runs in. */
object BenchSpark {

  /** One local executor thread and one shuffle partition per core. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** events.ts is TIMESTAMP(NANOS), which Spark cannot decode; the registry
    * reads events through this pruned schema, and so does the pre-read.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Table `name` of the data directory `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") spark.read.schema(eventsSchema).parquet(s"$dir/events.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Reads every column of every table under `dir` once, on one thread per
    * core, so file listing, footer reads and scan code generation do not
    * land on the first query.
    */
  def preRead(spark: SparkSession, dir: String): Unit = {
    val names = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.map(_.stripSuffix(".parquet"))
    val pool = Executors.newFixedThreadPool(cores)
    try names.map(n => pool.submit(() => Fingerprint.of(table(spark, dir, n)))).foreach(_.get())
    finally pool.shutdown()
  }

  /** Stops every stream the registry left running, then Spark itself. */
  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q =>
      try { q.stop(); q.awaitTermination(30000) }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
