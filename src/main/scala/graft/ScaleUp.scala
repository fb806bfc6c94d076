package graft
import org.apache.spark.sql.functions._

/** Dev harness: synthesize a key-shifted `copies`x replica of an sf dir's
  * BIG tables (lineitem, orders, events, documents, embeddings) into an
  * output dir, copying the dimension tables verbatim — the second decade
  * of the scaling audit recorded in SCALING.md. Entity keys shift by
  * copy*10^9 so per-entity history/fan-out stays CONSTANT while entity
  * count grows `copies`x (the scale-out regime a bigger cluster sees);
  * dimension keys (supp/part/cust) deliberately do NOT shift, so
  * per-dimension fan-in grows `copies`x (the hot-dimension regime).
  * Document text is left identical across copies, so near-dup work gets
  * `copies`x duplicate mass — the worst realistic dedup load.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [copies=8]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <outDir> [copies]")
    val (src, out) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 8
    require(copies >= 2 && copies <= 64, s"copies in [2,64], got $copies")
    require(out.startsWith("/tmp/"), "refusing to write outside /tmp")
    val spark = SparkEntry.localSession(32)
    val K = 1000000000L
    def rep(table: String, shifted: Map[String, Long => org.apache.spark.sql.Column]): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val parts = (0 until copies).map { c =>
        shifted.foldLeft(base) { case (df, (col0, f)) =>
          df.withColumn(col0, f(c.toLong * K)) }
      }
      parts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"scaled $table x$copies")
    }
    rep("lineitem", Map("l_orderkey" -> (s => col("l_orderkey") + s)))
    // o_custkey deliberately NOT shifted: customer is copied verbatim, so
    // shifting would orphan 7/8 of orders from any orders-customer join;
    // instead per-customer fan-in grows `copies`x (hot-dimension regime)
    rep("orders", Map("o_orderkey" -> (s => col("o_orderkey") + s)))
    rep("events", Map(
      "event_id" -> (s => col("event_id") + s),
      "user_id" -> (s => col("user_id") + s)))
    rep("documents", Map("doc_id" -> (s => col("doc_id") + s)))
    rep("embeddings", Map("vec_id" -> (s => col("vec_id") + s)))
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"dims copied; done -> $out")
    spark.stop()
  }
}
