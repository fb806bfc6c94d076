package graft.perfbench

/** Offline tool that runs every registered query twice over `dataDir` and
  * writes one tab-separated line per query, from the second, warm pass:
  * name, construction seconds, jobs launched during construction, action
  * seconds, output fingerprint and schema. The first pass takes the
  * first-touch work (file listing, schema reads, code generation) that would
  * otherwise land as construction jobs on whichever query touched a table
  * first.
  *
  * It produces the committed workload lists and expected outputs through
  * `make_lists.py`; it is not part of a benchmark run.
  *
  * Usage: Census <dataDir> <out.tsv>
  */
object Census {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, out) = args
    val spark = BenchSpark.session()
    val trace = new Trace(spark)
    spark.sparkContext.addSparkListener(trace)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    BenchSpark.preRead(spark, dataDir)
    for (n <- names)
      try Fingerprint.of(graft.SparkEntry.queries(n)(spark, dataDir))
      catch { case scala.util.control.NonFatal(_) => () }
    val w = new java.io.PrintWriter(out)
    for (n <- names) {
      trace.drain()
      val j0 = trace.jobs.get
      val t0 = System.nanoTime()
      val line = try {
        val df = graft.SparkEntry.queries(n)(spark, dataDir)
        trace.drain()
        val jc = trace.jobs.get - j0
        val t1 = System.nanoTime()
        val fp = Fingerprint.of(df)
        val t2 = System.nanoTime()
        f"$n\t${(t1 - t0) / 1e9}%.3f\t$jc\t${(t2 - t1) / 1e9}%.3f\t${fp.key}\t${fp.schema}"
      } catch {
        case scala.util.control.NonFatal(e) =>
          s"$n\tERROR\t${String.valueOf(e.getMessage).take(200).replace('\n', ' ')}"
      }
      println(line)
      w.println(line)
      w.flush()
    }
    w.close()
    BenchSpark.stop(spark)
  }
}
