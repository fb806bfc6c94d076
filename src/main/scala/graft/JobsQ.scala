package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev harness: job-level time attribution for one or more named queries —
  * `runMain graft.JobsQ <sfDir> <q1> <q2> ...`. For each query (after one
  * untimed warm run at sf0.001) it prints every Spark job the query
  * scheduled: wall duration, task count, and the first line of the job's
  * call site, plus the gaps (driver-side time between jobs). This is the
  * local[32] substitute for the Spark UI's timeline (guide §1.1/§7.1):
  * the bench's expensive queries are eager fixed-point loops where
  * `explain` shows one final plan but the cost lives in the scheduled
  * jobs of every iteration.
  */
object JobsQ {
  def main(args: Array[String]): Unit = {
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "32")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = args.head
    val names = args.drop(1).toSeq
    final case class JobRec(id: Int, start: Long, var end: Long,
      var tasks: Int, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, JobRec(js.jobId, js.time, -1L, 0, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        // attribute the stage's tasks to whichever job is still open —
        // good enough for sequential per-query profiling
        val open = jobs.values().toArray(Array.empty[JobRec])
          .filter(_.end < 0L)
        if (open.nonEmpty)
          open.maxBy(_.id).tasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val run = si.taskMetrics
        println(f"    stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"exec=${run.executorRunTime / 1000.0}%7.3fs " +
          f"cpu=${run.executorCpuTime / 1e9}%7.3fs " +
          f"deser=${run.executorDeserializeTime / 1000.0}%6.3fs " +
          f"gc=${run.jvmGCTime / 1000.0}%6.3fs " +
          f"shufRead=${run.shuffleReadMetrics.fetchWaitTime / 1000.0}%5.3fs " +
          f"wall=${(si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0}%7.3fs  ${si.name.take(60)}")
      }
    }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable => println(s"warm $n FAILED: $e") }
    }
    spark.sparkContext.addSparkListener(listener)
    for (n <- names) {
      jobs.clear()
      // epoch-millis origin for gapBefore: JobRec.start/end are listener
      // event times (epoch millis), so the first gap must be measured from
      // the same clock — nanoTime has an arbitrary origin. It is taken
      // before construction, so jobs an eager operator launches while the
      // DataFrame is built get non-negative gaps too.
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, d)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val c = df.count()
      val t2 = System.nanoTime()
      Thread.sleep(300) // let the listener bus drain
      println(f"===== $n plan=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f total=${(t2 - t0) / 1e9}%.3f rows=$c")
      val recs = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.start)
      var prevEnd = startMs
      recs.foreach { r =>
        val gap = r.start - prevEnd
        prevEnd = math.max(prevEnd, r.end)
        println(f"  job ${r.id}%4d  ${(r.end - r.start) / 1000.0}%7.3fs  gapBefore=${gap / 1000.0}%6.3fs tasks=${r.tasks}%4d  ${r.desc.take(100)}")
      }
      println(f"  jobs=${recs.length} jobTime=${recs.map(r => r.end - r.start).sum / 1000.0}%.3fs")
      if (sys.env.contains("SPARK_GRAFT_DUMP_PLAN"))
        println(df.queryExecution.executedPlan.toString.take(12000))
    }
    spark.stop()
  }
}
