package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}

/** Spark 4.1's `classic.Dataset.checkpoint(eager = true,
  * reliableCheckpoint = false, storageLevel = None)` with one change: the
  * eager step is a job that runs `pass` over every partition's rows as it
  * pins them, instead of `RDD.doCheckpoint`'s row count that is thrown
  * away. `runJob` then calls `doCheckpoint` itself, finds every block
  * present and launches nothing. Everything else is the stock path: the
  * same `"localCheckpoint"` SQL execution (so `QueryExecutionListener`s see
  * the same action) and the same `LogicalRDD.fromDataset`, which carries
  * over the executed plan's output partitioning and ordering. `ofRows`,
  * `fromDataset` and `withInternalError` are `private[sql]`, hence this
  * package.
  */
object CheckpointBridge {
  def localCheckpoint[U: ClassTag](df: DataFrame)(
      pass: Iterator[InternalRow] => U): (DataFrame, Array[U]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      QueryExecution.withInternalError(
          """The "localCheckpoint" action failed.""") {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute().map(_.copy())
        rdd.localCheckpoint()
        // no partitions: nothing to pin, and the stock path runs no job
        val results =
          if (rdd.partitions.isEmpty) Array.empty[U]
          else ds.sparkSession.sparkContext.runJob(rdd, pass)
        (classic.Dataset.ofRows(ds.sparkSession,
          LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), results)
      }
    }
  }
}
