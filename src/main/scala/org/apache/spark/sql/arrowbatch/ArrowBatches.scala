package org.apache.spark.sql.arrowbatch

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Runs a DataFrame's physical plan as one Spark job whose tasks encode
  * their rows as Arrow record batches with Spark's own `ArrowConverters`
  * (the path Spark Connect and `collectAsArrowToPython` take). Both it and
  * `ArrowUtils` are `private[sql]`, hence this package.
  *
  * Spark's `ClosureCleaner` reads and ASM-scans the class that defines
  * each closure it cleans, on every job, so a closure's cost grows with
  * its defining class. Every closure here is therefore defined in this
  * small object, and the job is launched through the 4-argument
  * `SparkContext.runJob`, which cleans only the function it is given. The
  * `Iterator => U` overloads, `RDD.toLocalIterator` and `RDD.collect` wrap
  * theirs in a lambda defined in `SparkContext` or `RDD`, and cleaning one
  * of those costs milliseconds per request.
  */
object ArrowBatches {

  /** One partition's record-batch messages (Arrow IPC, no schema), each
    * with its row count. */
  type Part = Array[(Array[Byte], Int)]

  /** The Arrow schema of `df` (every field nullable) and, per partition in
    * partition order, the batches of at most its first `taskRows` rows,
    * `batchRows` rows a batch. The plan runs under its own SQL execution
    * id, as a Dataset action would, so SQL metrics and listeners see it. */
  def collect(df: DataFrame, taskRows: Int, batchRows: Int)
      : (Schema, Array[Part]) = {
    val qe = df.queryExecution
    val schema = df.schema.asNullable
    val tz = qe.sparkSession.sessionState.conf.sessionLocalTimeZone
    val parts = SQLExecution.withNewExecutionId(qe, Some("collectArrow")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute()
      val out = new Array[Part](rdd.getNumPartitions)
      rdd.sparkContext.runJob(rdd, encode(schema, tz, taskRows, batchRows),
        out.indices, keep(out))
      out
    }
    (ArrowUtils.toArrowSchema(schema, tz, true, false), parts)
  }

  private def encode(schema: StructType, tz: String, taskRows: Int,
      batchRows: Int): (TaskContext, Iterator[InternalRow]) => Part =
    (ctx, rows) => {
      var taken = 0
      val counted = rows.take(taskRows).map { r => taken += 1; r }
      val batches = ArrowConverters.toBatchIterator(counted, schema,
        batchRows, tz, true, false, ctx)
      val out = Array.newBuilder[(Array[Byte], Int)]
      var before = 0
      while (batches.hasNext) {
        val message = batches.next()
        out += ((message, taken - before))
        before = taken
      }
      out.result()
    }

  private def keep(out: Array[Part]): (Int, Part) => Unit =
    (i, part) => out(i) = part
}
