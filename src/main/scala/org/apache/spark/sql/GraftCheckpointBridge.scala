package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one materializing body behind every graft checkpoint cut
  * ([[graft.operators.CkptChain]]). It replicates eager
  * `Dataset.checkpoint`/`localCheckpoint` — same RDD-level calls, same
  * single `RDD.doCheckpoint()` job, same `LogicalRDD.fromDataset` wrap,
  * same action name for the SQL tab — and also returns the row count,
  * which `Dataset` computes nowhere. Convergence-checked BSP loops
  * (k-core peel, BFS frontier) read their per-round count from it
  * instead of running a second whole-relation job per round.
  *
  * The count rides a row accumulator inside the materializing job's
  * result stage, so it costs no extra job on either backend (a
  * `count()` before `doCheckpoint` would make a reliable cut run a
  * second job that recomputes the final stage to write the files).
  * Result-stage accumulator updates are merged exactly once per
  * partition — failed or duplicate attempts are not counted — so the
  * count stays exact under task retries.
  */
object GraftCheckpointBridge {

  /** Eagerly checkpoint `df` (reliable → `RDD.checkpoint` into the
    * context's checkpoint dir; local → DISK_ONLY persist +
    * `RDD.localCheckpoint`) in one job and return the checkpointed
    * relation plus its row count. */
  def cutCounted(df: DataFrame, reliable: Boolean): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rows = ds.sparkSession.sparkContext.longAccumulator
    val actionName = if (reliable) "checkpoint" else "localCheckpoint"
    SQLExecution.withNewExecutionId(qe, Some(actionName)) {
      qe.executedPlan.resetMetrics()
      // mapPartitionsWithIndexInternal, NOT map: the public map() runs
      // the ClosureCleaner over the lambda, and the cleaner must read
      // the capturing class's bytes through the thread's context
      // classloader — which other suites/sessions in the same JVM may
      // have swapped to one that cannot see this library (observed:
      // "capturingClassReader is null" NPEs when the full test suite
      // runs suites in one JVM). The internal variant skips cleaning —
      // safe here because the closure captures only the accumulator.
      val internalRdd: RDD[InternalRow] = qe.executedPlan.execute()
        .mapPartitionsWithIndexInternal((_, iter) =>
          iter.map { r => rows.add(1L); r.copy() })
      if (reliable) {
        internalRdd.checkpoint()
      } else {
        internalRdd.persist(StorageLevel.DISK_ONLY)
        internalRdd.localCheckpoint()
      }
      internalRdd.doCheckpoint()
      val out = classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(internalRdd, ds, isStreaming = false)
          .newInstance())
      (out, rows.sum)
    }
  }
}
