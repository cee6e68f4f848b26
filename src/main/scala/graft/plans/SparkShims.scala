package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access shim: `Dataset.ofRows` (DataFrame from a LogicalPlan) is
  * `private[sql]`, and wrapping a custom logical operator into a user-facing
  * DataFrame is exactly its purpose — the same door SparkSessionExtensions
  * users and spark-connect planners go through. The other members each
  * open one more `private[spark]` call and say why. */
object GraftDatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark, plan)

  /** Free a `localCheckpoint`ed Dataset's blocks NOW. `Dataset.unpersist`
    * only clears cache-manager entries (InMemoryRelation) and silently
    * no-ops on a checkpoint, whose storage is an RDD-level persist inside
    * the plan's LogicalRDD — verified by CheckpointDisciplineSpec, which
    * counts `sc.getPersistentRDDs` across the iterative loops. Without
    * this, superseded per-round checkpoints linger until the async
    * ContextCleaner notices the dropped reference after a GC — measured
    * on the sf0.1 bench as 2-5× degradation across reruns sharing a JVM.
    * The blocks go through `SparkContext.unpersistRDD`, the call
    * `RDD.unpersist` makes after its WARN that a locally checkpointed
    * RDD cannot be recomputed — true, and the point of a deliberate
    * release, so that WARN would be noise on every release. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
        case _ => ()
      }

  /** Force-create the driver-side StateStoreCoordinator RPC endpoint.
    * It normally comes to life with the first STREAMING query; batch
    * execution of transformWithState still runs a RocksDB state store,
    * whose maintenance path phones the coordinator
    * (reportSnapshotUploaded) and throws RpcEndpointNotFoundException
    * out of the task in a batch-only session. Touching the lazy val
    * here registers the endpoint up front. */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[SparkSession].streams.stateStoreCoordinator: Unit

  /** Block until every listener has seen every event posted so far, or
    * throw `TimeoutException` after `timeoutMs`. `SparkContext.listenerBus`
    * is `private[spark]`; without this drain a listener's counts can only
    * be read after a guessed sleep. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
