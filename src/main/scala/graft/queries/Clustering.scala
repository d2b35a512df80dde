package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared shapes for the cluster-resolution queries (t21/t26/t32/t35):
  * the output frame, factored so the lexical and semantic families
  * cannot drift, and the checkpoint release the iterative loops use. */
private[graft] object Clustering {

  /** (idName, cluster_id, cluster_size, is_keeper) from a CC label
    * frame with columns (id, label). */
  def frame(cc: DataFrame, idName: String): DataFrame = {
    val sized = cc.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    cc.join(sized, "label")
      .select(col("id").as(idName), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("is_keeper"))
  }

  /** Release the persisted blocks behind a localCheckpoint'ed frame:
    * the checkpointed Dataset's plan is a `LogicalRDD` over the
    * persisted internal RDD — unpersist that RDD. No-op (never a
    * failure) for any other plan shape: callers may pass frames that
    * were never checkpointed, and releasing is an optimization, not a
    * correctness requirement. Deliberately non-blocking — the evicted
    * blocks just become reclaimable. Only for a loop's own superseded
    * state (e.g. GraphQueries' per-round checkpoints), which nothing
    * outside the loop can hold; standing artifacts are never released
    * (see [[Standing]]). */
  private[graft] def release(df: DataFrame): Unit =
    try df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case _: Throwable => () }
}
