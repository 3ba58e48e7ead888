package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** The one place a Dataset's lineage is cut. Every operator that reuses a
  * frame across subplans, or iterates on one, materializes it here instead
  * of calling `localCheckpoint`/`checkpoint` itself, so the local-vs-reliable
  * choice is made once, from state the deployment already has:
  *
  *  - no checkpoint dir on the SparkContext (neither `setCheckpointDir` nor
  *    the `spark.checkpoint.dir` conf): `localCheckpoint(eager)`. Blocks live
  *    in executor storage and die with their executor; each call site keeps
  *    its own eager/lazy choice.
  *  - a checkpoint dir set: an EAGER reliable `checkpoint`, written to the
  *    dir and recoverable after executor loss. Always eager, because a lazy
  *    reliable checkpoint writes in a second job after the first action and
  *    so evaluates the lineage twice; the eager one computes and writes in
  *    one job.
  */
object Lineage {
  def cut[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isEmpty) ds.localCheckpoint(eager)
    else ds.checkpoint(eager = true)

  /** Release a cut that nothing reads any more: the previous round of an
    * iterative operator, once the next round's eager cut has materialized.
    * Deletes a reliable cut's `rdd-N` dir, which Spark otherwise leaves in
    * the checkpoint dir for good, one per round. A local cut's blocks are
    * left to the ContextCleaner, which drops them once the cut is garbage:
    * `Dataset.unpersist` only uncaches what `cache`/`persist` registered,
    * and `RDD.unpersist` logs a warning for every locally checkpointed RDD.
    * `cut` may also be a projection of a cut, which reads nothing else.
    * Never pass a cut that the returned plan still reads. */
  def release(cut: Dataset[_]): Unit = {
    def checkpointed(p: LogicalPlan): Option[LogicalRDD] = p match {
      case r: LogicalRDD => Some(r)
      case Project(_, child) => checkpointed(child)
      case _ => None
    }
    checkpointed(cut.queryExecution.logical).flatMap(_.rdd.getCheckpointFile).foreach { f =>
      val path = new Path(f)
      path.getFileSystem(cut.sparkSession.sparkContext.hadoopConfiguration).delete(path, true)
    }
  }
}
