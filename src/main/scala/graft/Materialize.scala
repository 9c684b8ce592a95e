package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for every pin in graft: the iterative operators'
  * rounds (whose cadence [[graft.graph.Fixpoint]] sets, the one policy for
  * when a loop pins and probes), loop-invariant edge relations, dedup
  * signature reuse.
  *
  * A pin keeps a 20-round fixpoint from building a 20-deep plan and makes
  * shared subtrees run once. On `local[*]`, `localCheckpoint` is the right
  * tool: blocks live in the one and only "executor", and it skips the
  * reliable-checkpoint write+reread. On a real cluster it is a reliability
  * trade — executor-local, NON-replicated blocks mean one lost executor
  * kills the job, and the pinned lineage defeats dynamic allocation.
  *
  * Policy: when a checkpoint directory is configured (`spark.checkpoint.dir`
  * or `SparkContext.setCheckpointDir` — i.e. a deployment that cares about
  * executor loss), use reliable `checkpoint` into it; otherwise fall back
  * to `localCheckpoint`. Either way a lazy pin (`eager = false`) persists
  * its rows on first computation, so every reader before and after the
  * checkpoint shares one computation. Local-mode behavior (and the bench)
  * is unchanged.
  */
object Materialize {

  /** Materialize (or, with eager=false, mark-for-materialization) `df`,
    * truncating lineage via the configured checkpoint policy. */
  def once(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.getConf.getOption("spark.checkpoint.dir").foreach(sc.setCheckpointDir)
    if (sc.getCheckpointDir.isEmpty) df.localCheckpoint(eager)
    else {
      val pinned = df.checkpoint(eager)
      // A lazy reliable checkpoint only marks its RDD: without a persist,
      // each reader in the job that first computes it recomputes the
      // source, and so does the checkpoint write after that job. Lazy
      // localCheckpoint persists; do the same here.
      if (!eager) pinned.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        case _ =>
      }
      pinned
    }
  }
}
