package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for every pin in graft: the rounds of the
  * DataFrame loops (whose cadence [[graft.graph.Fixpoint]] sets, the one
  * policy for when a loop pins and probes), loop-invariant edge relations,
  * the results of the GraphX algorithms and traversals
  * ([[graft.graph.GraphAlgos]]), dedup signature reuse.
  *
  * A pin keeps a 20-round fixpoint from building a 20-deep plan and makes
  * shared subtrees run once. On `local[*]`, `localCheckpoint` is the right
  * tool: blocks live in the one and only "executor", and it skips the
  * reliable-checkpoint write+reread. On a real cluster it is a reliability
  * trade — executor-local, NON-replicated blocks mean one lost executor
  * kills the job, and the pinned lineage defeats dynamic allocation.
  *
  * Policy:
  *  - An eager pin uses reliable `checkpoint` when a checkpoint directory
  *    is configured (`spark.checkpoint.dir` or `SparkContext.setCheckpointDir`,
  *    a deployment that cares about executor loss), and `localCheckpoint`
  *    otherwise.
  *  - A lazy pin (`eager = false`, a loop round) is always an
  *    executor-local `localCheckpoint`, which persists its rows on first
  *    computation, so every reader shares one computation. A loop pins
  *    every round, and a reliable checkpoint per round would fill the
  *    checkpoint directory with files nothing deletes. So loop rounds
  *    carry the executor-loss trade above even with a checkpoint dir set.
  *  - [[local]] pins are executor-local too, for the same reason: the
  *    results of the GraphX algorithms, one per call.
  */
object Materialize {

  /** Materialize (or, with eager=false, mark-for-materialization) `df`,
    * truncating lineage via the checkpoint policy above. */
  def once(df: DataFrame, eager: Boolean = true): DataFrame =
    if (!eager) local(df, eager = false)
    else {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.getConf.getOption("spark.checkpoint.dir").foreach(sc.setCheckpointDir)
      if (sc.getCheckpointDir.isEmpty) local(df) else df.checkpoint()
    }

  /** An executor-local pin of `df` whatever the checkpoint directory:
    * its blocks go when the pinned frame is unpersisted or collected, and
    * nothing is left on disk. */
  def local(df: DataFrame, eager: Boolean = true): DataFrame = df.localCheckpoint(eager)
}
