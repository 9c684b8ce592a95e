package graft.graph

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.lit

import graft.Materialize

/** The one loop behind graft's iterative DataFrame operators: Gremlin
  * `repeat` … `until`/`emit` and Cypher variable-length paths deeper than
  * 8 hops. Both carry per-walk state (a traverser, a relationship list), so
  * a round's rows are walks, not vertices, and no vertex program holds
  * them; BFS traversal and the graph algorithms run as vertex rounds in
  * [[GraphAlgos]], on the driver or on GraphX. A round is a step over the previous round's
  * output; the caller writes the step, and the loop, its pins and its
  * probes live here.
  *
  * Pin policy. Every pin goes through [[Materialize.once]]; no caller
  * keeps pins or probes of its own. The loop runs until no row of a
  * round's output is `live`, so it pins every round's output and runs ONE
  * probe per round over the pinned rows. The probe is a single Spark job
  * that reads every partition of the pin, so it is also the job that
  * materializes it: each round plans over materialized rows with known
  * statistics, and AQE keeps broadcasting the small per-round aggregates
  * (batching two rounds per probe, with the round between them pinned but
  * not yet materialized, planned sort-merge joins instead: dedup
  * clustering, when its components ran as such a loop, went 2.33 → 3.0 s).
  */
object Fixpoint {

  /** What a step sees: the round number (from 1) and the previous round's
    * output (the seed in round 1). */
  final case class Round(n: Int, prev: DataFrame)

  /** Folds each round's output into one result: `init`, united by name
    * with `add(output)` of every round. */
  final case class Merge(init: Option[DataFrame], add: DataFrame => DataFrame)

  /** `out` is the merged result, or the last round's output without a
    * merge. `cutOff`: `bound` stopped a live loop. */
  final case class Result(out: DataFrame, cutOff: Boolean)

  /** Runs rounds until no row of a round's output is `live`, at most
    * `bound` rounds. Every row is live by default, so the loop runs until
    * the frontier is empty; Gremlin `repeat().until(cond)` passes `!cond`,
    * so it runs until every traverser of a round satisfies `cond`. */
  def apply(seed: DataFrame, bound: Int, live: Column = lit(true), merge: Option[Merge] = None)(
      step: Round => DataFrame): Result = {
    @tailrec def loop(n: Int, prev: DataFrame, acc: Option[DataFrame]): Result =
      if (n > bound) Result(acc.getOrElse(prev), cutOff = false)
      else {
        val out = Materialize.once(step(Round(n, prev)), eager = false)
        val any = anyRow(out.filter(live))
        val merged = merge.map { m =>
          val level = m.add(out)
          acc.fold(level)(_.unionByName(level))
        }
        if (!any || n == bound) Result(merged.getOrElse(out), cutOff = any)
        else loop(n + 1, out, merged)
      }
    loop(1, seed, merge.flatMap(_.init))
  }

  /** Whether `df` has a row: one job over all its partitions, each task
    * stopping at its first row. */
  private def anyRow(df: DataFrame): Boolean =
    df.sparkSession.sparkContext
      .runJob(df.queryExecution.toRdd, (rows: Iterator[InternalRow]) => rows.hasNext)
      .contains(true)
}
