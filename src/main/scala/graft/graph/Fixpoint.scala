package graft.graph

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.lit

import graft.Materialize

/** The one loop behind graft's iterative DataFrame operators: BFS
  * traversal, TRAVERSE DEPTH_FIRST, Gremlin `repeat` and Cypher
  * variable-length paths (the graph algorithms run as GraphX supersteps,
  * see [[GraphAlgos]]). A round is a step over the previous round's output
  * (messages ⋈ vertices → group-by); the caller writes the step, and the
  * loop, its pins and its probes live here.
  *
  * Pin policy. Every pin goes through [[Materialize.once]]; no caller
  * keeps pins or probes of its own.
  *  - A data-dependent stop ([[Until]]) pins every round's output and runs
  *    ONE probe per round over the pinned rows. The probe is a single Spark
  *    job that reads every partition of the pin, so it is also the job that
  *    materializes it: each round plans over materialized rows with known
  *    statistics, and AQE keeps broadcasting the small per-round aggregates
  *    (batching two rounds per probe, with the round between them pinned
  *    but not yet materialized, planned sort-merge joins instead: dedup
  *    clustering, when its components ran as an `Until` loop, went
  *    2.33 → 3.0 s).
  *  - A fixed count ([[Rounds]]) never probes and pins every round but the
  *    last, lazily. A round's output feeds both the next round and the
  *    merged result; without the pin each reader re-plans its own copy of
  *    the level's subtree, which compiled a depth-3 co-purchase BFS to a
  *    236-Exchange plan. The last round is never pinned; its reader is the
  *    caller's.
  */
object Fixpoint {

  /** When the loop stops; it never runs more than `bound` rounds. */
  sealed trait Stop { def bound: Int }
  /** Exactly `bound` rounds. */
  final case class Rounds(bound: Int) extends Stop
  /** Until no row of a round's output is `live`, at most `bound` rounds.
    * Every row is live by default, so the loop runs until the frontier is
    * empty; Gremlin `repeat().until(cond)` passes `!cond`, so it runs until
    * every traverser of a round satisfies `cond`. */
  final case class Until(bound: Int, live: Column = lit(true)) extends Stop

  /** What a step sees: the round number (from 1), the previous round's
    * output (the seed in round 1) and the result accumulated so far. */
  final case class Round(n: Int, prev: DataFrame, acc: Option[DataFrame])

  /** Folds each round's output into one result: `init`, united by name
    * with `add(output, round)` of every round. */
  final case class Merge(init: Option[DataFrame], add: (DataFrame, Int) => DataFrame)

  /** `out` is the merged result, or the last round's output without a
    * merge. `cutOff`: the bound of an [[Until]] stopped a live loop. */
  final case class Result(out: DataFrame, cutOff: Boolean)

  def apply(seed: DataFrame, stop: Stop, merge: Option[Merge] = None)(
      step: Round => DataFrame): Result = {
    @tailrec def loop(n: Int, prev: DataFrame, acc: Option[DataFrame]): Result =
      if (n > stop.bound) Result(acc.getOrElse(prev), cutOff = false)
      else {
        val raw = step(Round(n, prev, acc))
        val (out, live) = stop match {
          case Until(_, p) =>
            val pinned = Materialize.once(raw, eager = false)
            (pinned, anyRow(pinned.filter(p)))
          case Rounds(_) =>
            (if (n < stop.bound) Materialize.once(raw, eager = false) else raw, true)
        }
        val merged = merge.map { m =>
          val level = m.add(out, n)
          acc.fold(level)(_.unionByName(level))
        }
        if (!live || n == stop.bound)
          Result(merged.getOrElse(out), cutOff = live && stop.isInstanceOf[Until])
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
