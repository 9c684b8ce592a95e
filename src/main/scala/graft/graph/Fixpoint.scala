package graft.graph

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.lit

import graft.Materialize

/** The one loop behind graft's iterative operators: PageRank, connected
  * components, label propagation, walk counts, SSSP, A*, BFS traversal,
  * TRAVERSE DEPTH_FIRST, Gremlin `repeat` and Cypher variable-length paths.
  * A round is a step over the previous round's output (Pregelix's
  * superstep: messages ⋈ vertices → group-by); the caller writes the step,
  * and the loop, its pins and its probes live here.
  *
  * Pin policy. Every pin goes through [[Materialize.once]]; no caller
  * keeps pins or probes of its own.
  *  - A data-dependent stop ([[Until]]) pins every round's output and runs
  *    ONE probe per round over the pinned rows. The probe is a single Spark
  *    job that reads every partition of the pin, so it is also the job that
  *    materializes it: each round plans over materialized rows with known
  *    statistics, and AQE keeps broadcasting the small per-round aggregates
  *    (batching two rounds per probe, with the round between them pinned
  *    but not yet materialized, planned sort-merge joins instead and ran
  *    dedup clustering 2.33 → 3.0 s).
  *  - A fixed count ([[Rounds]]) never probes and pins lazily. A step that
  *    reads the previous output twice (it feeds both the next round and the
  *    accumulated result, or the step has the form `dist ∪ relax(dist)`)
  *    pins every round: without the pin each reader re-plans its own copy
  *    of the level's subtree, which compiled a depth-3 co-purchase BFS to a
  *    236-Exchange plan. A step that reads it once pins every
  *    [[PinEvery]]-th round: its plan grows linearly, and an 8-round plan
  *    is cheaper to analyze than 8 pin jobs are to schedule. The last round
  *    is never pinned; its reader is the caller's.
  */
object Fixpoint {

  /** Rounds between lazy pins when the step reads its input once. */
  val PinEvery = 8

  /** When the loop stops; it never runs more than `bound` rounds. */
  sealed trait Stop { def bound: Int }
  /** Exactly `bound` rounds. `readsTwice`: the step reads the previous
    * output twice (see the pin policy above). */
  final case class Rounds(bound: Int, readsTwice: Boolean) extends Stop
  /** Until no row of a round's output is `live`, at most `bound` rounds.
    * Every row is live by default, so the loop runs until the frontier is
    * empty; connected components passes `comp =!= prev`, so it runs until
    * no row changed. */
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
          case Rounds(_, twice) =>
            val pin = n < stop.bound && (twice || n % PinEvery == 0)
            (if (pin) Materialize.once(raw, eager = false) else raw, true)
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
