package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphAlgos

/** SSSP, A*, label propagation and walk counts against plain-Scala
  * references on one small graph with integer ids, and what each call
  * costs: Spark jobs, and the RDDs it leaves cached or uncaches. */
class GraphAlgosSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val vs = 1 to 7
  /** 3 -> 2 twice; 4 and 7 are sinks; 9 and 8 are not vertices, and
    * 2 -> 9 -> 4 is the cheapest way to 4; 7 hears labels 5 and 6 once
    * each, a tie. */
  private val es: Seq[(Int, Int, Double)] = Seq((1, 2, 1.0), (3, 2, 1.0), (3, 2, 1.0), (2, 3, 2.0),
    (1, 3, 4.0), (3, 4, 1.0), (2, 9, 0.5), (9, 4, 0.5), (8, 2, 0.25), (5, 7, 1.0), (6, 7, 1.0))

  private lazy val vertices = vs.toDF("id")
  /** Pinned the way a caller pins loop-invariant edges: a call must not
    * release it. */
  private lazy val edges = Materialize.once(es.toDF("src", "dst", "w"))

  /** Least cost from `s` over paths of at most `iters` edges. */
  private def bellmanFord(s: Int, iters: Int): Map[Int, Double] =
    (1 to iters).foldLeft(Map(s -> 0.0)) { (dist, _) =>
      val relaxed = es.collect { case (a, b, w) if dist.contains(a) => b -> (dist(a) + w) }
      (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }

  /** `f`'s result and the Spark jobs it ran, after checking that it left
    * at most `pins` new RDDs cached, uncached none, and that the pinned
    * edges still read. */
  private def call[T](pins: Int)(f: => T): (T, Int) = {
    assert(edges.count() == es.size)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, jobs) = jobsDuring(f)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(before.subsetOf(after), s"uncached: ${before -- after}")
    assert((after -- before).size <= pins, s"left cached: ${after -- before}")
    assert(edges.count() == es.size)
    (out, jobs)
  }

  private def typeOf(df: DataFrame, c: String): DataType = df.schema(c).dataType

  test("weightedSssp is least cost over paths of at most iters edges, outside vertices too") {
    for (iters <- Seq(1, 3)) {
      val (out, jobs) = call(pins = 1) {
        val df = GraphAlgos.weightedSssp(edges, col("id") === 1, vertices, iters)
        (df, df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap)
      }
      assert(out._2 == bellmanFord(1, iters))
      assert(typeOf(out._1, "id") == IntegerType)
      // Pregel: one message count per superstep and one before, then the pin
      assert(jobs <= iters + 3, s"weightedSssp: $jobs Spark jobs")
    }
    assert(bellmanFord(1, 3)(4) == 2.0) // through 9, which is not a vertex
  }

  test("aStarPair finds the least cost within iters edges, and no row for an unreached target") {
    val h = (target: Int) => (v: org.apache.spark.sql.Column) =>
      when(v === target, lit(0.0)).otherwise(lit(0.25)) // no edge costs less
    for ((s, target, iters) <- Seq((1, 4, 2), (1, 4, 3), (1, 5, 3), (4, 4, 2), (1, 9, 3))) {
      val (out, jobs) = call(pins = 0) {
        val df = GraphAlgos.aStarPair(edges, s, target, h(target), iters)
        (df, df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq)
      }
      assert(out._2 == bellmanFord(s, iters).get(target).map(target.toLong -> _).toSeq,
        s"$s -> $target in $iters")
      // the DataFrame loop's source id was a long literal
      assert(typeOf(out._1, "id") == LongType)
      // one goal lookup per superstep; the row is built from its value
      assert(jobs <= iters, s"aStarPair: $jobs Spark jobs")
    }
  }

  test("labelPropagation counts duplicate edges, breaks ties to the smaller label, keeps ids' type") {
    val inner = es.filter { case (a, b, _) => vs.contains(a) && vs.contains(b) }
    def reference(iters: Int): Map[Int, Int] = (1 to iters).foldLeft(vs.map(v => v -> v).toMap) { (lab, _) =>
      vs.map { v =>
        val heard = inner.collect { case (a, `v`, _) => lab(a) }
        v -> (if (heard.isEmpty) lab(v) else heard.groupBy(identity).toSeq.map { case (l, n) => (-n.size, l) }.min._2)
      }.toMap
    }
    assert(reference(1)(2) == 3 && reference(1)(7) == 5) // the duplicate and the tie decide
    for (iters <- Seq(1, 3)) {
      val (out, jobs) = call(pins = 1) {
        val df = GraphAlgos.labelPropagation(vertices, edges.select("src", "dst"), iters)
        (df, df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
      }
      assert(out._2 == reference(iters))
      assert(typeOf(out._1, "id") == IntegerType && typeOf(out._1, "lab") == IntegerType)
      // the supersteps run lazily under the result's pin; then the collect
      assert(jobs <= 2, s"labelPropagation: $jobs Spark jobs")
    }
  }

  test("walkCounts counts walks per depth, duplicate edges twice, through non-vertices") {
    val maxDepth = 3
    val reference = (1 to maxDepth).scanLeft(Map(1 -> 1L)) { (walks, _) =>
      es.collect { case (a, b, _) if walks.contains(a) => b -> walks(a) }.groupMapReduce(_._1)(_._2)(_ + _)
    }.zipWithIndex.drop(1).flatMap { case (walks, d) => walks.map { case (v, n) => (d, v, n) } }.toSet
    val (out, jobs) = call(pins = 1) {
      val df = GraphAlgos.walkCounts(edges.select("src", "dst"), col("id") === 1, vertices, maxDepth)
      (df, df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet)
    }
    assert(out._2 == reference)
    assert(reference.contains((2, 2, 2L)) && reference.contains((3, 9, 2L)))
    assert(typeOf(out._1, "id") == IntegerType && typeOf(out._1, "walks") == LongType)
    assert(jobs <= 2, s"walkCounts: $jobs Spark jobs")
  }
}
