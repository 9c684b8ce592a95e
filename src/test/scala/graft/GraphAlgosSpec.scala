package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphAlgos, PropertyGraph}

/** BFS traversal, SSSP, A*, label propagation and walk counts against
  * plain-Scala references on one small graph with integer ids (plus a few
  * graphs built for a traversal case), and what each call costs: Spark
  * jobs, and the RDDs it leaves cached or uncaches. Every case runs on the
  * driver and again on GraphX. */
class GraphAlgosSpec extends AnyFunSuite with GraphPaths {
  import TestSession._
  import spark.implicits._

  /** Spark jobs a traversal runs on GraphX besides one message check per
    * superstep, as measured under `local[4]`: 2 (the pin and the collect),
    * or up to 4 when a check, Pregel's `take(1)`, finds the first partition
    * empty and scans the rest in a second job. */
  private val BfsJobs = 4

  /** Spark jobs a call on the driver runs, as measured: the collects of
    * its ids and of its edges. Its result is a local relation, which the
    * test's own collect reads without a job. */
  private val LocalJobs = 2

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
    * at most `pins` new RDDs cached (none on the driver path), uncached
    * none, and that the pinned edges still read. */
  private def call[T](local: Boolean, pins: Int)(f: => T): (T, Int) = {
    assert(edges.count() == es.size)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, jobs) = jobsDuring(f)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(before.subsetOf(after), s"uncached: ${before -- after}")
    assert((after -- before).size <= (if (local) 0 else pins), s"left cached: ${after -- before}")
    assert(edges.count() == es.size)
    (out, jobs)
  }

  private def typeOf(df: DataFrame, c: String): DataType = df.schema(c).dataType

  /** The hops `pairs` (src, dst) allow walking in `direction`. */
  private def hops(pairs: Seq[(Int, Int)], direction: String): Seq[(Int, Int)] = direction match {
    case "out" => pairs
    case "in" => pairs.map(_.swap)
    case _ => pairs ++ pairs.map(_.swap)
  }

  /** Vertex -> first reach depth from `seeds` within `maxDepth` hops. */
  private def bfs(seeds: Set[Int], pairs: Seq[(Int, Int)], maxDepth: Int, direction: String): Map[Int, Int] = {
    var depth = seeds.map(_ -> 0).toMap
    var frontier = seeds
    var d = 0
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      frontier = hops(pairs, direction).collect { case (a, b) if frontier(a) && !depth.contains(b) => b }.toSet
      depth ++= frontier.map(_ -> d)
    }
    depth
  }

  /** Vertex -> kept path from `seed`, level by level: a vertex first
    * reached at depth d keeps the least of its depth-(d − 1) neighbours'
    * kept paths, extended by itself. */
  private def levelPaths(seed: Int, pairs: Seq[(Int, Int)], direction: String): Map[Int, Seq[Int]] = {
    val order = Ordering.Implicits.seqOrdering[Seq, Int]
    var paths = Map(seed -> Seq(seed))
    var frontier = Set(seed)
    while (frontier.nonEmpty) {
      val next = hops(pairs, direction).collect {
        case (a, b) if frontier(a) && !paths.contains(b) => b -> (paths(a) :+ b)
      }.groupMapReduce(_._1)(_._2)(order.min)
      paths ++= next
      frontier = next.keySet
    }
    paths
  }

  bothPaths("traverse: least reach depth along out, in and both edges, label-filtered too, ids' type kept") { local =>
    val labelled = es.map { case (a, b, w) => (a, b, if (w < 1.0) "light" else "heavy") }
    val g = PropertyGraph(vertices.withColumn("label", lit("v")), labelled.toDF("src", "dst", "label"))
    for (direction <- Seq("out", "in", "both"); label <- Seq(None, Some("heavy"));
         (seeds, maxDepth) <- Seq((Set(1), 2), (Set(3, 6), Int.MaxValue))) {
      val pairs = labelled.collect { case (a, b, l) if label.forall(_ == l) => (a, b) }
      val expected = bfs(seeds, pairs, maxDepth, direction)
      val (out, jobs) = call(local, pins = 1) {
        val df = g.traverse(seeds.toSeq.toDF("id"), maxDepth, direction, label)
        (df, df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
      }
      assert(out._2 == expected, s"$direction from $seeds within $maxDepth along $label")
      assert(typeOf(out._1, "id") == IntegerType && typeOf(out._1, "depth") == IntegerType)
      // the last superstep is the one whose check finds no message
      val supersteps = math.min(maxDepth, expected.values.max + 1)
      assert(jobs <= (if (local) LocalJobs else supersteps + BfsJobs),
        s"traverse: $jobs Spark jobs for $supersteps supersteps")
    }
    assert(bfs(Set(1), es.map(e => (e._1, e._2)), 2, "out")(4) == 2) // through 9, which is not a vertex
  }

  bothPaths("traverse: a seed with no edges, MAXDEPTH 0 (seeds only) and an unbounded walk around a cycle") { local =>
    // 0 -> 1 -> 2 -> 3 -> 4 -> 0, and 4 -> 7 off the cycle
    val cycle = (0 until 5).map(i => (i, (i + 1) % 5)) :+ (4, 7)
    val edgeFrame = cycle.toDF("src", "dst")
    def run(seeds: Seq[Int], maxDepth: Int, direction: String, e: DataFrame = edgeFrame) =
      call(local, pins = 1)(GraphAlgos.traverse(seeds.toDF("id"), e, maxDepth, direction)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)._1
    assert(run(Seq(42), 3, "both") == Map(42 -> 0))
    assert(run(Seq(1), 3, "out", edgeFrame.filter(lit(false))) == Map(1 -> 0))
    assert(run(Seq(0, 2), 0, "out") == Map(0 -> 0, 2 -> 0))
    for (direction <- Seq("out", "in", "both"))
      assert(run(Seq(0), Int.MaxValue, direction) == bfs(Set(0), cycle, Int.MaxValue, direction), direction)
    assert(bfs(Set(0), cycle, Int.MaxValue, "out")(7) == 5)
  }

  bothPaths("traversePaths keeps the least path of a vertex's first reach depth, not the least path overall") { local =>
    // 5 is reached by 0 -> 5 and by 0 -> 1 -> 2 -> 5, the lexicographically
    // least path; 6 extends the path 5 keeps
    val pairs = Seq((0, 5), (0, 1), (1, 2), (2, 5), (5, 6))
    def run(seed: Int, pairs: Seq[(Int, Int)], direction: String) = call(local, pins = 1) {
      val df = GraphAlgos.traversePaths(Seq(seed).toDF("id"), pairs.toDF("src", "dst"), Int.MaxValue, direction)
      (typeOf(df, "id"), df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1).map(_.toInt)).toMap)
    }._1
    val kept = Map(0 -> Seq(0), 1 -> Seq(0, 1), 5 -> Seq(0, 5), 2 -> Seq(0, 1, 2), 6 -> Seq(0, 5, 6))
    assert(levelPaths(0, pairs, "out") == kept)
    assert(run(0, pairs, "out") == (IntegerType, kept))
    val inner = es.map(e => (e._1, e._2))
    for (direction <- Seq("out", "in", "both"); seed <- Seq(1, 4))
      assert(run(seed, inner, direction)._2 == levelPaths(seed, inner, direction), s"$direction from $seed")
    // TRAVERSE DEPTH_FIRST emits in pre-order of the kept paths
    val g = PropertyGraph((0 to 6).map(i => (i.toLong, "n", i.toLong)).toDF("id", "label", "key"),
      pairs.map { case (a, b) => (a.toLong, b.toLong, "e") }.toDF("src", "dst", "label"))
    val order = graft.sql.Traverse.query(g, "TRAVERSE out() FROM n WHERE key = 0 STRATEGY DEPTH_FIRST")
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Int]("depth")).toSeq
    assert(order == Seq(0L -> 0, 1L -> 1, 2L -> 2, 5L -> 1, 6L -> 2))
  }

  bothPaths("weightedSssp is least cost over paths of at most iters edges, outside vertices too") { local =>
    for (iters <- Seq(1, 3)) {
      val (out, jobs) = call(local, pins = 1) {
        val df = GraphAlgos.weightedSssp(edges, col("id") === 1, vertices, iters)
        (df, df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap)
      }
      assert(out._2 == bellmanFord(1, iters))
      assert(typeOf(out._1, "id") == IntegerType)
      // on GraphX at most one message check per superstep, the pin and
      // the collect
      assert(jobs <= (if (local) LocalJobs else iters + 2), s"weightedSssp: $jobs Spark jobs")
    }
    assert(bellmanFord(1, 3)(4) == 2.0) // through 9, which is not a vertex
  }

  bothPaths("aStarPair finds the least cost within iters edges, and no row for an unreached target") { local =>
    val h = (target: Int) => (v: org.apache.spark.sql.Column) =>
      when(v === target, lit(0.0)).otherwise(lit(0.25)) // no edge costs less
    for ((s, target, iters) <- Seq((1, 4, 2), (1, 4, 3), (1, 5, 3), (4, 4, 2), (1, 9, 3))) {
      val (out, jobs) = call(local, pins = 0) {
        val df = GraphAlgos.aStarPair(edges, s, target, h(target), iters)
        (df, df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq)
      }
      assert(out._2 == bellmanFord(s, iters).get(target).map(target.toLong -> _).toSeq,
        s"$s -> $target in $iters")
      // the DataFrame loop's source id was a long literal
      assert(typeOf(out._1, "id") == LongType)
      // on GraphX one goal lookup per superstep; the row is built from its
      // value, and `h` folds on the driver
      assert(jobs <= (if (local) LocalJobs else iters), s"aStarPair: $jobs Spark jobs")
    }
  }

  bothPaths("labelPropagation counts duplicate edges, breaks ties to the smaller label, keeps ids' type") { local =>
    val inner = es.filter { case (a, b, _) => vs.contains(a) && vs.contains(b) }
    def reference(iters: Int): Map[Int, Int] = (1 to iters).foldLeft(vs.map(v => v -> v).toMap) { (lab, _) =>
      vs.map { v =>
        val heard = inner.collect { case (a, `v`, _) => lab(a) }
        v -> (if (heard.isEmpty) lab(v) else heard.groupBy(identity).toSeq.map { case (l, n) => (-n.size, l) }.min._2)
      }.toMap
    }
    assert(reference(1)(2) == 3 && reference(1)(7) == 5) // the duplicate and the tie decide
    for (iters <- Seq(1, 3)) {
      val (out, jobs) = call(local, pins = 1) {
        val df = GraphAlgos.labelPropagation(vertices, edges.select("src", "dst"), iters)
        (df, df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
      }
      assert(out._2 == reference(iters))
      assert(typeOf(out._1, "id") == IntegerType && typeOf(out._1, "lab") == IntegerType)
      // on GraphX the supersteps run lazily under the result's pin; then
      // the collect
      assert(jobs <= (if (local) LocalJobs else 2), s"labelPropagation: $jobs Spark jobs")
    }
  }

  bothPaths("walkCounts counts walks per depth, duplicate edges twice, through non-vertices") { local =>
    val maxDepth = 3
    val reference = (1 to maxDepth).scanLeft(Map(1 -> 1L)) { (walks, _) =>
      es.collect { case (a, b, _) if walks.contains(a) => b -> walks(a) }.groupMapReduce(_._1)(_._2)(_ + _)
    }.zipWithIndex.drop(1).flatMap { case (walks, d) => walks.map { case (v, n) => (d, v, n) } }.toSet
    val (out, jobs) = call(local, pins = 1) {
      val df = GraphAlgos.walkCounts(edges.select("src", "dst"), col("id") === 1, vertices, maxDepth)
      (df, df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet)
    }
    assert(out._2 == reference)
    assert(reference.contains((2, 2, 2L)) && reference.contains((3, 9, 2L)))
    assert(typeOf(out._1, "id") == IntegerType && typeOf(out._1, "walks") == LongType)
    assert(jobs <= (if (local) LocalJobs else 2), s"walkCounts: $jobs Spark jobs")
  }

  test("a call runs on the driver only while the estimates of its ids and edges are within the threshold") {
    val vs = Seq(1L, 2L, 3L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def estimate(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val edgeSize = estimate(es.select(col("src").cast("long"), col("dst").cast("long")))
    assert(estimate(vs.select(col("id").cast("long"))) < edgeSize)
    /** The components at `threshold`, and whether they came from the driver. */
    def run(threshold: BigInt) = withThreshold(threshold.toString) {
      val df = GraphAlgos.connectedComponents(vs, es, 5)
      (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        df.queryExecution.optimizedPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
    }
    val all = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(run(edgeSize) == (all, true))
    // the edges one byte over: GraphX, and its pinned result
    assert(run(edgeSize - 1) == (all, false))
  }
}
