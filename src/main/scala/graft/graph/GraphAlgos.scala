package graft.graph

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.graphx.{Edge, EdgeDirection, EdgeTriplet, Graph, Pregel, TripletFields, VertexId}
import org.apache.spark.graphx.lib.PageRank
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Materialize, OneRow}

/** Graph algorithms, the Spark-native re-expression of the reference's
  * OLAP algorithm suite (graph/olap/GraphAlgorithms.java — PageRank :164,
  * all-paths walks :513, connected components :309, Dijkstra single-source
  * :981, label propagation :1118, local clustering coefficient :1252) and
  * of its traversal executors (BFS behind SQL TRAVERSE, Cypher
  * shortestPath and [[PropertyGraph.traverse]]).
  *
  * Each iterative algorithm has two executors, picked per call by Spark's
  * own broadcast rule ([[LocalGraph.apply]]):
  *  - A graph whose ids and edges Spark would broadcast is collected once,
  *    as primitive arrays, and its rounds run as array loops on the driver
  *    ([[LocalGraph]]), like the reference's in-process CSR snapshot. At
  *    that size a GraphX call's fixed cost — about 20 stages of a few ms
  *    of task set-up each — is most of its time, and the collect is one
  *    job per input. The result is a `LocalRelation`, so nothing is
  *    pinned or left cached.
  *  - Any larger graph runs on GraphX: a superstep ships only the messages
  *    between vertex and edge partitions that stay put (Pregelix's
  *    superstep), where a DataFrame round re-plans, re-compiles and
  *    re-shuffles vertices, messages and edges; the DataFrame loops
  *    measured up to twice as slow.
  * Both keep exact semantics a DuckDB oracle can replay (deterministic
  * tie-breaks, fixed iteration counts), read ids as long and return them
  * in the type of the columns they come from (united, when both
  * `vertices` and the edges supply them). Apart from
  * [[PropertyGraph.toGraphX]] these are the only callers of GraphX. The
  * clustering coefficient is one DataFrame join pipeline.
  */
object GraphAlgos {
  private val Inf = Double.PositiveInfinity

  /** Static PageRank, GraphX's formulation (rank0 = 1.0; rank' = reset +
    * (1−reset)·Σ rank/outdeg over in-edges), `iters` rounds, ranks not
    * rescaled. `edges` = (src, dst) directed; duplicate edges count twice.
    * An edge out of a non-vertex is dropped, an edge into one still counts
    * in its source's out-degree, and only `vertices`' ids get a row.
    * Reference GraphAlgorithms.java:164. */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int, reset: Double): DataFrame = {
    val t = vertices.schema("id").dataType
    val cols = Seq(col("_1").cast(t).as("id"), col("_2").as("rank"))
    LocalGraph(vertices, edges) match {
      case Some(lg) =>
        val g = lg.edgesWhere(e => lg.vertex(lg.src(e)))
        val share = new Array[Double](g.size)
        g.src.foreach(s => share(s) += 1)
        for (s <- share.indices) share(s) = 1.0 / share(s)
        var rank = Array.fill(g.size)(1.0)
        g.rounds(iters) { _ =>
          val sum = new Array[Double](g.size)
          for (e <- g.src.indices) sum(g.dst(e)) += rank(g.src(e)) * share(g.src(e))
          rank = sum.map(reset + (1.0 - reset) * _)
          true
        }
        local(vertices, g.vertices.map(i => (g.ids(i), rank(i))))(cols: _*)
      case None =>
        val (g0, sources) = graph(vertices, edges)
        val g = g0.subgraph(epred = _.srcAttr)
        val ranks = PageRank.runWithOptions(g, iters, reset, None, normalized = false)
        result(vertices, ranks.vertices.innerJoin(g.vertices.filter(_._2))((_, r, _) => r), ranks, sources)(cols: _*)
    }
  }

  /** Connected components by min-id propagation along out-edges (HashMin),
    * the set-oriented form of GraphAlgorithms.java:309: at most `maxIters`
    * rounds, each lowering a vertex's `comp` to the least `comp` of its
    * in-neighbours. Edges with an endpoint outside `vertices` are dropped.
    * `edges` must contain both directions for undirected graphs; GraphX's
    * own `ConnectedComponents` messages both ways, which would turn a
    * directed graph's answer into weak components. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIters: Int): DataFrame = {
    val t = vertices.schema("id").dataType
    val cols = Seq(col("_1").cast(t).as("id"), col("_2").cast(t).as("comp"))
    LocalGraph(vertices, edges) match {
      case Some(lg) =>
        val g = lg.edgesWhere(e => lg.vertex(lg.src(e)) && lg.vertex(lg.dst(e)))
        // indices order as ids do, so the least index names the least id
        val comp = g.relax(Array.range(0, g.size), maxIters, Int.MaxValue)((c, _, _) => c)
        local(vertices, g.vertices.map(i => (g.ids(i), g.ids(comp(i)))))(cols: _*)
      case None =>
        val (g0, sources) = graph(vertices, edges)
        val g = g0.subgraph(t => t.srcAttr && t.dstAttr, (_, real) => real)
        val cc = pregel(g.mapVertices((id, _) => id), Long.MaxValue, maxIters, EdgeDirection.Out)(
          (_, comp, msg) => math.min(comp, msg),
          t => if (t.srcAttr < t.dstAttr) Iterator(t.dstId -> t.srcAttr) else Iterator.empty,
          math.min)
        result(vertices, cc.vertices, cc, sources)(cols: _*)
    }
  }

  /** Synchronous label propagation with a deterministic tie-break (max
    * neighbor-label count, ties → smallest label), fixed iteration count —
    * GraphAlgorithms.java:1118 with the tie order pinned so every engine
    * replays the same communities. `edges` both directions; only edges
    * between two of `vertices` count, duplicates twice. A vertex with no
    * in-neighbour keeps its label. */
  def labelPropagation(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val t = vertices.schema("id").dataType
    val cols = Seq(col("_1").cast(t).as("id"), col("_2").cast(t).as("lab"))
    LocalGraph(vertices, edges) match {
      case Some(lg) =>
        val g = lg.edgesWhere(e => lg.vertex(lg.src(e)) && lg.vertex(lg.dst(e)))
        var lab = Array.range(0, g.size)
        g.rounds(iters) { _ =>
          // (vertex, label heard) sorted: a vertex's labels come in runs,
          // least label first, so the first longest run wins ties
          val heard = Array.tabulate(g.src.length)(e => g.dst(e).toLong << 32 | lab(g.src(e)))
          java.util.Arrays.sort(heard)
          val next = lab.clone()
          var (i, most) = (0, 0)
          while (i < heard.length) {
            var j = i + 1
            while (j < heard.length && heard(j) == heard(i)) j += 1
            val v = (heard(i) >>> 32).toInt
            if (i == 0 || (heard(i - 1) >>> 32) != v) most = 0
            if (j - i > most) { most = j - i; next(v) = heard(i).toInt }
            i = j
          }
          val changed = !java.util.Arrays.equals(next, lab)
          lab = next
          changed
        }
        local(vertices, g.vertices.map(i => (g.ids(i), g.ids(lab(i)))))(cols: _*)
      case None =>
        val (g0, sources) = graph(vertices, edges)
        var g = g0.subgraph(t => t.srcAttr && t.dstAttr, (_, real) => real).mapVertices((id, _) => id)
        for (_ <- 1 to iters) {
          val counts = g.aggregateMessages[Map[Long, Long]](t => t.sendToDst(Map(t.srcAttr -> 1L)),
            (a, b) => a ++ b.map { case (lab, n) => lab -> (n + a.getOrElse(lab, 0L)) }, TripletFields.Src)
          // each round's labels feed both its messages and the next labels
          g = g.joinVertices(counts)((_, _, c) => c.minBy { case (lab, n) => (-n, lab) }._1).cache()
        }
        result(vertices, g.vertices, g, sources)(cols: _*)
    }
  }

  /** Local clustering coefficient cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * over an undirected graph given in canonical a<b orientation —
    * GraphAlgorithms.java:1252. Triangle listing reuses the degree-ordered
    * wedge join (skew-bounded out-degree, PartitionedTriangleOp analog). */
  def clusteringCoefficient(canonEdges: DataFrame): DataFrame = {
    val und = canonEdges.select(col("a").as("u"), col("b").as("v"))
      .union(canonEdges.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    // wedges x–y–z on the canonical orientation; closing edge check lists
    // each triangle once, then each corner credits all three vertices
    val e = canonEdges
    val tri = e.alias("e1")
      .join(e.alias("e2"), col("e1.b") === col("e2.a"))
      .join(e.alias("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"), "left_semi")
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val triPerV = tri.select(col("x").as("u"))
      .union(tri.select(col("y").as("u")))
      .union(tri.select(col("z").as("u")))
      .groupBy("u").agg(count(lit(1)).as("tri"))
    deg.join(triPerV, Seq("u"), "left_outer")
      .select(col("u").as("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") > 1,
          round(lit(2.0) * coalesce(col("tri"), lit(0L)) / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Walk counts per destination and depth (the set-oriented form of the
    * reference's all-paths enumeration, GraphAlgorithms.java:513): w_h =
    * w_{h-1} × A, one message sum per depth over the previous depth's
    * frontier, so counts never materialize individual paths. Rows
    * (depth, id, walks) for depths 1..`maxDepth`; duplicate edges count
    * twice. */
  def walkCounts(edges: DataFrame, sourceFilter: Column, vertices: DataFrame,
      maxDepth: Int): DataFrame = {
    val t = edges.schema("dst").dataType
    val cols = Seq(col("_1").as("depth"), col("_2").cast(t).as("id"), col("_3").as("walks"))
    LocalGraph(vertices.filter(sourceFilter), edges) match {
      case Some(g) =>
        var walks = g.vertex.map(if (_) 1L else 0L)
        val rows = mutable.ArrayBuffer[(Int, Long, Long)]()
        g.rounds(maxDepth) { d =>
          val next = new Array[Long](g.size)
          val heard = new Array[Boolean](g.size)
          for (e <- g.src.indices if walks(g.src(e)) > 0) {
            next(g.dst(e)) += walks(g.src(e))
            heard(g.dst(e)) = true
          }
          walks = next
          rows ++= heard.indices.filter(heard(_)).map(i => (d, g.ids(i), next(i)))
          heard.contains(true)
        }
        local(vertices, rows.toSeq)(cols: _*)
      case None =>
        val (g0, sources) = graph(vertices.filter(sourceFilter), edges)
        var g = g0.mapVertices((_, src) => if (src) 1L else 0L)
        val depths = (1 to maxDepth).map { d =>
          // each depth feeds both the next depth and the result
          val walks = g.aggregateMessages[Long](t => if (t.srcAttr > 0) t.sendToDst(t.srcAttr), _ + _,
            TripletFields.Src).cache()
          g = g.outerJoinVertices(walks)((_, _, w) => w.getOrElse(0L)).cache()
          walks.map { case (id, w) => (d, id, w) }
        }
        result(vertices, g.vertices.sparkContext.union(depths), g, sources)(cols: _*)
    }
  }

  /** A* single-pair shortest path (reference function/sql/graph/
    * SQLFunctionAstar.java) as branch-and-bound: Bellman-Ford supersteps
    * with heuristic pruning — once the goal cost B is known, a candidate
    * cost g at v is sent only if g + h(v) ≤ B (h admissible ⇒ no optimal
    * path is lost). A priority-queue A* is a single-node design; on GraphX
    * the only driver fetch is the goal's cost after each superstep. `h` is
    * evaluated once per vertex, in one DataFrame pass. `edges` = (src,
    * dst, w). One row (target, cost) when the target is reached within
    * `iters` edges, none otherwise. */
  def aStarPair(edges: DataFrame, source: Long, target: Long,
      h: Column => Column, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val seed = OneRow(spark).select(lit(source).as("id"))
    val t = OneRow(spark).select(lit(source)).union(edges.select("dst")).schema.head.dataType
    def found(best: Double) = OneRow(spark).filter(lit(!best.isInfinite))
      .select(lit(target).cast(t).as("id"), round(lit(best), 6).as("dist"))
    var best = if (source == target) 0.0 else Inf
    LocalGraph(seed, edges, Some(col("w"))) match {
      case Some(g) =>
        val hs = spark.createDataFrame(g.ids.toSeq.map(Tuple1(_)))
          .select(h(col("_1").cast(t)).cast("double")).collect().map(_.getDouble(0))
        val goal = g.index(target)
        var dist = g.vertex.map(if (_) 0.0 else Inf)
        g.rounds(iters) { _ =>
          val bound = best + 1e-9
          val next = g.relax(dist, 1, Inf)((d, e, to) => if (d + g.w(e) + hs(to) <= bound) d + g.w(e) else Inf)
          val lowered = next ne dist
          dist = next
          if (goal >= 0) best = dist(goal)
          lowered
        }
      case None =>
        val (g0, sources) = graph(seed, edges, col("w"))
        val hs = spark.createDataFrame(g0.vertices.map(v => Tuple1(v._1)))
          .select(col("_1"), h(col("_1").cast(t)).cast("double")).rdd
          .map(r => (r.getLong(0), r.getDouble(1)))
        var g = g0.outerJoinVertices(hs)((_, src, hv) => (if (src) 0.0 else Inf, hv.get))
        for (_ <- 1 to iters) {
          val bound = best + 1e-9
          val relaxed = g.aggregateMessages[Double]({ e =>
            val c = e.srcAttr._1 + e.attr
            if (c < e.dstAttr._1 && c + e.dstAttr._2 <= bound) e.sendToDst(c)
          }, math.min)
          g = g.joinVertices(relaxed)((_, v, c) => (math.min(v._1, c), v._2)).cache()
          // one task: the vertex partition that holds the target
          best = g.vertices.lookup(target).headOption.fold(best)(_._1)
        }
        release(sources, g.vertices, g.edges)
    }
    found(best)
  }

  /** Weighted single-source shortest paths by Bellman-Ford relaxation,
    * `iters` supersteps == exact min-cost over paths of ≤ `iters` edges
    * (reference SQLFunctionDijkstra / GraphAlgorithms.java:981 — a
    * sequential heap walk is a single-node design; relaxation supersteps
    * are the set-oriented equivalent). `edges` = (src, dst, w); a row for
    * every reached id, edge endpoints outside `vertices` too. */
  def weightedSssp(edges: DataFrame, sourceFilter: Column, vertices: DataFrame, iters: Int): DataFrame = {
    val t = vertices.select("id").union(edges.select("dst")).schema.head.dataType
    val cols = Seq(col("_1").cast(t).as("id"), col("_2").as("dist"))
    LocalGraph(vertices.filter(sourceFilter), edges, Some(col("w"))) match {
      case Some(g) =>
        val dist = g.relax(g.vertex.map(if (_) 0.0 else Inf), iters, Inf)((d, e, _) => d + g.w(e))
        local(vertices, dist.indices.filter(dist(_) < Inf).map(i => (g.ids(i), dist(i))))(cols: _*)
      case None =>
        val (g, sources) = graph(vertices.filter(sourceFilter), edges, col("w"))
        val dist = pregel(g.mapVertices((_, src) => if (src) 0.0 else Inf), Inf, iters, EdgeDirection.Out)(
          (_, d, msg) => math.min(d, msg),
          e => if (e.srcAttr + e.attr < e.dstAttr) Iterator(e.dstId -> (e.srcAttr + e.attr)) else Iterator.empty,
          math.min)
        result(vertices, dist.vertices.filter(_._2 < Inf), dist, sources)(cols: _*)
    }
  }

  /** Breadth-first traversal from `seeds` along `edges` (src, dst), the
    * TRAVERSE … MAXDEPTH n analog (reference exec/
    * BreadthFirstTraverseStep.java:34): (id, depth) for every id reached
    * within `maxDepth` edges, depth the first (least) reach depth, seeds at
    * 0, edge endpoints outside `seeds` too. `direction` "out" follows
    * edges, "in" walks them backwards and "both" either way. */
  def traverse(seeds: DataFrame, edges: DataFrame, maxDepth: Int, direction: String): DataFrame =
    reach(seeds, edges, maxDepth, direction, "depth", Int.MaxValue, Ordering.Int)(_ => 0)((d, _) => d + 1)

  /** [[traverse]] with the least id-path instead of the depth: (id, path),
    * path running from a seed to id. Paths order by length, then
    * lexicographically, so a vertex keeps the least of the paths that reach
    * it at its first reach depth, extending its parent's kept path. Sorted
    * by path the rows are a pre-order, TRAVERSE STRATEGY DEPTH_FIRST's
    * emission order (reference exec/DepthFirstTraverseStep.java:36). */
  def traversePaths(seeds: DataFrame, edges: DataFrame, maxDepth: Int, direction: String): DataFrame =
    reach(seeds, edges, maxDepth, direction, "path", NoPath, PathOrder)(Array(_))(_ :+ _)

  private val NoPath = Array.empty[Long]
  /** Shorter paths first, then lexicographic; no path after every path. */
  private val PathOrder: Ordering[Array[Long]] = (a, b) =>
    if (a.isEmpty || b.isEmpty) java.lang.Boolean.compare(a.isEmpty, b.isEmpty)
    else if (a.length != b.length) Integer.compare(a.length, b.length)
    else java.util.Arrays.compare(a, b)

  /** Breadth-first min-relaxation from `seeds` along `edges`: (id, `name`)
    * for every reached id, ids in the type of the union of seed and edge
    * endpoint ids. A seed starts at `start(id)`, any other vertex at `none`
    * (greater than any other value under `ord`). Superstep d offers each
    * vertex `next(a, id)` from every reached neighbour with value a along
    * `direction`, and the vertex keeps the least offer below its own value.
    * At most `maxDepth` supersteps, fewer once a superstep keeps no offer. */
  private def reach[A: ClassTag: TypeTag](seeds: DataFrame, edges: DataFrame, maxDepth: Int, direction: String,
      name: String, none: A, ord: Ordering[A])(start: VertexId => A)(next: (A, VertexId) => A): DataFrame = {
    val (fwd, back) = (direction != "in", direction == "in" || direction == "both")
    val t = seeds.select("id").union(edges.select("src")).union(edges.select("dst")).schema.head.dataType
    val cols = Seq(col("_1").cast(t).as("id"), col("_2").as(name))
    LocalGraph(seeds, edges) match {
      case Some(g) =>
        val reached = g.relax(Array.tabulate(g.size)(i => if (g.vertex(i)) start(g.ids(i)) else none),
          maxDepth, none, fwd, back)((a, _, to) => next(a, g.ids(to)))(implicitly, ord)
        local(seeds, reached.indices.filter(i => ord.lt(reached(i), none)).map(i => (g.ids(i), reached(i))))(cols: _*)
      case None =>
        val (g, sources) = graph(seeds, edges)
        def offer(from: A, to: VertexId, at: A): Iterator[(VertexId, A)] =
          if (!ord.lt(from, none)) Iterator.empty
          else Iterator(next(from, to)).filter(ord.lt(_, at)).map(to -> _)
        val reached = pregel(g.mapVertices((id, seed) => if (seed) start(id) else none), none, maxDepth,
            if (!back) EdgeDirection.Out else if (!fwd) EdgeDirection.In else EdgeDirection.Either)(
          (_, a, m) => ord.min(a, m),
          t => (if (fwd) offer(t.srcAttr, t.dstId, t.dstAttr) else Iterator.empty) ++
            (if (back) offer(t.dstAttr, t.srcId, t.srcAttr) else Iterator.empty),
          ord.min)
        result(seeds, reached.vertices.filter(v => ord.lt(v._2, none)), reached, sources)(cols: _*)
    }
  }

  /** `Pregel` for `n` supersteps, the last one lazily. Pregel computes and
    * checks the messages of one superstep past the last it applies, a
    * Spark job, then drops them; so Pregel runs `n - 1` supersteps, and the
    * last superstep's messages are computed again and applied in the job
    * that reads the result. The last superstep messages along every edge,
    * not only those of vertices that changed in the superstep before; that
    * is exact for min-relaxations, which send only what lowers a value, so
    * an unchanged vertex has nothing new to send. A run that converges
    * within `n - 1` supersteps pays for it with one edge pass that sends
    * nothing, inside the reading job. */
  private def pregel[V: ClassTag, E: ClassTag, M: ClassTag](g: Graph[V, E], initial: M, n: Int,
      dir: EdgeDirection)(vprog: (VertexId, V, M) => V, send: EdgeTriplet[V, E] => Iterator[(VertexId, M)],
      merge: (M, M) => M): Graph[V, E] = {
    val applied = if (n > 1) Pregel(g, initial, n - 1, dir)(vprog, send, merge)
      else g.mapVertices(vprog(_, _, initial))
    if (n < 1) applied
    else applied.joinVertices(applied.aggregateMessages[M](c => send(c.toEdgeTriplet).foreach {
      case (id, m) => if (id == c.srcId) c.sendToSrc(m) else c.sendToDst(m)
    }, merge))(vprog)
  }

  /** `vertices`' ids flagged true and `edges` as a GraphX graph with `w`
    * as a double edge attribute, and the two RDDs it is built from. An
    * edge endpoint outside `vertices` becomes a vertex flagged false. Ids
    * are cast to long. The inputs' partitioning is kept, for the reason
    * [[PropertyGraph.toGraphX]] gives. */
  private def graph(vertices: DataFrame, edges: DataFrame,
      w: Column = lit(0.0)): (Graph[Boolean, Double], Seq[RDD[_]]) = {
    val vs = vertices.select(col("id").cast("long")).rdd.map(r => (r.getLong(0), true))
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"), w.cast("double")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    (Graph(vs, es, defaultVertexAttr = false), Seq(vs, es))
  }

  /** `rows` pinned as a DataFrame of `cols` over the tuple fields `_1`,
    * `_2`, …; then what GraphX cached on the way to `rows` and `g` is
    * released. The pin is executor-local even when a checkpoint directory
    * is set: a reliable checkpoint's files outlive the result, and nothing
    * would delete them. */
  private def result[T <: Product: TypeTag](in: DataFrame, rows: RDD[T], g: Graph[_, _],
      sources: Seq[RDD[_]])(cols: Column*): DataFrame = {
    val out = Materialize.local(in.sparkSession.createDataFrame(rows).select(cols: _*))
    release(sources, rows, g.vertices, g.edges)
    out
  }

  /** A local algorithm's `rows` as a DataFrame of `cols` over the tuple
    * fields `_1`, `_2`, …: a `LocalRelation`, which needs no pin. */
  private def local[T <: Product: TypeTag](in: DataFrame, rows: Seq[T])(cols: Column*): DataFrame =
    in.sparkSession.createDataFrame(rows).select(cols: _*)

  /** Unpersists every RDD GraphX cached on the way from `sources` to
    * `roots`; run it once the result is pinned. The walk stops at
    * `sources`, so the caller's own cached RDDs and pins stay: `sources`
    * must be every RDD the graph was built from. */
  private def release(sources: Seq[RDD[_]], roots: RDD[_]*): Unit = {
    val seen = mutable.Set(sources.map(_.id): _*)
    val todo = mutable.Stack[RDD[_]](roots: _*)
    while (todo.nonEmpty) {
      val rdd = todo.pop()
      if (seen.add(rdd.id)) {
        if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
        rdd.dependencies.foreach(d => todo.push(d.rdd))
      }
    }
  }
}
