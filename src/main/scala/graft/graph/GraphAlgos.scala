package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Distributed graph algorithms as iterative DataFrame programs, the
  * Spark-native re-expression of the reference's OLAP algorithm suite
  * (graph/olap/GraphAlgorithms.java — PageRank :164, connected components
  * :309, Dijkstra single-source :981, label propagation :1118, local
  * clustering coefficient :1252).
  *
  * Each iteration is one join + one aggregation — plain shuffles that
  * partition by vertex id at any scale — run as a [[Fixpoint]] step, whose
  * pin policy keeps a 20-iteration run from building a 20-deep plan.
  * GraphX remains the scale path for long-running fixpoints (see
  * PropertyGraph.toGraphX); these explicit loops exist where the reference
  * pins exact semantics a DuckDB oracle can replay (deterministic
  * tie-breaks, fixed iteration counts).
  */
object GraphAlgos {
  import Fixpoint.{Rounds, Until}

  /** Static PageRank, GraphX formulation (rank0 = 1.0; rank' = reset +
    * (1−reset)·Σ rank/outdeg over in-edges), fixed iteration count.
    * `edges` = (src, dst) directed. Reference GraphAlgorithms.java:164.
    * The degree-annotated edge relation is loop-invariant: persisted once,
    * reused by every iteration, released after the final rank (an eager
    * localCheckpoint) is materialized. */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int, reset: Double): DataFrame = {
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // Eager localCheckpoint, NOT persist(): a cached plan is planned with
    // AQE disabled (canChangeCachedPlanOutputPartitioning=false), so a
    // derived edge relation (e.g. a self-join) would lose its runtime
    // broadcast/coalesce — measured 4-25x slower. The checkpoint runs one
    // AQE-planned job and iterations reuse the materialized blocks;
    // ContextCleaner reclaims them once the result drops the reference.
    val e = Materialize.once(edges.join(outDeg, Seq("src")))
    val rank = Fixpoint(vertices.select(col("id"), lit(1.0).as("rank")),
        Rounds(iters, readsTwice = false)) { r =>
      val msgs = e.join(r.prev.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outdeg")).as("msum"))
      vertices.select(col("id"))
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(reset) + lit(1.0 - reset) * coalesce(col("msum"), lit(0.0))).as("rank"))
    }
    Materialize.once(rank.out)
  }

  /** Connected components by iterative min-id propagation (HashMin), the
    * set-oriented form of GraphAlgorithms.java:309. `edges` must contain
    * both directions for undirected graphs. Converges in O(diameter). */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIters: Int): DataFrame = {
    val e = Materialize.once(edges) // see pageRank: AQE-planned once, not persist()
    // each round carries the previous label as `prev`, so "no row
    // changed" is a filter over the round's pinned rows, not a self-join
    Fixpoint(vertices.select(col("id"), col("id").as("comp")),
        Until(maxIters, col("comp") =!= col("prev"))) { r =>
      val comp = r.prev.select("id", "comp")
      val nbrMin = e.join(comp.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("nbr"))
      comp.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
    }.out.select("id", "comp")
  }

  /** Synchronous label propagation with a deterministic tie-break (max
    * neighbor-label count, ties → smallest label), fixed iteration count —
    * GraphAlgorithms.java:1118 with the tie order pinned so every engine
    * replays the same communities. `edges` both directions. */
  def labelPropagation(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val e = Materialize.once(edges) // loop-invariant (often a derived join —
    // e.g. a co-purchase self-join): one AQE-planned materialization instead
    // of `iters` recomputes; see pageRank for why persist() is wrong here
    val byCount = Window.partitionBy(col("id")).orderBy(col("c").desc, col("lab"))
    // A round reads the previous labels twice, in the messages and in the
    // update, so every round before the last is pinned. The pinned rows
    // lose the join's hash partitioning and the update re-shuffles them;
    // the result is left unpinned, which saves that job again: its reader
    // reads it once.
    Fixpoint(vertices.select(col("id"), col("id").as("lab")),
        Rounds(iters, readsTwice = true)) { r =>
      val best = e.join(r.prev.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byCount))
        .filter(col("rn") === 1)
        .select(col("id"), col("lab").as("best"))
      r.prev.join(best, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("best"), col("lab")).as("lab"))
    }.out
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
    * w_{h-1} × A as repeated join+sum — matrix-power shape, one shuffle
    * per depth, counts never materialize individual paths. */
  def walkCounts(edges: DataFrame, sourceFilter: Column, vertices: DataFrame,
      maxDepth: Int): DataFrame = {
    // each depth feeds both the next depth and the result
    Fixpoint(vertices.filter(sourceFilter).select(col("id"), lit(1L).as("walks")),
        Rounds(maxDepth, readsTwice = true),
        Some(Fixpoint.Merge(None, (front, d) => front.withColumn("depth", lit(d))))) { r =>
      r.prev.join(edges.withColumnRenamed("src", "id"), Seq("id"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("walks")).as("walks"))
    }.out.select("depth", "id", "walks")
  }

  /** A* single-pair shortest path (reference function/sql/graph/
    * SQLFunctionAstar.java) as distributed branch-and-bound: Bellman-Ford
    * relaxation rounds with heuristic pruning — once a goal cost B is
    * known, states with g + h(v) > B are dropped (h admissible ⇒ no
    * optimal path is lost). A sequential priority-queue A* is a
    * single-node design; set-oriented relaxation + pruning keeps every
    * step a distributed join, and the only driver fetch is the scalar
    * goal cost per round. `edges` = (src, dst, w). */
  def aStarPair(edges: DataFrame, source: Long, target: Long,
      h: Column => Column, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    var best = Double.PositiveInfinity
    Fixpoint(graft.OneRow(spark).select(lit(source).as("id"), lit(0.0).as("g")),
        Rounds(iters, readsTwice = true)) { r =>
      val relaxed = r.prev.join(edges.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("dst").as("id"), (col("g") + col("w")).as("g"))
      val dist = r.prev.union(relaxed).groupBy("id").agg(min(col("g")).as("g"))
      // The goal probe is the loop's only driver action (the lazy pins
      // materialize under it), so it runs every second round: half the
      // scheduler round-trips (42 → 32 Spark jobs per query). Skipping a
      // probe only delays pruning by one round; pruning never drops a
      // state on an optimal path (h admissible), so the final min-g at the
      // target after `iters` relaxations is identical.
      if (r.n % 2 == 1 && r.n < iters) dist
      else {
        val hit = dist.filter(col("id") === target).select("g").limit(2).collect()
        if (hit.nonEmpty) best = math.min(best, hit(0).getDouble(0))
        if (best.isInfinite) dist else dist.filter(col("g") + h(col("id")) <= best + 1e-9)
      }
    }.out.filter(col("id") === target)
      .select(col("id"), round(col("g"), 6).as("dist"))
  }

  /** Weighted single-source shortest paths by distributed Bellman-Ford
    * relaxation, `iters` rounds == exact min-cost over paths of ≤ `iters`
    * edges (reference SQLFunctionDijkstra / GraphAlgorithms.java:981 —
    * a sequential heap walk is a single-node design; relaxation rounds
    * are the set-oriented equivalent). `edges` = (src, dst, w). */
  def weightedSssp(edges: DataFrame, sourceFilter: Column, vertices: DataFrame, iters: Int): DataFrame = {
    Fixpoint(vertices.filter(sourceFilter).select(col("id"), lit(0.0).as("dist")),
        Rounds(iters, readsTwice = true)) { r =>
      val relaxed = r.prev.join(edges.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      r.prev.union(relaxed).groupBy("id").agg(min(col("dist")).as("dist"))
    }.out
  }
}
