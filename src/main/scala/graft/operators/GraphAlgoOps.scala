package graft.operators

import graft.{Q, Tables}
import graft.graph.GraphAlgos
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whole-graph algorithms with exact DuckDB oracles (SURVEY.md §2.8 tail).
  *
  * The fixed-point algorithms ([[GraphAlgos]]: on the driver for graphs
  * this small, whose ids and edges Spark would broadcast; as GraphX
  * supersteps otherwise) run pinned iteration counts and deterministic
  * tie-breaks, so the oracle can replay them:
  * PageRank/label-propagation oracles are the same recurrence UNROLLED
  * into N CTE levels (generated here), CC is min-reachability, SSSP is
  * bounded-depth path enumeration. q_graph_pagerank / q_graph_cc in
  * [[GraphOps]] run the same PageRank and CC on the larger TPC-H graphs;
  * these entries pin their semantics on small graphs.
  *
  * Test graphs: the nation chain graph (nations of a region chained in
  * key order — sparse, diameter ≈ region size, exercises propagation) and
  * the co-purchase subgraph induced on p_partkey < 300.
  */
object GraphAlgoOps {

  /** Chain graph over nations: consecutive nations within a region,
    * canonical a<b, weight 1 + |a−b|/10. */
  private def nationChain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val n = Tables.nation(s, d)
    val byRegion = Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))
    val canon = n
      .withColumn("b", lead(col("n_nationkey"), 1).over(byRegion))
      .filter(col("b").isNotNull)
      .select(col("n_nationkey").as("a"), col("b"),
        (lit(1.0) + abs(col("n_nationkey") - col("b")) / 10.0).as("w"))
    val verts = n.select(col("n_nationkey").as("id"))
    (verts, canon)
  }

  private def undirected(canon: DataFrame): DataFrame =
    canon.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(canon.select(col("b").as("src"), col("a").as("dst"), col("w")))

  /** Scope `spark.sql.shuffle.partitions` down while building (and, for
    * [[GraphAlgos]]' eagerly pinned results, executing) a query
    * over a constant-size graph: a 25-node chain wants a handful of
    * reducers per iteration, not the session's batch default. The conf is
    * restored afterwards so concurrent batch work is unaffected — the same
    * discipline StreamingOps.withStatePartitions applies to state stores. */
  private def withSmallShuffle[T](s: SparkSession, n: Int = 1)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  private val ChainEdgesSql =
    """ce AS (
      |  SELECT a.n_nationkey AS a, min(b.n_nationkey) AS b
      |  FROM nation a JOIN nation b
      |    ON a.n_regionkey = b.n_regionkey AND b.n_nationkey > a.n_nationkey
      |  GROUP BY a.n_nationkey),
      |e AS (SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b, a FROM ce)""".stripMargin

  /** Induced co-purchase subgraph (both endpoints < 300), canonical a<b.
    * Pinned: label propagation reads the edge relation twice (once per
    * direction) and the clustering coefficient's wedge join three times,
    * and unpinned, the co-purchase derivation re-runs once per read. */
  private def coSub(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(
      graft.graph.PropertyGraph.coPurchase(s, d, maxPart = Some(300)))

  private val CoSubSql =
    """ce AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  WHERE l1.l_partkey < 300 AND l2.l_partkey < 300)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- PageRank with an exact unrolled-recurrence oracle ----
    Q("q_graph_pagerank_small", {
      val iters = (1 to 10).map { i =>
        s"""pr$i AS MATERIALIZED (
           |  SELECT v.id, 0.15 + 0.85 * coalesce(s.msum, 0.0) AS rank
           |  FROM pr${i - 1} v LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.rank / d.outdeg) AS msum
           |    FROM e JOIN pr${i - 1} p ON e.src = p.id JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON s.id = v.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ChainEdgesSql,
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |pr0 AS (SELECT n_nationkey AS id, CAST(1.0 AS DOUBLE) AS rank FROM nation),
         |$iters
         |SELECT id, round(rank, 6) AS rank FROM pr10 ORDER BY id""".stripMargin
    }) { (s, d) =>
      val (verts, canon) = nationChain(s, d)
      withSmallShuffle(s) {
        GraphAlgos.pageRank(verts, undirected(canon).select("src", "dst"), iters = 10, reset = 0.15)
      }.select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy("id")
    },

    // ---- connected components (HashMin) with a reachability oracle:
    //      comp(v) = min id reachable within the graph diameter ----
    Q("q_graph_cc_small",
      s"""WITH RECURSIVE $ChainEdgesSql,
         |reach(id, comp, depth) AS (
         |  SELECT n_nationkey, n_nationkey, 0 FROM nation
         |  UNION ALL
         |  SELECT e.dst, reach.comp, reach.depth + 1
         |  FROM reach JOIN e ON e.src = reach.id
         |  WHERE reach.depth < 6)
         |SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      val (verts, canon) = nationChain(s, d)
      withSmallShuffle(s) {
        GraphAlgos.connectedComponents(verts, undirected(canon).select("src", "dst"), maxIters = 10)
      }.orderBy("id")
    },

    // ---- weighted SSSP: Bellman-Ford rounds ≡ bounded-path enumeration ----
    Q("q_graph_sssp_weighted",
      s"""WITH RECURSIVE $ChainEdgesSql,
         |we AS (
         |  SELECT src, dst, CAST(1.0 + abs(src - dst) / 10.0 AS DOUBLE) AS w FROM e),
         |paths(id, dist, depth) AS (
         |  SELECT 0, CAST(0.0 AS DOUBLE), 0
         |  UNION ALL
         |  SELECT we.dst, paths.dist + we.w, paths.depth + 1
         |  FROM paths JOIN we ON we.src = paths.id
         |  WHERE paths.depth < 6)
         |SELECT id, round(min(dist), 6) AS dist FROM paths GROUP BY id ORDER BY id"""
        .stripMargin) { (s, d) =>
      val (verts, canon) = nationChain(s, d)
      GraphAlgos.weightedSssp(undirected(canon), col("id") === 0, verts, iters = 6)
        .select(col("id"), round(col("dist"), 6).as("dist"))
        .orderBy("id")
    },

    // ---- A* single-pair: branch-and-bound relaxation, admissible
    //      heuristic h(v) = |v − target|/10 (every edge costs ≥ |a−b|/10) ----
    Q("q_graph_astar",
      s"""WITH RECURSIVE $ChainEdgesSql,
         |we AS (
         |  SELECT src, dst, CAST(1.0 + abs(src - dst) / 10.0 AS DOUBLE) AS w FROM e),
         |paths(id, dist, depth) AS (
         |  SELECT 0, CAST(0.0 AS DOUBLE), 0
         |  UNION ALL
         |  SELECT we.dst, paths.dist + we.w, paths.depth + 1
         |  FROM paths JOIN we ON we.src = paths.id
         |  WHERE paths.depth < 6)
         |SELECT id, round(min(dist), 6) AS dist FROM paths WHERE id = 20
         |GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      val (_, canon) = nationChain(s, d)
      GraphAlgos.aStarPair(undirected(canon), source = 0L, target = 20L,
        h = v => abs(v - 20) / 10.0, iters = 6)
        .orderBy("id")
    },

    // ---- walk counts per (depth, node): matrix-power join chain ----
    Q("q_graph_walk_count",
      s"""WITH RECURSIVE $ChainEdgesSql,
         |r(id, d) AS (
         |  SELECT 0, 0
         |  UNION ALL
         |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id WHERE r.d < 4)
         |SELECT d AS depth, id, count(*) AS walks FROM r WHERE d >= 1
         |GROUP BY d, id ORDER BY depth, id""".stripMargin) { (s, d) =>
      val (verts, canon) = nationChain(s, d)
      GraphAlgos.walkCounts(
        undirected(canon).select("src", "dst"), col("id") === 0, verts, maxDepth = 4)
        .orderBy("depth", "id")
    },

    // ---- label propagation, 3 synchronous rounds, pinned tie-break ----
    Q("q_graph_label_prop", {
      val iters = (1 to 3).map { i =>
        s"""l$i AS (
           |  SELECT v.id, coalesce(b.best, v.lab) AS lab
           |  FROM l${i - 1} v LEFT JOIN (
           |    SELECT id, lab AS best FROM (
           |      SELECT e.dst AS id, l.lab, count(*) AS c,
           |        row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.lab) AS rn
           |      FROM e JOIN l${i - 1} l ON e.src = l.id GROUP BY e.dst, l.lab)
           |    WHERE rn = 1) b ON b.id = v.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $CoSubSql,
         |e AS (SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b, a FROM ce),
         |l0 AS (SELECT p_partkey AS id, p_partkey AS lab FROM part WHERE p_partkey < 300),
         |$iters
         |SELECT id, lab FROM l3 ORDER BY id""".stripMargin
    }) { (s, d) =>
      val verts = Tables.part(s, d).filter(col("p_partkey") < 300)
        .select(col("p_partkey").as("id"))
      val canon = coSub(s, d)
      val e = canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst")))
      // NOT small-shuffle-scoped: the co-purchase edge derivation is a
      // lineitem self-join that wants the session's full parallelism; the
      // 3 pinned iterations over the ~300-node result are already cheap.
      GraphAlgos.labelPropagation(verts, e, iters = 3).orderBy("id")
    },

    // ---- local clustering coefficient per vertex ----
    Q("q_graph_clustering_coeff",
      s"""WITH $CoSubSql,
         |und AS (SELECT a AS u, b AS v FROM ce UNION ALL SELECT b, a FROM ce),
         |deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ce e1 JOIN ce e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM ce e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
         |tpv AS (
         |  SELECT u, count(*) AS tri FROM (
         |    SELECT x AS u FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY u)
         |SELECT deg.u AS id, deg.deg AS deg, coalesce(tpv.tri, 0) AS tri,
         |  CASE WHEN deg.deg > 1
         |    THEN round(2.0 * coalesce(tpv.tri, 0) / (deg.deg * (deg.deg - 1)), 6)
         |    ELSE 0.0 END AS cc
         |FROM deg LEFT JOIN tpv ON tpv.u = deg.u
         |ORDER BY id""".stripMargin) { (s, d) =>
      GraphAlgos.clusteringCoefficient(coSub(s, d)).orderBy("id")
    }
  )
}
