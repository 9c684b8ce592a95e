package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{GraphAlgos, PropertyGraph}

/** Fixpoint operators on the sf0.1 co-purchase graph of parts below
  * [[GraphIterative.MaxPart]]: BFS, Cypher variable-length paths, Gremlin
  * repeat, weighted SSSP, A*, label propagation, and PageRank and connected
  * components through both GraphX and graft's DataFrame loops.
  *
  * References are computed on the driver in plain Scala over an edge list
  * that plain Spark SQL derives from the same lineitem file, so neither
  * graft's graph builders nor its operators are on the reference side. */
final class GraphIterative extends Workload {
  import GraphIterative._
  val scale = "sf0.1"

  private val RefVersion = 1
  private var ctx: Ctx = _
  private var vertices: DataFrame = _
  private var edges: DataFrame = _
  private var weighted: DataFrame = _
  private var graph: PropertyGraph = _

  private def spark = ctx.spark

  def open(c: Ctx): Unit = {
    ctx = c
    val co = PropertyGraph.coPurchase(spark, c.dataDir, maxPart = Some(MaxPart))
    edges = graft.Materialize.once(
      co.select(col("a").as("src"), col("b").as("dst"))
        .union(co.select(col("b").as("src"), col("a").as("dst")))
        .withColumn("label", lit("co")))
    weighted = edges.select(col("src"), col("dst"), weight(col("src"), col("dst")).as("w"))
    vertices = graft.Tables.part(spark, c.dataDir).filter(col("p_partkey") < MaxPart)
      .select(col("p_partkey").as("id"), lit("part").as("label"), col("p_partkey").as("key"))
    graph = PropertyGraph(vertices, edges)
    spark.read.parquet(s"${c.dataDir}/lineitem.parquet").createOrReplaceTempView("ref_lineitem")
  }

  private def ids = vertices.select("id")
  private def pairs = edges.select("src", "dst")
  private def k(parts: Any*) = parts.mkString("/") + s"/r$RefVersion"

  /** The operation of template `t` with seed-drawn parameters, all of which
    * its key records. A warm-up operation runs the same code paths with one
    * or two rounds. */
  private def op(t: String, rng: scala.util.Random, warm: Boolean = false): Op = {
    val s = rng.nextInt(MaxPart.toInt).toLong
    def depth(d: Int) = if (warm) 1 else d
    def rounds(n: Int) = if (warm) math.min(n, 2) else n
    t match {
      case "traverse" => Op.fixpoint(t, k(t, s, depth(TraverseDepth)))(
        graph.traverse(vertices.filter(col("id") === s), depth(TraverseDepth), "out", Some("co")))
      case "cypher_varlen" =>
        val text = s"MATCH (a:part {key: $s})-[:co*1..${depth(PathDepth)}]->(b:part) RETURN DISTINCT b.key AS key"
        Op.query(t, k(t, s, depth(PathDepth)), Some(() => graft.cypher.Cypher.parse(text)))(
          graft.cypher.Cypher.query(graph, text))
      case "gremlin_repeat" => Op.query(t, k(t, s, depth(PathDepth)))(graft.gremlin.Gremlin.query(graph,
        s"g.V().hasLabel('part').has('key', $s).repeat(out('co')).times(${depth(PathDepth)}).dedup().values('key')"))
      case "sssp" => Op.fixpoint(t, k(t, s, SsspRounds))(
        GraphAlgos.weightedSssp(weighted, col("id") === s, ids, rounds(SsspRounds)))
      case "astar" =>
        val goal = rng.nextInt(MaxPart.toInt).toLong
        Op.fixpoint(t, k(t, s, goal, AStarRounds))(GraphAlgos.aStarPair(weighted, s, goal, _ => lit(0.0), rounds(AStarRounds)))
      case "label_prop" => Op.fixpoint(t, k(t, LabelRounds))(GraphAlgos.labelPropagation(ids, pairs, rounds(LabelRounds)))
      case "pagerank_df" => Op.fixpoint(t, k(t, PageRankRounds))(
        GraphAlgos.pageRank(ids, pairs, rounds(PageRankRounds), Reset))
      case "pagerank_graphx" => Op.fixpoint(t, k(t, PageRankRounds)) {
        val r = org.apache.spark.graphx.lib.PageRank.run(graph.toGraphX, rounds(PageRankRounds), Reset)
        spark.createDataFrame(r.vertices.map { case (id, rank) => (id, rank) }).toDF("id", "rank")
      }
      case "cc_df" => Op.fixpoint(t, k(t))(GraphAlgos.connectedComponents(ids, pairs, rounds(CcMaxRounds)))
      case "cc_graphx" => Op.fixpoint(t, k(t)) {
        val cc = graph.toGraphX.connectedComponents(rounds(CcMaxRounds)).vertices
        spark.createDataFrame(cc.map { case (id, comp) => (id, comp) }).toDF("id", "comp")
      }
    }
  }

  def warmup(rng: scala.util.Random): Seq[Op] = Templates.map(op(_, rng, warm = true))

  def ops(rng: scala.util.Random, seconds: Int): Seq[Op] =
    Workload.rounds(rng, math.max(1, math.round(seconds * RoundsPerSecond).toInt), Templates).map(op(_, rng))

  def expected(ops: Seq[Op]): Map[String, Checksum] =
    ctx.refs.getAll(ops.map(_.key)) { missing =>
      val g = new RefGraph(spark.sql(
        s"""SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           |FROM ref_lineitem l1 JOIN ref_lineitem l2
           |  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
           |WHERE l1.l_partkey < $MaxPart AND l2.l_partkey < $MaxPart""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))), MaxPart.toInt)
      val session = spark; import session.implicits._
      missing.map { key =>
        val p = key.split('/')
        def arg(i: Int) = p(i).toLong
        val df: DataFrame = p(0) match {
          case "traverse" => g.bfs(arg(1), arg(2).toInt).toSeq.toDF("id", "depth")
          case "cypher_varlen" =>
            val d = g.bfs(arg(1), arg(2).toInt)
            val self = if (arg(2) >= 2 && g.adj(arg(1)).nonEmpty) Seq(arg(1)) else Nil
            (d.collect { case (v, dep) if dep >= 1 => v }.toSeq ++ self).toDF("key")
          case "gremlin_repeat" =>
            (1 to arg(2).toInt).foldLeft(Set(arg(1)))((f, _) => f.flatMap(v => g.adj(v).map(_._1)))
              .toSeq.toDF("value")
          case "sssp" => g.bellmanFord(arg(1), arg(2).toInt).toSeq.toDF("id", "dist")
          case "astar" => g.bellmanFord(arg(1), arg(3).toInt).get(arg(2)).map(arg(2) -> _).toSeq.toDF("id", "dist")
          case "label_prop" => g.labelPropagation(arg(1).toInt).toSeq.toDF("id", "lab")
          case "pagerank_df" => g.pageRank(arg(1).toInt, normalize = false).toSeq.toDF("id", "rank")
          case "pagerank_graphx" => g.pageRank(arg(1).toInt, normalize = true).toSeq.toDF("id", "rank")
          case "cc_df" | "cc_graphx" => g.components().toSeq.toDF("id", "comp")
        }
        key -> Checksum.of(df)
      }.toMap
    }
}

object GraphIterative {
  /** The graph holds parts with key below this: a few thousand vertices, so
    * per-round driver and scheduling cost dominates, as at small scale. */
  val MaxPart = 2000L
  val Templates = Seq("traverse", "cypher_varlen", "gremlin_repeat", "sssp", "astar", "label_prop",
    "pagerank_df", "pagerank_graphx", "cc_df", "cc_graphx")
  val RoundsPerSecond = 0.2
  /** Depth bounds are fixed per template and the source vertices drawn from
    * the seed: a depth drawn per run would move each run's median by itself. */
  val TraverseDepth = 3
  val PathDepth = 2
  val SsspRounds = 4
  val AStarRounds = 4
  val LabelRounds = 2
  val PageRankRounds = 5
  val Reset = 0.15
  /** Far above the graph's diameter, so the DataFrame loop always converges. */
  val CcMaxRounds = 50

  /** Edge weight, symmetric in its endpoints; a multiple of 1/4, so path
    * costs are exact in any summation order. */
  def weight(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    lit(1.0) + pmod(a + b, lit(7L)) / 4.0
  def weight(a: Long, b: Long): Double = 1.0 + ((a + b) % 7) / 4.0

  /** An undirected graph over vertices 0 until `n`, for the references. */
  final class RefGraph(canon: Seq[(Long, Long)], n: Int) {
    val adj: Map[Long, Seq[(Long, Double)]] = {
      val m = mutable.Map[Long, mutable.ArrayBuffer[(Long, Double)]]()
      canon.foreach { case (a, b) =>
        m.getOrElseUpdate(a, mutable.ArrayBuffer()) += ((b, weight(a, b)))
        m.getOrElseUpdate(b, mutable.ArrayBuffer()) += ((a, weight(a, b)))
      }
      m.view.mapValues(_.toSeq).toMap.withDefaultValue(Seq.empty)
    }

    /** Vertex -> hop distance from `s`, for distances up to `depth`. */
    def bfs(s: Long, depth: Int): Map[Long, Int] = {
      val dist = mutable.Map(s -> 0)
      var frontier = Seq(s)
      for (d <- 1 to depth) {
        frontier = frontier.flatMap(v => adj(v).map(_._1)).distinct.filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      dist.toMap
    }

    /** Least cost from `s` over paths of at most `rounds` edges. */
    def bellmanFord(s: Long, rounds: Int): Map[Long, Double] =
      (1 to rounds).foldLeft(Map(s -> 0.0)) { (dist, _) =>
        val relaxed = dist.toSeq.flatMap { case (v, d) => adj(v).map { case (w, c) => w -> (d + c) } }
        (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
      }

    /** Static PageRank: rank 1.0, then reset + (1 - reset) * sum of
    * rank / out-degree over in-edges; GraphX rescales ranks to sum to n. */
    def pageRank(rounds: Int, normalize: Boolean): Map[Long, Double] = {
      var rank = Array.fill(n)(1.0)
      for (_ <- 1 to rounds) {
        val msum = new Array[Double](n)
        for (u <- 0 until n; (v, _) <- adj(u.toLong)) msum(v.toInt) += rank(u) / adj(u.toLong).size
        rank = msum.map(m => Reset + (1 - Reset) * m)
      }
      val scale = if (normalize) n / rank.sum else 1.0
      rank.indices.map(i => i.toLong -> rank(i) * scale).toMap
    }

    /** Component of each vertex, named by its smallest vertex. */
    def components(): Map[Long, Long] = {
      val comp = mutable.Map[Long, Long]()
      for (s <- 0L until n.toLong if !comp.contains(s)) bfs(s, n).keys.foreach(comp(_) = s)
      comp.toMap
    }

    /** Synchronous label propagation: each vertex with neighbours takes their
      * most frequent label, ties to the smallest. */
    def labelPropagation(rounds: Int): Map[Long, Long] = {
      var lab = (0L until n.toLong).map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        lab = lab.map { case (v, l) =>
          val ns = adj(v)
          if (ns.isEmpty) v -> l
          else v -> ns.groupBy(x => lab(x._1)).toSeq.map { case (lb, xs) => (-xs.size, lb) }.min._2
        }
      }
      lab
    }
  }
}
