package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphAlgos, PropertyGraph}

/** The iterative operators' loop forms checked against a plain-Scala BFS on
  * a small directed chain-plus-branch graph, PageRank against its plain
  * recurrence, and bounds on the Spark jobs the graph algorithms run, each
  * on the driver and on GraphX. */
class FixpointSpec extends AnyFunSuite with GraphPaths {
  import TestSession._
  import spark.implicits._

  /** A directed chain 0 -> 1 -> ... -> 12 with a branch 3 -> 100 -> 101 ->
    * 102 and a spur 5 -> 103: deeper than 10 hops along the chain. */
  private val edgeList: Seq[(Long, Long)] =
    (0L until 12L).map(i => (i, i + 1)) ++ Seq((3L, 100L), (100L, 101L), (101L, 102L), (5L, 103L))
  private lazy val g = {
    val ids = edgeList.flatMap { case (a, b) => Seq(a, b) }.distinct
    PropertyGraph(ids.map(i => (i, "n", i)).toDF("id", "label", "key"),
      edgeList.map { case (a, b) => (a, b, "next") }.toDF("src", "dst", "label"))
  }

  private def cached(ids: collection.Set[Int]): String =
    ids.toSeq.sorted.flatMap(spark.sparkContext.getPersistentRDDs.get).mkString("; ")

  /** Vertex -> first reach depth from `s`, up to `maxDepth` hops. */
  private def bfs(s: Long, maxDepth: Int): Map[Long, Int] = {
    val adj = edgeList.groupMap(_._1)(_._2).withDefaultValue(Seq.empty)
    val dist = mutable.Map(s -> 0)
    var frontier = Seq(s)
    for (d <- 1 to maxDepth) {
      frontier = frontier.flatMap(adj).distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    dist.toMap
  }

  bothPaths("TRAVERSE ... MAXDEPTH 10 (the deep form) matches a plain BFS") { _ =>
    val rows = graft.sql.Traverse.query(g, "TRAVERSE out() FROM n WHERE key = 0 MAXDEPTH 10")
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Number]("depth").intValue).toMap
    assert(rows == bfs(0, 10))
    assert(!rows.contains(11L)) // the chain goes on past the bound
  }

  bothPaths("Cypher *1..10 (the adaptive form) reaches the BFS set within 10 hops") { _ =>
    val keys = graft.cypher.Cypher.query(g,
      "MATCH (a:n {key: 0})-[:next*1..10]->(b:n) RETURN DISTINCT b.key AS key")
      .collect().map(_.getLong(0)).toSet
    assert(keys == bfs(0, 10).collect { case (v, d) if d >= 1 => v }.toSet)
    val deep = graft.cypher.Cypher.query(g,
      "MATCH (a:n {key: 0})-[:next*9..10]->(b:n) RETURN DISTINCT b.key AS key")
      .collect().map(_.getLong(0)).toSet
    assert(deep == bfs(0, 10).collect { case (v, d) if d >= 9 => v }.toSet)
  }

  bothPaths("TRAVERSE DEPTH_FIRST fails past 64 levels and matches a plain BFS under them") { _ =>
    val chain = PropertyGraph((0L to 70L).map(i => (i, "n", i)).toDF("id", "label", "key"),
      (0L until 70L).map(i => (i, i + 1, "next")).toDF("src", "dst", "label"))
    val ex = intercept[IllegalStateException] {
      graft.sql.Traverse.query(chain, "TRAVERSE out() FROM n WHERE key = 0 STRATEGY DEPTH_FIRST")
    }
    assert(ex.getMessage.contains("exceeded 64 levels"))
    val rows = graft.sql.Traverse.query(g, "TRAVERSE out() FROM n WHERE key = 0 STRATEGY DEPTH_FIRST")
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Number]("depth").intValue).toMap
    assert(rows == bfs(0, 64))
  }

  bothPaths("a 5-round pageRank and a depth-3 traverse run a bounded number of Spark jobs") { local =>
    val vs = g.vertices.select("id")
    val es = g.edges.select("src", "dst")
    val seeds = g.vertices.filter(col("id") === 0L)
    // compile the code paths first, so the counts measure the loops alone
    GraphAlgos.pageRank(vs, es, 5, 0.15).collect()
    g.traverse(seeds, 3).collect()
    val pr = jobsDuring(GraphAlgos.pageRank(vs, es, 5, 0.15).collect())._2
    val tr = jobsDuring(g.traverse(seeds, 3).collect())._2
    // on the driver, as measured: the collects of the ids and the edges.
    // On GraphX, the supersteps, as measured (pageRank's DataFrame loop
    // ran 18); traverse runs one message check per superstep, the pin and
    // the collect: 3 + 2
    assert(pr <= (if (local) 2 else 7), s"pageRank: $pr Spark jobs")
    assert(tr <= (if (local) 2 else 5), s"traverse: $tr Spark jobs")
  }

  bothPaths("connected components runs a bounded number of Spark jobs and leaves nothing cached") { local =>
    val vs = g.vertices.select("id")
    val es = g.edges.select("src", "dst")
    GraphAlgos.connectedComponents(vs, es, 50).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (rows, cc) = jobsDuring(GraphAlgos.connectedComponents(vs, es, 50).collect())
    // on the driver the two collects; on GraphX the supersteps, as
    // measured; the DataFrame loop ran 66
    assert(cc <= (if (local) 2 else 16), s"connectedComponents: $cc Spark jobs")
    // directed: the chain's head names every vertex it reaches
    assert(rows.forall(_.getLong(1) == 0L))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= (if (local) 0 else 1), s"cached after connectedComponents: ${cached(added)}")
  }

  bothPaths("pageRank equals the plain recurrence on duplicate, sink and non-vertex edges") { local =>
    val vs = Seq(1, 2, 3, 4, 5)
    // 1 -> 2 twice; 4 is a sink and 5 has no edge; 9 is not a vertex, and
    // neither is 8
    val es = Seq((1, 2), (1, 2), (2, 3), (3, 1), (2, 4), (1, 9), (8, 2))
    val iters = 5
    val sent = es.filter(e => vs.contains(e._1))
    val outDeg = sent.groupMapReduce(_._1)(_ => 1)(_ + _)
    val expected = (1 to iters).foldLeft(vs.map(_ -> 1.0).toMap) { (rank, _) =>
      vs.map(v => v -> (0.15 + 0.85 *
        sent.collect { case (a, `v`) => rank(a) / outDeg(a) }.sum)).toMap
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = GraphAlgos.pageRank(vs.toDF("id"), es.toDF("src", "dst"), iters, 0.15)
    val got = out.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(got.keySet == vs.toSet)
    vs.foreach(v => assert(math.abs(got(v) - expected(v)) < 1e-9, s"vertex $v: ${got(v)} vs ${expected(v)}"))
    // the result's own pin on GraphX is all the call leaves cached
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= (if (local) 0 else 1), s"cached after pageRank: ${cached(added)}")
  }
}
