package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphAlgos, PropertyGraph}

/** The iterative operators' loop forms checked against a plain-Scala BFS on
  * a small directed chain-plus-branch graph, and a bound on the Spark jobs
  * two fixed-round loops run. */
class FixpointSpec extends AnyFunSuite {
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

  test("TRAVERSE ... MAXDEPTH 10 (the deep form) matches a plain BFS") {
    val rows = graft.sql.Traverse.query(g, "TRAVERSE out() FROM n WHERE key = 0 MAXDEPTH 10")
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Number]("depth").intValue).toMap
    assert(rows == bfs(0, 10))
    assert(!rows.contains(11L)) // the chain goes on past the bound
  }

  test("Cypher *1..10 (the adaptive form) reaches the BFS set within 10 hops") {
    val keys = graft.cypher.Cypher.query(g,
      "MATCH (a:n {key: 0})-[:next*1..10]->(b:n) RETURN DISTINCT b.key AS key")
      .collect().map(_.getLong(0)).toSet
    assert(keys == bfs(0, 10).collect { case (v, d) if d >= 1 => v }.toSet)
    val deep = graft.cypher.Cypher.query(g,
      "MATCH (a:n {key: 0})-[:next*9..10]->(b:n) RETURN DISTINCT b.key AS key")
      .collect().map(_.getLong(0)).toSet
    assert(deep == bfs(0, 10).collect { case (v, d) if d >= 9 => v }.toSet)
  }

  test("TRAVERSE DEPTH_FIRST fails past 64 levels and matches a plain BFS under them") {
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

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a 5-round pageRank and a depth-3 traverse run a bounded number of Spark jobs") {
    val vs = g.vertices.select("id")
    val es = g.edges.select("src", "dst")
    val seeds = g.vertices.filter(col("id") === 0L)
    // compile the code paths first, so the counts measure the loops alone
    GraphAlgos.pageRank(vs, es, 5, 0.15).collect()
    g.traverse(seeds, 3).collect()
    val pr = jobsDuring(GraphAlgos.pageRank(vs, es, 5, 0.15).collect())
    val tr = jobsDuring(g.traverse(seeds, 3).collect())
    // the counts of the hand-written loops these replaced: pinning every
    // pageRank round, for one, would run more
    assert(pr <= 18, s"pageRank: $pr Spark jobs")
    assert(tr <= 10, s"traverse: $tr Spark jobs")
  }
}
