package graft

import graft.cypher.Cypher
import graft.graph.PropertyGraph
import org.scalatest.funsuite.AnyFunSuite

/** Cypher parser/translator coverage beyond the oracled q_cypher_*. */
class CypherSpec extends AnyFunSuite {
  import TestSession._

  test("parses chains, directions, optional, return items") {
    val q = Cypher.parse(
      "MATCH (a:customer)-[:placed]->(b:order) OPTIONAL MATCH (b)-[:contains]->(p:part) " +
        "WHERE a.key < 10 RETURN a.key AS k, count(DISTINCT p.key) AS n ORDER BY k SKIP 1 LIMIT 5")
    val matches = q.clauses.collect { case m: Cypher.MatchC => m }
    assert(matches.length == 2)
    assert(matches(1).chains.head.optional)
    assert(matches(1).where.isDefined)
    assert(q.items.map(_.alias) == Seq(Some("k"), Some("n")))
    // SKIP/LIMIT are constant expressions since the TCK extension
    // (params / toInteger forms) — literals parse to integral NumLits
    assert(q.skip.contains(graft.sql.Ast.NumLit(BigDecimal(1), isIntegral = true)))
    assert(q.limit.contains(graft.sql.Ast.NumLit(BigDecimal(5), isIntegral = true)))
  }

  test("pattern predicates split from the WHERE conjunction; semi ≡ exists") {
    val q = Cypher.parse(
      "MATCH (c:customer) WHERE c.key BETWEEN 10 AND 40 AND (c)-[:placed]->(:order) " +
        "AND NOT (c)-[:placed]->(:order {name: 'X'}) RETURN c.key AS ck ORDER BY ck")
    val m = q.clauses.collect { case mc: Cypher.MatchC => mc }.head
    assert(m.patternPreds.map(_._2) == Seq(false, true)) // pos + negated
    assert(m.where.isDefined) // the BETWEEN survived (its AND not split)
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val got = Cypher.query(g,
      "MATCH (c:customer) WHERE c.key < 100 AND (c)-[:placed]->(:order {name: 'F'}) " +
        "RETURN c.key AS ck ORDER BY ck").collect().map(_.getLong(0))
    import org.apache.spark.sql.functions._
    val exp = Tables.customer(spark, sfDir).filter(col("c_custkey") < 100).alias("c")
      .join(Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F").alias("o"),
        col("c.c_custkey") === col("o.o_custkey"), "left_semi")
      .select(col("c_custkey")).orderBy("c_custkey").collect().map(_.getLong(0))
    assert(got.sameElements(exp))
  }

  test("WITH carries variables, UNWIND explodes literals, inline props filter") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val lits = Cypher.query(g, "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
    assert(lits.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val carried = Cypher.query(g,
      "MATCH (c:customer)-[:placed]->(o:order) WITH c, o WHERE c.key = 1 " +
        "RETURN c.key AS ck, count(*) AS n")
    val direct = Cypher.query(g,
      "MATCH (c:customer {key: 1})-[:placed]->(o:order) RETURN c.key AS ck, count(*) AS n")
    assert(carried.collect().toSeq == direct.collect().toSeq)
  }

  test("reverse direction parses to the same join as forward") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val fwd = Cypher.query(g,
      "MATCH (o:order)-[:contains]->(p:part) WHERE p.key < 20 RETURN p.key AS k, count(*) AS n ORDER BY k")
    val rev = Cypher.query(g,
      "MATCH (p:part)<-[:contains]-(o:order) WHERE p.key < 20 RETURN p.key AS k, count(*) AS n ORDER BY k")
    assert(fwd.collect().toSeq == rev.collect().toSeq)
  }

  test("multi-clause MATCH joins on shared variables") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val two = Cypher.query(g,
      "MATCH (c:customer)-[:placed]->(o:order) MATCH (o)-[:contains]->(p:part) " +
        "WHERE c.key = 1 RETURN count(DISTINCT p.key) AS n")
    val one = Cypher.query(g,
      "MATCH (c:customer)-[:placed]->(o:order)-[:contains]->(p:part) " +
        "WHERE c.key = 1 RETURN count(DISTINCT p.key) AS n")
    assert(two.collect()(0).getLong(0) == one.collect()(0).getLong(0))
  }

  test("write clauses: CREATE / MERGE / SET / DETACH DELETE mutate state") {
    import org.apache.spark.sql.functions._
    import graft.graph.MutableGraph
    val src = PropertyGraph(
      spark.range(3).select(col("id"), lit("n").as("label"), col("id").as("key"),
        concat(lit("v"), col("id")).as("name")),
      spark.range(2).select(col("id").as("src"), (col("id") + 1).as("dst"),
        lit("next").as("label")))
    val mg = MutableGraph.copyOf(spark, src, "/tmp/graft_state/cyspec_write")
    // CREATE node + edge
    Cypher.execute(mg, "CREATE (x:n {id: 10, key: 10, name: 'v10'})")
    Cypher.execute(mg, "MATCH (a:n {key: 2}), (b:n {key: 10}) CREATE (a)-[:next]->(b)")
    assert(mg.vertices.count() == 4 && mg.edges.count() == 3)
    // MERGE: existing no-op, new creates
    Cypher.execute(mg, "MERGE (x:n {id: 10, key: 10})")
    assert(mg.vertices.count() == 4)
    Cypher.execute(mg, "MERGE (x:n {id: 11, key: 11, name: 'v11'})")
    assert(mg.vertices.count() == 5)
    // SET with self-referencing expression
    Cypher.execute(mg, "MATCH (x:n) WHERE x.key <= 1 SET x.name = upper(x.name)")
    val names = mg.vertices.orderBy("key").collect().map(_.getAs[String]("name")).toSeq
    assert(names == Seq("V0", "V1", "v2", "v10", "v11"))
    // DETACH DELETE removes the vertex and its incident edges
    Cypher.execute(mg, "MATCH (x:n {key: 2}) DETACH DELETE x")
    assert(mg.vertices.count() == 4)
    assert(mg.edges.count() == 1) // 1->2 and 2->10 both gone
    // write clause rejected in read entry point
    intercept[graft.sql.Parser.ParseException] {
      Cypher.query(mg.graph, "MATCH (x:n) DELETE x")
    }
  }

  test("RETURN DISTINCT deduplicates") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val df = Cypher.query(g,
      "MATCH (c:customer)-[:placed]->(o:order) RETURN DISTINCT o.name AS st ORDER BY st")
    val vals = df.collect().map(_.getString(0)).toSeq
    assert(vals == vals.distinct && vals.nonEmpty)
  }

  test("list comprehension: WHERE-only, map-only, both, nested shadowing") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val df = Cypher.query(g,
      "UNWIND range(1, 4) AS x RETURN x, " +
        "size([y IN range(1, x) WHERE y % 2 = 0]) AS evens, " +
        "array_join([y IN range(1, x) | toString(y * 10)], ',') AS tens ORDER BY x")
    val rows = df.collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1, 1, 2))
    assert(rows.map(_.getString(2)).toSeq == Seq("10", "10,20", "10,20,30", "10,20,30,40"))
  }

  test("CALL db.* procedures and YIELD aliasing") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val labels = Cypher.query(g, "CALL db.labels() YIELD label RETURN label ORDER BY label")
      .collect().map(_.getString(0)).toSeq
    assert(labels == Seq("customer", "order", "part"))
    val keys = Cypher.query(g,
      "CALL db.propertyKeys() YIELD propertyKey AS pk RETURN pk ORDER BY pk")
      .collect().map(_.getString(0)).toSeq
    assert(keys == Seq("key", "name", "qty"))
    intercept[graft.sql.Parser.ParseException] {
      Cypher.query(g, "CALL db.nope() YIELD x RETURN x")
    }
  }

  test("CALL algo.cc propagates the least id along edge direction, not weak components") {
    import spark.implicits._
    // 1 -> 2 <- 3 and 5 -> 4 -> 6: weakly, {1, 2, 3} and {4, 5, 6}
    val g = PropertyGraph((1L to 6L).map(i => (i, "n", i)).toDF("id", "label", "key"),
      Seq((1L, 2L), (3L, 2L), (5L, 4L), (4L, 6L)).map { case (a, b) => (a, b, "r") }
        .toDF("src", "dst", "label"))
    val comps = Cypher.query(g, "CALL algo.cc(10) YIELD id, comp RETURN id, comp ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(comps == Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 4L))
  }

  test("path functions resolve statically on named plain paths") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val row = Cypher.query(g,
      "MATCH p = (c:customer {key: 1})-[:placed]->(o:order) " +
        "RETURN length(p) AS len, size(nodes(p)) AS nn, " +
        "array_join(relationships(p), '|') AS rels LIMIT 1").collect().head
    assert(row.getLong(0) == 1L && row.getInt(1) == 2 && row.getString(2) == "placed")
    // a named path over a variable-length rel resolves per-row: length(p)
    // is the actual hop count of each walk, not the static chain shape
    val lens = Cypher.query(PropertyGraph.fromTpch(spark, sfDir),
      "MATCH p = (c:customer {key: 1})-[:placed*1..2]->(x) " +
        "RETURN DISTINCT length(p) AS len ORDER BY len").collect().map(_.getLong(0))
    assert(lens.sameElements(Array(1L)))
  }

  test("Cypher string function names: toUpper/toLower/split") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    val row = Cypher.query(g,
      "UNWIND ['a-b-c'] AS s RETURN toUpper(s) AS u, toLower('XY') AS l, " +
        "size(split(s, '-')) AS n").collect().head
    assert(row.getString(0) == "A-B-C" && row.getString(1) == "xy" && row.getInt(2) == 3)
  }

  test("temporal namespace: truncation and duration comparison") {
    val g = PropertyGraph.fromTpch(spark, sfDir)
    // literal-rooted temporals fold to EXACT openCypher values (the
    // round-7 Temporals interpreter): durations carry calendar
    // components and render as ISO text, not a seconds count
    val row = Cypher.query(g,
      "UNWIND [1] AS x RETURN " +
        "toString(date.truncate('month', date('2020-03-17'))) AS mo, " +
        "toString(duration.between(datetime('2020-01-01 00:00:00'), datetime('2020-01-02 06:00:00'))) AS s, " +
        "duration('P1DT6H').days AS dd, duration('P1DT6H').seconds AS ds").collect().head
    assert(row.getString(0) == "2020-03-01")
    assert(row.getString(1) == "P1DT6H")
    assert(row.getLong(2) == 1L && row.getLong(3) == 21600L)
  }
}
