package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph

/** Short reads on sf0.1 from every front-end.
  *
  * Eleven templates: with ten, five cheap ones (key lookups, small
  * aggregates) and five dear ones (graph patterns, PromQL windows) split each
  * run at its median, which then jumps across the gap between them.
  *
  * Each template is one parameterized statement whose key follows YCSB's
  * scrambled Zipfian distribution over the template's key space
  * ([[Workload.Zipf]]). Its head is a set of repeated statement texts that
  * the 256-entry statement cache holds; its long tail is a stream of
  * fresh-literal texts that overflows the cache. Before the measured window
  * each set-up passes the texts of [[HistoryRounds]] earlier rounds of the
  * same stream through the dialects' public parse, as the traffic before it
  * would have, so the timed operations meet the cache in the state its size
  * and eviction policy give. */
final class Interactive extends Workload {
  val scale = "sf0.1"

  /** Rounds of all templates per second of measurement. */
  private val RoundsPerSecond = 0.3
  /** Rounds of earlier traffic that fill the statement cache: about 450
    * distinct texts through it, well past its 256 entries. */
  private val HistoryRounds = 100
  private val RefVersion = 1

  private var ctx: Ctx = _
  private var graph: PropertyGraph = _
  private var kv: DataFrame = _

  /** One parameterized statement: its key space, the operation for a key,
    * and the reference checksums for many keys at once. */
  private final class T(val name: String, val space: Int, val op: Long => Op,
      val ref: Seq[Long] => Map[Long, Checksum]) {
    val keys = new Workload.Zipf(space)
  }

  private def spark = ctx.spark
  private def dir = ctx.dataDir
  private def keyOf(t: T, k: Long) = s"${t.name}/r$RefVersion/$k"
  private def in(ks: Seq[Long]) = ks.mkString("(", ",", ")")
  private def refSql(sql: String) = Checksum.byKey(spark.sql(sql), "__k")

  private def sqlOp(name: String, k: Long, text: String): Op =
    Op.query(name, s"$name/r$RefVersion/$k",
      Some(() => graft.StatementCache.cached("sql", text)(graft.sql.Parser.parse(text))))(
      graft.sql.GraftSql.query(spark, dir, text))

  private def cypherOp(name: String, k: Long, text: String): Op =
    Op.query(name, s"$name/r$RefVersion/$k", Some(() => graft.cypher.Cypher.parse(text)))(
      graft.cypher.Cypher.query(graph, text))

  private val PromTypes = Seq("click", "error", "purchase", "signup", "view")
  private val PromDays = 29

  private val templates: Seq[T] = Seq(
    new T("sql_point", DataGen.Orders.toInt, k => sqlOp("sql_point", k,
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = $k"),
      ks => refSql(s"""SELECT o_orderkey AS __k, o_orderkey, o_custkey, o_orderstatus, o_totalprice
                      |FROM ref_orders WHERE o_orderkey IN ${in(ks)}""".stripMargin)),
    new T("sql_range_agg", DataGen.Customers.toInt, k => sqlOp("sql_range_agg", k,
      s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
        s"WHERE o_custkey BETWEEN $k AND ${k + 20} GROUP BY o_orderstatus"),
      ks => refSql(s"""SELECT k.__k, o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
                      |FROM (SELECT explode(array${in(ks)}) AS __k) k
                      |JOIN ref_orders o ON o.o_custkey BETWEEN k.__k AND k.__k + 20
                      |GROUP BY k.__k, o_orderstatus""".stripMargin)),
    new T("sql_cust_agg", DataGen.Customers.toInt, k => sqlOp("sql_cust_agg", k,
      s"SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS top FROM customer " +
        s"WHERE c_custkey BETWEEN $k AND ${k + 300} GROUP BY c_mktsegment"),
      ks => refSql(s"""SELECT k.__k, c_mktsegment, count(*) AS n, max(c_acctbal) AS top
                      |FROM (SELECT explode(array${in(ks)}) AS __k) k
                      |JOIN ref_customer c ON c.c_custkey BETWEEN k.__k AND k.__k + 300
                      |GROUP BY k.__k, c_mktsegment""".stripMargin)),
    new T("cypher_1hop", DataGen.Customers.toInt, k => cypherOp("cypher_1hop", k,
      s"MATCH (c:customer {key: $k})-[:placed]->(o:order) RETURN o.key AS okey, o.name AS status"),
      ks => refSql(s"""SELECT o_custkey AS __k, o_orderkey AS okey, o_orderstatus AS status
                      |FROM ref_orders WHERE o_custkey IN ${in(ks)}""".stripMargin)),
    new T("cypher_2hop", DataGen.Customers.toInt, k => cypherOp("cypher_2hop", k,
      s"MATCH (c:customer {key: $k})-[:placed]->(o:order)-[:contains]->(p:part) RETURN DISTINCT p.key AS pkey"),
      ks => refSql(s"""SELECT DISTINCT o_custkey AS __k, l_partkey AS pkey
                      |FROM ref_orders JOIN ref_lineitem ON o_orderkey = l_orderkey
                      |WHERE o_custkey IN ${in(ks)}""".stripMargin)),
    new T("gremlin_out", DataGen.Customers.toInt, k =>
      Op.query("gremlin_out", s"gremlin_out/r$RefVersion/$k")(graft.gremlin.Gremlin.query(graph,
        s"g.V().hasLabel('customer').has('key', $k).out('placed').values('key')")),
      ks => refSql(s"""SELECT o_custkey AS __k, o_orderkey AS value
                      |FROM ref_orders WHERE o_custkey IN ${in(ks)}""".stripMargin)),
    new T("graphql_lookup", DataGen.Customers.toInt, k =>
      Op.query("graphql_lookup", s"graphql_lookup/r$RefVersion/$k")(
        graft.graphql.GraphQL.query(graph, Interactive.GraphQLSchema,
          s"{ customerByKey(key: $k) { key name orders { key name } } }")
          .select(col("key"), col("name"), size(col("orders")).as("n_orders"))),
      ks => refSql(s"""SELECT c_custkey AS __k, c_custkey AS key, c_name AS name, count(o_orderkey) AS n_orders
                      |FROM ref_customer LEFT JOIN ref_orders ON o_custkey = c_custkey
                      |WHERE c_custkey IN ${in(ks)} GROUP BY c_custkey, c_name""".stripMargin)),
    new T("mongo_find", DataGen.Customers.toInt, k =>
      Op.query("mongo_find", s"mongo_find/r$RefVersion/$k")(
        graft.mongo.Mongo.find(graft.Tables.orders(spark, dir), s"""{"o_custkey": $k}""",
          """{"o_orderkey": 1, "o_totalprice": 1}""")),
      ks => refSql(s"""SELECT o_custkey AS __k, o_orderkey, o_totalprice
                      |FROM ref_orders WHERE o_custkey IN ${in(ks)}""".stripMargin)),
    new T("mongo_aggregate", DataGen.Customers.toInt, k =>
      Op.query("mongo_aggregate", s"mongo_aggregate/r$RefVersion/$k")(
        graft.mongo.Mongo.aggregate(graft.Tables.orders(spark, dir),
          s"""[{"$$match": {"o_custkey": {"$$gte": $k, "$$lte": ${k + 20}}}},
             | {"$$group": {"_id": "$$o_orderpriority", "n": {"$$sum": 1},
             |             "total": {"$$sum": "$$o_totalprice"}}}]""".stripMargin)),
      ks => refSql(s"""SELECT k.__k, o_orderpriority AS _id, count(*) AS n, sum(o_totalprice) AS total
                      |FROM (SELECT explode(array${in(ks)}) AS __k) k
                      |JOIN ref_orders o ON o.o_custkey BETWEEN k.__k AND k.__k + 20
                      |GROUP BY k.__k, o_orderpriority""".stripMargin)),
    new T("redis_get", DataGen.Customers.toInt, k =>
      Op.query("redis_get", s"redis_get/r$RefVersion/$k")(graft.kv.Redis.get(kv, s"c:$k")),
      ks => refSql(s"SELECT c_custkey AS __k, c_name AS value FROM ref_customer WHERE c_custkey IN ${in(ks)}")),
    new T("promql_range", PromTypes.size * PromDays, k => {
      val (text, start, end) = promql(k)
      Op.query("promql_range", s"promql_range/r$RefVersion/$k",
        Some(() => graft.promql.PromQL.parse(text)))(
        graft.promql.PromQL.rangeQuery(spark, dir, text, start, end, 1800))
    }, ks => {
      val rows = ks.map { k => s"($k, '${PromTypes((k % 5).toInt)}', TIMESTAMP '${promql(k)._2}')" }
      refSql(s"""SELECT s.__k, s.t, e.event_type, sum(e.value) AS value
                |FROM (SELECT __k, etype,
                |        explode(sequence(t0, t0 + INTERVAL 6 HOURS, INTERVAL 30 MINUTES)) AS t
                |      FROM (VALUES ${rows.mkString(", ")}) AS k(__k, etype, t0)) s
                |JOIN ref_events e ON e.event_type = s.etype
                |  AND e.ts > s.t - INTERVAL 1 HOUR AND e.ts <= s.t
                |GROUP BY s.__k, s.t, e.event_type""".stripMargin)
    }))

  /** PromQL text and window for key `k`: one event type, six hours of one day. */
  private def promql(k: Long): (String, String, String) = {
    val day = f"2024-01-${k / 5 + 1}%02d"
    (s"""sum by (event_type) (sum_over_time(events{event_type="${PromTypes((k % 5).toInt)}"}[1h]))""",
      s"$day 06:00:00", s"$day 12:00:00")
  }

  def open(c: Ctx): Unit = {
    ctx = c
    graph = PropertyGraph.fromTpch(spark, dir)
    kv = graft.Tables.customer(spark, dir).select(
      concat(lit("c:"), col("c_custkey").cast("string")).as("key"),
      lit(null).cast("string").as("field"), col("c_name").as("value"))
    Seq("orders", "lineitem", "customer", "events").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"ref_$t")
    }
  }

  /** Parse the texts of the rounds before the measured window; Gremlin's
    * parse is private, so its texts reach the cache only when they run. */
  override def fillCaches(rng: scala.util.Random): Unit =
    Workload.rounds(rng, HistoryRounds, templates).foreach(t => t.op(t.keys.draw(rng)).parse.foreach(_()))

  /** One operation per template, on uniformly drawn keys, to compile the
    * code paths before timing. */
  def warmup(rng: scala.util.Random): Seq[Op] = templates.map(t => t.op(rng.nextInt(t.space).toLong))

  def ops(rng: scala.util.Random, seconds: Int): Seq[Op] = {
    val rounds = math.max(1, math.round(seconds * RoundsPerSecond).toInt)
    Workload.rounds(rng, rounds, templates).map(t => t.op(t.keys.draw(rng)))
  }

  def expected(ops: Seq[Op]): Map[String, Checksum] =
    templates.flatMap { t =>
      val keys = ops.filter(_.template == t.name).map(_.key)
      ctx.refs.getAll(keys) { missing =>
        val ks = missing.map(_.split('/').last.toLong)
        val got = t.ref(ks)
        ks.map(k => keyOf(t, k) -> got.getOrElse(k, Checksum.Empty)).toMap
      }
    }.toMap
}

object Interactive {
  /** GraphQL schema over the TPC-H property graph. */
  val GraphQLSchema: String =
    """type Query {
      |  customerByKey(key: Int): Customer
      |}
      |type Customer {
      |  key: Int
      |  name: String
      |  orders: [Order] @relationship(type: "placed", direction: OUT)
      |}
      |type Order {
      |  key: Int
      |  name: String
      |}""".stripMargin
}
