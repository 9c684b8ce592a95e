package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{GraphAlgos, PropertyGraph}

/** Scans, joins, group-bys, top-k, time windows, triangles and connected
  * components over sf0.1 replicated ten times with key offsets (customers,
  * orders, line items and events; parts and suppliers are shared), so
  * executor work dominates and per-query fixed cost is a small share. The
  * co-purchase graph of the first parts is ten times denser than at sf0.1:
  * the large-graph side of GraphX against graft's DataFrame loop.
  *
  * Warm-up runs the same templates on the sf0.1 data: the same code paths,
  * a tenth of the rows. */
final class ScaleX10 extends Workload {
  val scale = "x10"

  private val RoundsPerSecond = 0.1
  private val RefVersion = 1
  private val TriangleParts = 1000L
  private val CcParts = 3000L
  private val Templates = Seq("sql_groupby", "cypher_join", "sql_topk", "promql_window",
    "triangles", "cc_df", "cc_graphx")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private var ctx: Ctx = _
  private def spark = ctx.spark
  private var x10: DataSet = _
  private var small: DataSet = _

  /** What the templates read from one data set. */
  private final class DataSet(val dir: String) {
    val graph: PropertyGraph = PropertyGraph.fromTpch(spark, dir)
    val co: DataFrame = PropertyGraph.coPurchase(spark, dir, maxPart = Some(CcParts))
  }

  def open(c: Ctx): Unit = {
    ctx = c
    x10 = new DataSet(c.dataDir)
    small = new DataSet(java.nio.file.Paths.get(c.dataDir).resolveSibling("sf0.1").toString)
    Seq("orders", "lineitem", "customer", "events").foreach { t =>
      spark.read.parquet(s"${c.dataDir}/$t.parquet").createOrReplaceTempView(s"ref_$t")
    }
  }

  private def op(t: String, rng: scala.util.Random, d: DataSet): Op = {
    def key(p: Any*) = (t +: p :+ s"r$RefVersion").mkString("/")
    def sql(k: String, text: String) = Op.query(t, k,
      Some(() => graft.StatementCache.cached("sql", text)(graft.sql.Parser.parse(text))))(
      graft.sql.GraftSql.query(spark, d.dir, text))
    t match {
      case "sql_groupby" =>
        val q = 25 + rng.nextInt(25)
        sql(key(q), "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
          s"sum(l_extendedprice) AS revenue FROM lineitem WHERE l_quantity <= $q GROUP BY l_returnflag, l_linestatus")
      case "sql_topk" =>
        val p = Priorities(rng.nextInt(Priorities.size))
        sql(key(p), s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderpriority = '$p' " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")
      case "cypher_join" =>
        val s = Seq("F", "O", "P")(rng.nextInt(3))
        val text = s"MATCH (c:customer)-[p:placed]->(o:order) WHERE o.name = '$s' " +
          "RETURN c.key % 7 AS bucket, count(*) AS n, sum(p.qty) AS total"
        Op.query(t, key(s), Some(() => graft.cypher.Cypher.parse(text)))(graft.cypher.Cypher.query(d.graph, text))
      case "promql_window" =>
        val day = 1 + rng.nextInt(20)
        val text = "sum by (event_type) (sum_over_time(events[6h]))"
        Op.query(t, key(day), Some(() => graft.promql.PromQL.parse(text)))(
          graft.promql.PromQL.rangeQuery(spark, d.dir, text, f"2024-01-$day%02d 00:00:00",
            f"2024-01-${day + 5}%02d 00:00:00", 3 * 3600))
      case "triangles" => Op.fixpoint(t, key())(
        GraphAlgos.clusteringCoefficient(d.co.filter(col("b") < TriangleParts)))
      case "cc_df" => Op.fixpoint(t, key())(GraphAlgos.connectedComponents(
        graft.Tables.part(spark, d.dir).filter(col("p_partkey") < CcParts).select(col("p_partkey").as("id")),
        d.co.select(col("a").as("src"), col("b").as("dst")).union(d.co.select(col("b"), col("a"))),
        GraphIterative.CcMaxRounds))
      case "cc_graphx" => Op.fixpoint(t, key()) {
        val v = graft.Tables.part(spark, d.dir).filter(col("p_partkey") < CcParts)
          .select(col("p_partkey").as("id"), lit("part").as("label"))
        val e = d.co.select(col("a").as("src"), col("b").as("dst"), lit("co").as("label"))
        val cc = PropertyGraph(v, e).toGraphX.connectedComponents().vertices
        spark.createDataFrame(cc.map { case (id, comp) => (id, comp) }).toDF("id", "comp")
      }
    }
  }

  def warmup(rng: scala.util.Random): Seq[Op] = Templates.map(op(_, rng, small))

  def ops(rng: scala.util.Random, seconds: Int): Seq[Op] =
    Workload.rounds(rng, math.max(1, math.round(seconds * RoundsPerSecond).toInt), Templates)
      .map(op(_, rng, x10))

  def expected(ops: Seq[Op]): Map[String, Checksum] =
    ctx.refs.getAll(ops.map(_.key)) { missing =>
      lazy val co = spark.sql(
        s"""SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           |FROM ref_lineitem l1 JOIN ref_lineitem l2
           |  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
           |WHERE l1.l_partkey < $CcParts AND l2.l_partkey < $CcParts""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val session = spark; import session.implicits._
      missing.map { k =>
        val p = k.split('/')
        val df: DataFrame = p(0) match {
          case "sql_groupby" => spark.sql(
            s"""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
               |  sum(l_extendedprice) AS revenue
               |FROM ref_lineitem WHERE l_quantity <= ${p(1)} GROUP BY l_returnflag, l_linestatus""".stripMargin)
          case "sql_topk" => spark.sql(
            s"""SELECT o_orderkey, o_custkey, o_totalprice FROM ref_orders WHERE o_orderpriority = '${p(1)}'
               |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
          case "cypher_join" => spark.sql(
            s"""SELECT c_custkey % 7 AS bucket, count(*) AS n, sum(o_totalprice) AS total
               |FROM ref_orders JOIN ref_customer ON o_custkey = c_custkey
               |WHERE o_orderstatus = '${p(1)}' GROUP BY c_custkey % 7""".stripMargin)
          case "promql_window" =>
            val day = p(1).toInt
            spark.sql(
              f"""SELECT s.t, e.event_type, sum(e.value) AS value
                 |FROM (SELECT explode(sequence(TIMESTAMP '2024-01-$day%02d 00:00:00',
                 |        TIMESTAMP '2024-01-${day + 5}%02d 00:00:00', INTERVAL 3 HOURS)) AS t) s
                 |JOIN ref_events e ON e.ts > s.t - INTERVAL 6 HOURS AND e.ts <= s.t
                 |GROUP BY s.t, e.event_type""".stripMargin)
          case "triangles" => triangles(co.filter(_._2 < TriangleParts)).toDF("id", "deg", "tri", "cc")
          case "cc_df" | "cc_graphx" =>
            val g = new GraphIterative.RefGraph(co, CcParts.toInt)
            g.components().filter(_._1 < CcParts).toSeq.toDF("id", "comp")
        }
        k -> Checksum.of(df)
      }.toMap
    }

  /** Per vertex with an edge: degree, triangles through it, and the local
    * clustering coefficient rounded to 6 decimals. */
  private def triangles(canon: Seq[(Long, Long)]): Seq[(Long, Long, Long, Double)] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    canon.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    adj.toSeq.map { case (v, ns) =>
      val tri = ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }.toLong
      val deg = ns.size.toLong
      val cc = if (deg > 1) BigDecimal(2.0 * tri / (deg * (deg - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      (v, deg, tri, cc)
    }
  }
}
