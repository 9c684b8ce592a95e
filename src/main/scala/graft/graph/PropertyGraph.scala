package graft.graph

import org.apache.spark.graphx.{Edge => GXEdge, Graph => GXGraph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Property-graph over two DataFrames, the Spark-native re-expression of
  * ArcadeDB's vertex/edge model (reference graph/Vertex.java:33,
  * graph/Edge.java:34). Adjacency is NOT a per-vertex linked list
  * (EdgeLinkedList.java:53 — index-free adjacency is a single-node
  * design); it's the `edges` DataFrame, which the query front-ends join
  * on `src`/`dst` like any other relation. Traversals and graph
  * algorithms ([[GraphAlgos]]) collect it to the driver when Spark would
  * broadcast it, and partition it into GraphX edge partitions otherwise.
  *
  * Schema contract: vertices(id: Long, label: String, props...),
  * edges(src: Long, dst: Long, label: String, props...).
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {
  /** BFS traversal with per-depth emission, the TRAVERSE … MAXDEPTH n
    * analog (reference executor/BreadthFirstTraverseStep.java:34; grammar
    * SQLParser.g4:220-229), along the edges labelled `edgeLabel` (any label
    * without one). Returns (id, depth) with depth the first (minimum) reach
    * depth, seeds at 0: [[GraphAlgos.traverse]]'s rounds, on the driver
    * when Spark would broadcast the seeds and edges, else on GraphX. */
  def traverse(seeds: DataFrame, maxDepth: Int, direction: String = "out",
      edgeLabel: Option[String] = None): DataFrame =
    GraphAlgos.traverse(seeds, edgeLabel.fold(edges)(l => edges.filter(col("label") === l)),
      maxDepth, direction)

  /** GraphX view of the graph, for running GraphX's own library
    * algorithms on it (reference graph/olap/GraphAlgorithms.java). graft's
    * own graph algorithms and traversals build their graph in
    * [[GraphAlgos]], over ids alone. The reference builds a columnar CSR
    * snapshot (CSRBuilder.java:59) for this; GraphX's internal edge
    * partitions play that role here. */
  def toGraphX: GXGraph[String, String] = {
    // The inherited scan/shuffle layout is kept: sizing these RDDs from an
    // edge COUNT (localCheckpoint + count, then coalesce to ~n/target
    // partitions) measured strictly WORSE on both GraphX queries at
    // sf0.1 — inherited layout 2.7 s cc / 3.9 s pagerank vs 4.2/4.1 at
    // 100k edges-per-partition (13 parts) and 4.9/7.3 at 1M (2 parts),
    // same session back-to-back. Pregel's per-superstep work here is
    // compute-bound enough that losing cores costs more than the ~30
    // small tasks per superstep save, and the extra materialize+count
    // pass is pure overhead.
    val vs: RDD[(VertexId, String)] =
      vertices.select(col("id"), col("label")).rdd.map(r => (r.getLong(0), r.getString(1)))
    val es: RDD[GXEdge[String]] =
      edges.select(col("src"), col("dst"), col("label")).rdd
        .map(r => GXEdge(r.getLong(0), r.getLong(1), r.getString(2)))
    GXGraph(vs, es)
  }
}

object PropertyGraph {
  /** Vertex-id encoding for the TPC-H-derived demo graph: the natural keys
    * of customer/order/part/supplier live in disjoint id spaces via
    * key * 8 + typeTag — the RID-surrogate policy from SURVEY.md §1.1. */
  val TCust = 0L; val TOrder = 1L; val TPart = 2L; val TSupp = 3L
  def vid(tag: Long, key: Column): Column = (key.cast("long") * 8 + lit(tag))

  /** Demo graph over the test tables:
    * customer -[placed]-> order -[contains]-> part. */
  def fromTpch(spark: SparkSession, dir: String): PropertyGraph = {
    import graft.Tables
    val cust = Tables.customer(spark, dir)
      .select(vid(TCust, col("c_custkey")).as("id"), lit("customer").as("label"),
        col("c_custkey").as("key"), col("c_name").as("name"))
    val ords = Tables.orders(spark, dir)
      .select(vid(TOrder, col("o_orderkey")).as("id"), lit("order").as("label"),
        col("o_orderkey").as("key"), col("o_orderstatus").as("name"))
    val parts = Tables.part(spark, dir)
      .select(vid(TPart, col("p_partkey")).as("id"), lit("part").as("label"),
        col("p_partkey").as("key"), col("p_name").as("name"))
    // edge property `qty`: total quantity for a contains edge (decimal-exact
    // sum, the library-wide parity rule), order total for a placed edge —
    // gives relationship variables something to project (`r.qty`)
    val placed = Tables.orders(spark, dir)
      .select(vid(TCust, col("o_custkey")).as("src"), vid(TOrder, col("o_orderkey")).as("dst"),
        lit("placed").as("label"),
        col("o_totalprice").cast("double").as("qty"))
    val contains = Tables.lineitem(spark, dir)
      .groupBy(vid(TOrder, col("l_orderkey")).as("src"), vid(TPart, col("l_partkey")).as("dst"))
      .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(28, 4)))
        .cast("double").as("qty"))
      .select(col("src"), col("dst"), lit("contains").as("label"), col("qty"))
    PropertyGraph(cust.union(ords).union(parts), placed.union(contains))
  }

  /** Traversal view of [[fromTpch]]: same vertices and connectivity, but
    * `contains` edges skip the per-(order, part) qty aggregation — BFS
    * never reads edge props, and a duplicate edge changes no reach depth,
    * so the groupBy shuffle over the whole lineitem table buys nothing:
    * the traversal's edge partitions are built straight from the scan. */
  def fromTpchTraversal(spark: SparkSession, dir: String): PropertyGraph = {
    import graft.Tables
    val full = fromTpch(spark, dir)
    val placed = Tables.orders(spark, dir)
      .select(vid(TCust, col("o_custkey")).as("src"), vid(TOrder, col("o_orderkey")).as("dst"),
        lit("placed").as("label"))
    val contains = Tables.lineitem(spark, dir)
      .select(vid(TOrder, col("l_orderkey")).as("src"), vid(TPart, col("l_partkey")).as("dst"),
        lit("contains").as("label"))
    PropertyGraph(full.vertices, placed.union(contains))
  }

  /** Undirected co-purchase graph: parts that appear in the same order,
    * canonical orientation a < b (the reference's GAV projection shape,
    * graph/olap/GraphAnalyticalView.java:84). */
  /** @param maxPart both-endpoints bound (`a < maxPart AND b < maxPart`),
    *                 pushed into the lineitem scan — a post-hoc filter on
    *                 the pair stream cannot reach the scan through the
    *                 groupBy+explode shape, so filtered consumers must
    *                 pass the bound here. */
  def coPurchase(spark: SparkSession, dir: String,
      maxPart: Option[Long] = None): DataFrame = {
    val l0 = graft.Tables.lineitem(spark, dir)
    val l = maxPart.fold(l0)(m => l0.filter(col("l_partkey") < m))
    coPairs(l.select(col("l_orderkey").as("gid"), col("l_partkey").as("item")))
  }

  /** Per-group distinct-item width bound for [[coPairs]]: `collect_set`
    * is bounded only by group width, so on a skewed co-occurrence corpus
    * one hot group would build an O(width) array row and an O(width²)
    * pair fan-out — the classic hot-key blowup. Groups wider than this
    * keep their `MaxGroupWidth` smallest items (deterministic), and each
    * such group counts in [[graft.SkewCaps.hits]]. TPC-H
    * orders have ≤ 7 lineitems at every scale factor, so the cap is
    * unreachable on the declared queries (pair set identical,
    * oracle-checked); it exists so the operator has a declared bound
    * instead of an implicit precondition. */
  val MaxGroupWidth = 1024

  /** Co-occurrence pair generator over (gid, item): canonical a < b pairs
    * of items sharing a gid. One shuffle on gid (collect_set dedups items
    * within the group) + a narrow explode² pair generator, instead of the
    * previous distinct + self-join (three exchanges over the pair
    * fan-out). Same (a, b) pair set, 2.4 s vs 3.8 s at sf0.1,
    * and the per-group fan-out never crosses the wire un-deduplicated.
    * The final distinct is still the only pair-sized exchange, as before. */
  private[graft] def coPairs(items: DataFrame): DataFrame = {
    val cut = graft.SkewCaps.counted(items.sparkSession, graft.SkewCaps.GroupWidth) _
    items.groupBy(col("gid"))
      .agg(sort_array(collect_set(col("item"))).as("all"))
      .select(when(cut(size(col("all")) > MaxGroupWidth), slice(col("all"), 1, MaxGroupWidth))
        .otherwise(col("all")).as("parts"))
      .select(explode(col("parts")).as("a"), col("parts"))
      .select(col("a"), explode(col("parts")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }
}
