package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped tables at scale factor 0.1, plus a ×10
  * replica with key offsets.
  *
  * Every value is a hash of (table, column, row key), so the data does not
  * depend on partitioning or on the run's seed: runs with different seeds
  * share one data set and differ only in the operations they send. Every
  * double is a multiple of a power of two, so sums of them are exact in
  * any order and graft's results can be compared with a reference by hash.
  */
object DataGen {
  val Customers = 15000L
  val Suppliers = 1000L
  val Parts = 20000L
  val Orders = 150000L
  val Events = 100000L
  val Users = 1500L

  /** Key offset between the ×10 replicas: larger than any key at sf0.1. */
  val ReplicaOffset = 10000000L
  val Replicas = 10

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  private def h(salt: String, key: Column): Column = pmod(xxhash64(lit(salt), key), lit(Long.MaxValue))
  private def pick(salt: String, key: Column, n: Long): Column = pmod(h(salt, key), lit(n))
  private def oneOf(salt: String, key: Column, values: Seq[String]): Column =
    element_at(typedlit(values), (pick(salt, key, values.size.toLong) + 1).cast("int"))

  def base(spark: SparkSession): Map[String, DataFrame] = {
    val id = col("id")
    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedlit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        id.cast("int") + 1).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(Customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nation", id, 25).cast("int").as("c_nationkey"),
      ((pick("c_acctbal", id, 44000) - 4000) / 4.0).as("c_acctbal"),
      oneOf("c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = spark.range(Suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nation", id, 25).cast("int").as("s_nationkey"),
      ((pick("s_acctbal", id, 44000) - 4000) / 4.0).as("s_acctbal"))
    val part = spark.range(Parts).select(id.as("p_partkey"),
      concat_ws(" ", oneOf("p_n1", id, Seq("blue", "hot", "large", "small", "green", "red")),
        oneOf("p_n2", id, Seq("ring", "bolt", "gear", "plate", "nut"))).as("p_name"),
      concat(lit("Brand#"), (pick("p_brand", id, 25) + 1).cast("string")).as("p_brand"),
      oneOf("p_type", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pick("p_size", id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 2000) / 4.0).as("p_retailprice"))
    val orders = spark.range(Orders).select(id.as("o_orderkey"),
      pick("o_cust", id, Customers).as("o_custkey"),
      oneOf("o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      (pick("o_price", id, 2000000) / 4.0).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + pick("o_date", id, 2404) * 86400).as("o_orderdate"),
      oneOf("o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lines = spark.range(Orders)
      .select(id.as("l_orderkey"), explode(sequence(lit(1), (pick("l_n", id, 7) + 1).cast("int"))).as("l_linenumber"))
    val lk = col("l_orderkey") * 8 + col("l_linenumber")
    val lineitem = lines.select(col("l_orderkey"),
      pick("l_part", lk, Parts).as("l_partkey"),
      pick("l_supp", lk, Suppliers).as("l_suppkey"),
      col("l_linenumber"),
      (pick("l_qty", lk, 50) + 1).cast("double").as("l_quantity"),
      ((pick("l_qty", lk, 50) + 1) * (pick("l_price", lk, 4000) / 4.0)).as("l_extendedprice"),
      (pick("l_disc", lk, 8) / 64.0).as("l_discount"),
      (pick("l_tax", lk, 4) / 32.0).as("l_tax"),
      oneOf("l_rf", lk, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf("l_ls", lk, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + pick("l_ship", lk, 2500) * 86400).as("l_shipdate"))
    val events = spark.range(Events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pick("e_ts", id, 30L * 86400 * 1000000)).as("ts"),
      pick("e_user", id, Users).as("user_id"),
      oneOf("e_type", id, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      (pick("e_val", id, 20000) / 8.0).as("value"),
      format_string("{\"k\": %d}", pick("e_k", id, 100)).as("props"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events)
  }

  /** Key columns shifted by `i * ReplicaOffset` in replica `i`. */
  val KeyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"), "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"))

  /** `df` replicated `n` times; replica `i` adds `i * ReplicaOffset` to the
    * table's key columns, so keys stay unique and joins stay inside a replica. */
  def replicate(table: String, df: DataFrame, n: Int): DataFrame = {
    val keys = KeyCols.getOrElse(table, Nil)
    if (keys.isEmpty) df
    else {
      val rep = df.crossJoin(df.sparkSession.range(n).select(col("id").as("__replica")))
      rep.select(df.columns.toIndexedSeq.map(c =>
        if (keys.contains(c)) (col(c) + col("__replica") * ReplicaOffset).as(c) else col(c)): _*)
    }
  }

  /** The manifest of a complete data set. `version` names the generator's
    * source (run.py passes a hash of this file), so any edit to the
    * generator rebuilds the data. */
  def manifest(scale: String, version: String): String = s"graftbench-data $version scale=$scale\n"

  /** True when `dir` holds a complete data set of this scale and version. */
  def ready(dir: Path, scale: String, version: String): Boolean = {
    val m = dir.resolve("_MANIFEST")
    Files.exists(m) && new String(Files.readAllBytes(m), UTF_8) == manifest(scale, version)
  }

  /** Write the data set for `scale` ("sf0.1" or "x10") into `dir`, unless a
    * matching one is there already. The manifest is written last, so an
    * interrupted generation is redone. */
  def ensure(spark: SparkSession, dir: Path, scale: String, version: String): Unit =
    if (!ready(dir, scale, version)) {
      Files.deleteIfExists(dir.resolve("_MANIFEST"))
      val tables = base(spark)
      val n = scale match {
        case "sf0.1" => 1
        case "x10" => Replicas
        case other => throw new IllegalArgumentException(s"unknown scale $other")
      }
      Tables.foreach { t =>
        val df = if (n == 1) tables(t) else replicate(t, tables(t), n)
        val files = if (n == 1) 2 else 8
        df.repartition(files).sortWithinPartitions(df.columns.head)
          .write.mode("overwrite").parquet(dir.resolve(s"$t.parquet").toString)
      }
      Files.write(dir.resolve("_MANIFEST"), manifest(scale, version).getBytes(UTF_8))
    }
}
