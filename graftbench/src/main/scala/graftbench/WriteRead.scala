package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.{MutableGraph, PropertyGraph}
import graft.sources.{MutableTable, StatsStore}

/** Writes interleaved with reads on working copies of sf0.1 `orders`.
  *
  * Table `a` carries a StatsStore manifest on o_orderkey, so its small
  * UPDATEs and DELETEs take the pruned path that rewrites only the files
  * holding the touched keys. Table `b` has none, so every write rewrites it
  * whole; it also takes the UPSERT and the MERGE. A MutableGraph of the
  * first customers takes Cypher CREATE, SET, MERGE and DETACH DELETE.
  *
  * No write touches more keys than MutableTable's pruned-path limit: on the
  * manifest table such a write leaves the manifest listing files it
  * replaced, and the next pruned read or write fails (a graft defect).
  *
  * One operation is one write (or one Cypher batch) followed by a point read
  * and a scan of what it wrote; the reads are checked against plain Spark
  * reads of the same files, the row count a write reports (MERGE reports
  * none) against a model of the table, and at the end every acknowledged
  * write is read back through a fresh session. */
final class WriteRead extends Workload {
  val scale = "sf0.1"

  private val RoundsPerSecond = 0.2
  private val Kinds = Seq("update_pruned", "delete_pruned", "update_full", "upsert_full",
    "merge_full", "cypher_write")
  private val ManifestFiles = 16
  /** Keys per small write, and the key window they are drawn from: one or
    * two of the manifest's files. */
  private val WriteKeys = 20
  private val KeyWindow = 2000
  private val GraphCustomers = 200L

  private var ctx: Ctx = _
  private def spark = ctx.spark
  private var a: Table = _
  private var b: Table = _
  private var mg: MutableGraph = _
  private val names = mutable.Map[Long, Option[String]]()
  private var nextKey = 0L
  private var bytesWritten = 0L
  private var rowsChanged = 0L

  /** A changed cell of a base row, or a whole inserted row. */
  private sealed trait Mod
  private final case class AddPrice(d: Double) extends Mod
  private final case class SetPrice(p: Double) extends Mod
  private final case class SetStatus(s: String) extends Mod
  private case object Deleted extends Mod
  private final case class Inserted(row: Row) extends Mod

  /** A working copy of orders with the model of what it should hold;
    * created from the data set unless `parent` holds one already. */
  private final class Table(val name: String, val parent: Path, val pruned: Boolean) {
    val dir: String = parent.resolve("orders.parquet").toString
    val mods = mutable.Map[Long, List[Mod]]().withDefaultValue(Nil)
    var live: Long = DataGen.Orders
    val t: MutableTable = {
      lazy val base = graft.Tables.orders(spark, ctx.dataDir)
      if (Files.exists(parent)) new MutableTable(spark, dir, Some("o_orderkey"))
      else if (pruned) {
        StatsStore.write(base, dir, "o_orderkey", ManifestFiles)
        new MutableTable(spark, dir, Some("o_orderkey"))
      } else MutableTable.copyOf(spark, base, dir, Some("o_orderkey"))
    }
    def alive(k: Long): Boolean = mods(k) match {
      case Deleted :: _ => false
      case Inserted(_) :: _ => true
      case _ => k >= 0 && k < DataGen.Orders
    }
    def mod(k: Long, m: Mod): Unit = mods(k) = m :: mods(k)
    def df: DataFrame = spark.read.parquet(dir)
  }

  def open(c: Ctx): Unit = {
    ctx = c
    names.clear(); bytesWritten = 0L; rowsChanged = 0L
    nextKey = DataGen.Orders + 1000000L
    a = new Table("a", c.workDir.resolve("a"), pruned = true)
    b = new Table("b", c.workDir.resolve("b"), pruned = false)
    val gDir = c.workDir.resolve("g")
    mg = if (Files.exists(gDir)) new MutableGraph(spark, s"$gDir/vertices", s"$gDir/edges") else {
      val g = PropertyGraph.fromTpch(spark, c.dataDir)
      val cust = g.vertices.filter(col("label") === "customer" && col("key") < GraphCustomers)
      val placed = g.edges.filter(col("label") === "placed" && col("src") < GraphCustomers * 8)
      val orders = g.vertices.join(placed.select(col("dst").as("id")), "id")
      MutableGraph.copyOf(spark, PropertyGraph(cust.unionByName(orders), placed.select("src", "dst", "label")),
        gDir.toString)
    }
  }

  /** Files under `p` with their sizes. */
  private def files(p: Path): Map[String, Long] = if (!Files.exists(p)) Map.empty else {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f.toString -> Files.size(f)).toMap
    } finally s.close()
  }

  /** Run `write` (timed as a write), adding the bytes of new files under
    * `p` to the bytes written. */
  private def written[T](p: Path)(write: => T): T = {
    val before = files(p)
    val r = Clock.write(write)
    bytesWritten += files(p).collect { case (f, n) if !before.get(f).contains(n) => n }.sum
    r
  }

  /** `n` live keys drawn from one window of [[KeyWindow]] consecutive keys:
    * writes touch few rows, clustered as keys of recent orders are. */
  private def liveKeys(t: Table, rng: scala.util.Random, n: Int): Seq[Long] = {
    val lo = rng.nextInt(DataGen.Orders.toInt - KeyWindow)
    Iterator.continually(lo + rng.nextInt(KeyWindow).toLong).filter(t.alive).take(n).toSeq.distinct
  }

  private def ordersRow(k: Long, cust: Long, status: String, price: Double): Row =
    Row(k, cust, status, price, new java.sql.Timestamp(788918400000L), "3-MEDIUM")

  /** The reads after a write on `t`: a point read of `k` through graft's SQL
    * front-end, and a scan of [lo, lo + 5000) — through the manifest's
    * pruned range scan on the table that has one. */
  private def reads(t: Table, k: Long, lo: Long): (Checksum, Checksum) = {
    val point = Clock.read(Checksum.of(Trace.span("frontend.build")(graft.sql.GraftSql.query(spark,
      t.parent.toString, s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey = $k"))))
    val scan = Clock.read {
      if (t.pruned) {
        val (df, read, total) = StatsStore.rangeScan(spark, t.dir, "o_orderkey", lo, lo + 4999)
        Trace.count("sources.files_considered", total)
        Trace.count("sources.files_scanned", read)
        Checksum.of(df.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total")))
      } else Checksum.of(Trace.span("frontend.build")(graft.sql.GraftSql.query(spark, t.parent.toString,
        s"SELECT count(*) AS n, sum(o_totalprice) AS total FROM orders WHERE o_orderkey BETWEEN $lo AND ${lo + 4999}")))
    }
    (point, scan)
  }

  /** The same reads through plain Spark over the table's files. */
  private def refReads(t: Table, k: Long, lo: Long): (Checksum, Checksum) =
    (Checksum.of(t.df.filter(col("o_orderkey") === k).select("o_orderkey", "o_totalprice", "o_orderstatus")),
      Checksum.of(t.df.filter(col("o_orderkey").between(lo, lo + 4999))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))))

  /** A write on `t`, planned when it runs from the table state the earlier
    * operations left, followed by the reads. `plan` returns the key to read
    * back, the rows the write changes, and the write, which returns the row
    * count graft reports for it, if any. Running the operation again plans a
    * new write. */
  private def tableOp(kind: String, t: Table, rng: scala.util.Random)(
      plan: scala.util.Random => (Long, Long, () => Option[Long])): Op = {
    val seed = rng.nextLong()
    var k, expect = 0L
    var got: Option[Long] = None
    var seen: (Checksum, Checksum) = null
    Op(kind, s"$kind/${t.name}", () => {
      val (key, exp, write) = plan(new scala.util.Random(seed))
      k = key; expect = exp
      got = written(t.parent)(write())
      rowsChanged += exp
      seen = reads(t, k, k - 2500)
      Checksum(got.getOrElse(0L), 0L)
    }, check = Some(_ => {
      val want = refReads(t, k, k - 2500)
      if (got.exists(_ != expect)) Some(s"$kind affected ${got.get} rows, expected $expect")
      else if (seen != want) Some(s"$kind reads $seen, plain Spark reads $want")
      else None
    }))
  }

  private val inc: Seq[(String, Column)] = Seq("o_totalprice" -> (col("o_totalprice") + 1.0))

  private def fresh(): Long = { nextKey += 1; nextKey }

  private def op(kind: String, rng: scala.util.Random): Op = kind match {
    case "update_pruned" | "update_full" =>
      val t = if (kind == "update_pruned") a else b
      tableOp(kind, t, rng) { r =>
        val ks = liveKeys(t, r, WriteKeys)
        (ks.head, ks.size.toLong, () => {
          ks.foreach(t.mod(_, AddPrice(1.0)))
          Some(t.t.update(col("o_orderkey").isin(ks: _*), inc)._1)
        })
      }
    case "delete_pruned" =>
      tableOp(kind, a, rng) { r =>
        val ks = liveKeys(a, r, WriteKeys)
        (ks.head, ks.size.toLong, () => {
          ks.foreach(a.mod(_, Deleted)); a.live -= ks.size
          Some(a.t.delete(col("o_orderkey").isin(ks: _*)))
        })
      }
    case "upsert_full" =>
      tableOp(kind, b, rng) { r =>
        val k = fresh()
        val price = r.nextInt(400000) / 4.0
        (k, 1L, () => {
          b.mod(k, Inserted(Row(k, null, "U", price, null, null))); b.live += 1
          Some(b.t.upsert(Map("o_orderkey" -> lit(k)), Seq("o_orderstatus" -> lit("U"), "o_totalprice" -> lit(price))))
        })
      }
    case "merge_full" =>
      tableOp(kind, b, rng) { r =>
        val old = liveKeys(b, r, 10)
        val added = Seq.fill(10)(fresh())
        val price = r.nextInt(400000) / 4.0
        val rows = added.map(ordersRow(_, 1L, "M", price))
        (old.head, (old.size + added.size).toLong, () => {
          old.foreach(b.mod(_, SetPrice(price))); rows.foreach(row => b.mod(row.getLong(0), Inserted(row)))
          b.live += added.size
          val src = spark.createDataFrame(spark.sparkContext.parallelize(
            old.map(ordersRow(_, 0L, "M", price)) ++ rows), b.df.schema)
          b.t.merge(src, Seq("o_orderkey"), Seq("o_totalprice" -> col("src_o_totalprice")))
          None
        })
      }
    case "cypher_write" => cypherOp(rng)
  }

  /** CREATE a customer vertex, SET the name of another, MERGE it (a no-op)
    * and DETACH DELETE a third, then read all three back. */
  private def cypherOp(rng: scala.util.Random): Op = {
    val seed = rng.nextLong()
    var seen: Checksum = null
    var want: Seq[(Long, String)] = Nil
    Op("cypher_write", "cypher_write", () => {
      val rng = new scala.util.Random(seed)
      val existing = (0L until GraphCustomers).filter(k => names.getOrElse(k, Some("")).isDefined)
      val fresh = this.fresh()
      val upd = existing(rng.nextInt(existing.size))
      val del = existing.filter(_ != upd)(rng.nextInt(existing.size - 1))
      val p = ctx.workDir.resolve("g")
      written(p)(graft.cypher.Cypher.execute(mg, s"CREATE (n:customer {key: $fresh, name: 'new-$fresh'})"))
      written(p)(graft.cypher.Cypher.execute(mg, s"MATCH (n:customer {key: $upd}) SET n.name = 'set-$upd'"))
      written(p)(graft.cypher.Cypher.execute(mg, s"MERGE (n:customer {key: $upd})"))
      written(p)(graft.cypher.Cypher.execute(mg, s"MATCH (n:customer {key: $del}) DETACH DELETE n"))
      names(fresh) = Some(s"new-$fresh"); names(upd) = Some(s"set-$upd"); names(del) = None
      rowsChanged += 3
      want = Seq(fresh -> s"new-$fresh", upd -> s"set-$upd")
      seen = Clock.read(Checksum.of(Trace.span("frontend.build")(graft.cypher.Cypher.query(mg.graph,
        s"MATCH (n:customer) WHERE n.key IN [$fresh, $upd, $del] RETURN n.key AS key, n.name AS name"))))
      seen
    }, check = Some(_ => {
      val session = spark; import session.implicits._
      val expect = Checksum.of(want.toDF("key", "name"))
      if (seen != expect) Some(s"cypher_write read $seen, expected $expect") else None
    }))
  }

  /** One write through each distinct write path (StatsStore's pruned
    * rewrite, Publish's full rewrite, MutableGraph), on the same tables; the
    * model carries the writes forward. */
  def warmup(rng: scala.util.Random): Seq[Op] =
    Seq("update_pruned", "update_full", "cypher_write").map(op(_, rng))

  def ops(rng: scala.util.Random, seconds: Int): Seq[Op] =
    Workload.rounds(rng, math.max(1, math.round(seconds * RoundsPerSecond).toInt), Kinds).map(op(_, rng))

  def expected(ops: Seq[Op]): Map[String, Checksum] = Map.empty

  /** Reopen both tables in a fresh session: every touched key must read as
    * the model says, and the row counts must match. */
  override def finish(): Seq[String] = {
    val conf = (ctx.cores, ctx.workDir.getParent.getParent)
    spark.stop()
    val fresh = Env.session(conf._1, conf._2)
    ctx = new Ctx(fresh, ctx.dataDir, ctx.workDir, ctx.cores, ctx.refs)
    val base = fresh.read.parquet(s"${ctx.dataDir}/orders.parquet")
    Seq(a, b).flatMap { t =>
      val touched = t.mods.keys.toSeq
      val baseRows = base.filter(col("o_orderkey").isin(touched: _*)).collect()
        .map(r => r.getLong(0) -> r).toMap
      val expect = touched.flatMap { k =>
        t.mods(k).reverse.foldLeft(baseRows.get(k)) {
          case (_, Deleted) => None
          case (_, Inserted(r)) => Some(r)
          case (r, AddPrice(d)) => r.map(x => Row.fromSeq(x.toSeq.updated(3, x.getDouble(3) + d)))
          case (r, SetPrice(p)) => r.map(x => Row.fromSeq(x.toSeq.updated(3, p)))
          case (r, SetStatus(s)) => r.map(x => Row.fromSeq(x.toSeq.updated(2, s)))
        }
      }
      val stored = fresh.read.parquet(t.dir)
      val want = Checksum.of(fresh.createDataFrame(fresh.sparkContext.parallelize(expect), stored.schema))
      val got = Checksum.of(stored.filter(col("o_orderkey").isin(touched: _*)))
      val n = stored.count()
      (if (got != want) Seq(s"table ${t.name}: touched rows read back as $got, model says $want") else Nil) ++
        (if (n != t.live) Seq(s"table ${t.name}: $n rows, model says ${t.live}") else Nil)
    }
  }

  override def storage(): Option[(Long, Long, Long, Long)] =
    Some((bytesWritten, rowsChanged, Env.treeBytes(java.nio.file.Paths.get(a.dir)) +
      Env.treeBytes(java.nio.file.Paths.get(b.dir)), a.live + b.live))
}
