package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("graftbench-test")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  test("percentile interpolates and counts the samples beyond it") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == Stats.Pct(5.5, 5, 10))
    assert(Stats.percentile(xs, 0.0).value == 1.0)
    assert(Stats.percentile(xs, 1.0) == Stats.Pct(10.0, 0, 10))
    assert(Stats.percentile(Seq(3.0), 0.9) == Stats.Pct(3.0, 0, 1))
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("geometric mean weighs each sample's ratio equally") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 2.0, 1.0)) - 1.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred, 0.9).map(_.beyond).contains(10))
    assert(Stats.tail((1 to 50).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tail(Nil, 0.9).isEmpty)
  }

  test("the same seed gives the same operation sequence, another seed another") {
    for (w <- Seq(new Interactive, new GraphIterative, new ScaleX10)) {
      def keys(seed: Long) = w.ops(new scala.util.Random(seed), 10).map(_.key)
      assert(keys(7) == keys(7), w.getClass.getSimpleName)
      assert(keys(7) != keys(8), w.getClass.getSimpleName)
      assert(keys(7).nonEmpty)
    }
  }

  test("Zipf keys cover the key space once each and favour the head") {
    val z = new Workload.Zipf(145)
    assert((0 until 145).map(z.key).distinct.size == 145)
    val rng = new scala.util.Random(5)
    val ranks = Seq.fill(20000)(z.rank(rng))
    val top = ranks.count(_ == 0)
    assert(top > ranks.count(_ == 1) && ranks.count(_ == 1) > ranks.count(_ == 100))
    assert(ranks.forall(r => r >= 0 && r < 145))
    // P(rank 0) = 1 / H(145, 0.99), about 0.18
    assert(math.abs(top / 20000.0 - 0.18) < 0.02)
  }

  test("every round runs each template once") {
    val ops = new GraphIterative().ops(new scala.util.Random(3), 20)
    val rounds = ops.grouped(GraphIterative.Templates.size).toSeq
    assert(rounds.forall(_.map(_.template).sorted == GraphIterative.Templates.sorted))
  }

  test("checksum ignores column order and row order") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("k", "s", "x")
    assert(Checksum.of(df) == Checksum.of(df.select("x", "k", "s")))
    assert(Checksum.of(df) == Checksum.of(df.orderBy(col("k").desc)))
    assert(Checksum.of(df).count == 2)
    assert(Checksum.of(df) != Checksum.of(df.withColumn("s", lit("c"))))
    assert(Checksum.of(df.limit(0)) == Checksum.Empty)
  }

  test("checksum rounds fractional numbers and widens integers") {
    val s = spark
    import s.implicits._
    val a = Seq((1, 0.1 + 0.2)).toDF("k", "x")
    val b = Seq((1L, 0.3)).toDF("k", "x")
    assert(0.1 + 0.2 != 0.3)
    assert(Checksum.of(a) == Checksum.of(b))
    assert(Checksum.of(b) == Checksum.of(b.withColumn("x", col("x").cast("decimal(20,4)"))))
    assert(Checksum.of(b) != Checksum.of(Seq((1L, 0.3001)).toDF("k", "x")))
  }

  test("byKey gives one checksum per key over the other columns") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("__k", "v")
    val m = Checksum.byKey(df, "__k")
    assert(m(1L) == Checksum.of(Seq("a", "b").toDF("v")))
    assert(m(2L) == Checksum.of(Seq("c").toDF("v")))
    assert(!m.contains(3L))
  }

  test("the x10 replica leaves no duplicate keys") {
    val base = DataGen.base(spark)
    for ((table, keys) <- Seq("customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
        "events" -> Seq("event_id"))) {
      val df = base(table)
      assert(df.agg(max(col(keys.head))).collect()(0).getLong(0) < DataGen.ReplicaOffset, table)
      val rep = DataGen.replicate(table, df, DataGen.Replicas)
      val n = df.count() * DataGen.Replicas
      assert(rep.count() == n, table)
      assert(rep.select(keys.map(col): _*).distinct().count() == n, table)
    }
    // orders stay joinable to their customers inside each replica
    val o = DataGen.replicate("orders", base("orders"), DataGen.Replicas)
    val c = DataGen.replicate("customer", base("customer"), DataGen.Replicas)
    assert(o.join(c, col("o_custkey") === col("c_custkey"), "left_anti").count() == 0)
  }
}
