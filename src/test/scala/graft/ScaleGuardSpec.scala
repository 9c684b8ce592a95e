package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-guard behavior pinned by unit tests: the co-occurrence pair
  * generator's hot-group width cap (PropertyGraph.coPairs) and the
  * Materialize checkpoint policy. */
class ScaleGuardSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("coPairs: hot group keeps MaxGroupWidth smallest items") {
    val w = graft.graph.PropertyGraph.MaxGroupWidth
    val n = w + 476 // wider than the cap
    val hot = (0 until n).map(i => (1L, i.toLong)).toDF("gid", "item")
    val pairs = graft.graph.PropertyGraph.coPairs(hot)
    val row = pairs.agg(
      count(lit(1)).as("n"), max(col("a")).as("ma"), max(col("b")).as("mb")).collect()(0)
    assert(row.getLong(0) === w.toLong * (w - 1) / 2) // all pairs among the kept w
    assert(row.getLong(1) === w - 2L) // items w.. dropped deterministically
    assert(row.getLong(2) === w - 1L)
  }

  test("coPairs: below the cap, identical to the distinct self-join form") {
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("gid"), col("l_partkey").as("item"))
    val viaSets = graft.graph.PropertyGraph.coPairs(l)
    val d = l.distinct()
    val viaJoin = d.alias("x").join(d.alias("y"),
        col("x.gid") === col("y.gid") && col("x.item") < col("y.item"))
      .select(col("x.item").as("a"), col("y.item").as("b")).distinct()
    assert(viaSets.exceptAll(viaJoin).isEmpty && viaJoin.exceptAll(viaSets).isEmpty)
  }

  /** Runs `body` with a fresh checkpoint dir set, then restores the shared
    * session's local-checkpoint behavior. */
  private def withCheckpointDir(body: String => Unit): Unit = {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try body(dir)
    finally {
      val f = sc.getClass.getDeclaredMethods.find(_.getName == "checkpointDir_$eq")
      f.foreach { m => m.setAccessible(true); m.invoke(sc, None) }
    }
  }

  test("Materialize.once: reliable checkpoint when a checkpoint dir is set") {
    withCheckpointDir { dir =>
      val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
      val pinned = Materialize.once(df)
      assert(pinned.count() === 100L)
      assert(pinned.queryExecution.optimizedPlan.collectLeaves().nonEmpty)
      // reliable checkpoint writes RDD blocks under the configured dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected reliable checkpoint files under the checkpoint dir")
    }
  }

  test("Materialize.once: a lazy pin on the reliable path computes its source once for two readers") {
    withCheckpointDir { _ =>
      val rows = spark.sparkContext.longAccumulator("lazy_pin_source_rows")
      val counted = udf((x: Long) => { rows.add(1); x })
      val pinned = Materialize.once(
        spark.range(0, 50, 1, 2).select(counted(col("id")).as("id")), eager = false)
      assert(pinned.count() === 50L)
      assert(pinned.agg(sum("id")).head().getLong(0) === 1225L)
      assert(rows.value === 50L, "the pinned source was computed more than once")
    }
  }
}
