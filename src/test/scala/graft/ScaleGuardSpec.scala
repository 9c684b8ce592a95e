package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-guard behavior pinned by unit tests: the co-occurrence pair
  * generator's hot-group width cap (PropertyGraph.coPairs), the MinHash
  * band-bucket cap and their cut counts, and the Materialize checkpoint
  * policy. */
class ScaleGuardSpec extends AnyFunSuite with GraphPaths {
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

  /** How many cuts of `cap` running `body` counted. */
  private def cuts(cap: String)(body: => Unit): Long = {
    val before = SkewCaps.hits(spark)(cap)
    body
    SkewCaps.hits(spark)(cap) - before
  }

  test("coPairs: a hot group's cut is counted, and its pairs are those of the kept items") {
    val w = graft.graph.PropertyGraph.MaxGroupWidth
    val items = (0 until 1100).map(i => (1L, i.toLong)) ++ Seq((2L, 5L), (2L, 2000L))
    var pairs = Set.empty[(Long, Long)]
    val n = cuts(SkewCaps.GroupWidth) {
      pairs = graft.graph.PropertyGraph.coPairs(items.toDF("gid", "item"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(n === 1L) // group 1 only
    val kept = (0 until w).map(_.toLong)
    assert(pairs === (for (a <- kept; b <- kept if a < b) yield (a, b)).toSet + ((5L, 2000L)))
  }

  test("minhashDupPairs: a band bucket over the cap is counted and dropped") {
    val cap = graft.operators.TextPipeline.BandBucketCap
    // cap + 1 identical documents fill one bucket in every band; the two
    // others share a bucket with nothing else
    val docs = ((0 to cap).map(i => (i.toLong, "the same boilerplate text in every document")) ++
      Seq((5000L, "a rare pair of documents with one text"), (5001L, "a rare pair of documents with one text")))
      .toDF("doc_id", "text")
    var pairs = Seq.empty[(Long, Long, Double)]
    val n = cuts(SkewCaps.BandBucket) {
      pairs = graft.operators.TextPipeline.minhashDupPairs(docs, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    assert(n === 64L) // one bucket per band
    assert(pairs === Seq((5000L, 5001L, 1.0)))
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

  test("Materialize.once: loop rounds do not fill the checkpoint dir") {
    withCheckpointDir { dir =>
      // a 6-pass repeat().until() is an Until loop that pins every pass
      val chain = graft.graph.PropertyGraph(
        (0L to 8L).map(i => (i, "n", i)).toDF("id", "label", "key"),
        (0L until 8L).map(i => (i, i + 1, "next")).toDF("src", "dst", "label"))
      val keys = graft.gremlin.Gremlin.query(chain,
        "g.V().has('key', eq(0)).repeat(out()).until(has('key', eq(6))).values('key')")
        .collect().map(_.getLong(0))
      assert(keys.toSeq === Seq(6L))
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .toSeq
      // the one eager pin, of the loop-invariant edges; none per pass
      assert(rddDirs.size <= 1, s"checkpointed RDDs: ${rddDirs.mkString(", ")}")
    }
  }

  test("Materialize.local: a GraphX traversal leaves no checkpoint behind") {
    withCheckpointDir { dir =>
      val depths = withThreshold("-1") {
        graft.graph.GraphAlgos.traverse(Seq(0L).toDF("id"), Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"), 5, "out")
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      }
      assert(depths === Map(0L -> 0, 1L -> 1, 2L -> 2))
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .toSeq
      assert(rddDirs.isEmpty, s"checkpointed RDDs: ${rddDirs.mkString(", ")}")
    }
  }
}
