package graft

import graft.sources.TimeSeriesStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the scale properties the operators claim
  * (partition pruning, filter pushdown, tier routing) must be visible in
  * the optimized physical plan, not just produce correct rows.
  */
class PhysicalPlanSpec extends AnyFunSuite {
  import TestSession._

  test("day-partitioned TS scan prunes partitions for a date-range filter") {
    val dir = "/tmp/graft_state/plan_tspart_test"
    TimeSeriesStore.writePartitioned(Tables.events(spark, sfDir), dir)
    val q = TimeSeriesStore.readPartitioned(spark, dir)
      .filter(col("bucket_date").between("2024-01-10", "2024-01-12"))
      .groupBy("event_type").count()
    val plan = Explain.explain(q, "formatted")
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("bucket_date"), plan)
    // the range must actually reach the partition filter list
    assert(plan.contains("2024-01-10") || plan.contains("19732"), plan)
  }

  test("lineitem scan pushes filters and prunes columns") {
    val q = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 100)
      .select("l_orderkey", "l_quantity")
    val plan = Explain.explain(q, "formatted")
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("LessThan(l_orderkey,100)"), plan)
    // ReadSchema carries only the two projected columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("tier-answered daily aggregate never touches the raw events table") {
    val tier = "/tmp/graft_state/plan_tstier_test"
    TimeSeriesStore.buildHourlyTier(Tables.events(spark, sfDir), tier)
    val q = TimeSeriesStore.dailyFromHourlyTier(spark, tier)
    val plan = Explain.explain(q, "formatted")
    assert(plan.contains("plan_tstier_test"), plan)
    assert(!plan.contains("events.parquet"), plan)
  }

  test("bucketed co-located join plans with no exchange") {
    import graft.sources.BucketedStore
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    BucketedStore.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "b_orders", buckets = 4, key = "o_orderkey")
    BucketedStore.writeBucketed(
      lineitem.select(org.apache.spark.sql.functions.col("l_orderkey").as("o_orderkey"),
        org.apache.spark.sql.functions.col("l_quantity")),
      "b_lineitem", buckets = 4, key = "o_orderkey")
    val joined = BucketedStore.read(spark, "b_orders")
      .hint("merge") // force SMJ so a broadcast can't hide the shuffle question
      .join(BucketedStore.read(spark, "b_lineitem"), "o_orderkey")
    val plan = Explain.explain(joined, "formatted")
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("file-stats manifest skips files under a selective range predicate") {
    import graft.sources.StatsStore
    val dir = "/tmp/graft_state/plan_statsstore_test"
    StatsStore.write(
      Tables.events(spark, sfDir).select("event_id", "ts", "user_id", "event_type", "value"),
      dir, "user_id", numFiles = 16)
    val (pruned, filesRead, filesTotal) = StatsStore.rangeScan(spark, dir, "user_id", 5, 6)
    // the range sampler may merge near-empty ranges — just require a
    // many-file layout and strong skipping on the ~13%-selective range
    assert(filesTotal >= 8, s"expected a multi-file layout, got $filesTotal")
    assert(filesRead <= filesTotal / 3, s"read $filesRead of $filesTotal — no skipping")
    // the pruned scan loses no rows vs the full-scan filter
    val full = spark.read.parquet(dir).filter(col("user_id").between(5, 6)).count()
    assert(pruned.count() == full && full > 0)
  }

  test("keyed MERGE rewrites only the manifest-hit files, result unchanged") {
    import graft.sources.StatsStore
    val dir = s"/tmp/graft_state/plan_mergeset_test_${System.nanoTime()}"
    val src = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    StatsStore.write(src, dir, "user_id", numFiles = 16)
    val expected = spark.read.parquet(dir)
      .withColumn("event_type",
        when(col("user_id").isin(5L, 6L), lit("MERGED")).otherwise(col("event_type")))
      .groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val (rewritten, total) = StatsStore.mergeSet(spark, dir, "user_id",
      ids = Seq(5L, 6L), sets = Seq("event_type" -> lit("MERGED")))
    assert(total >= 8, s"expected a multi-file layout, got $total")
    assert(rewritten > 0 && rewritten <= total / 3,
      s"rewrote $rewritten of $total files — pruning not effective")
    // result unchanged vs the declarative update
    val after = spark.read.parquet(dir).groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after == expected, s"state diverged: $after vs $expected")
    // the patched manifest still serves pruned scans correctly
    val (pruned, fr, ft) = StatsStore.rangeScan(spark, dir, "user_id", 5, 6)
    assert(ft == total, s"manifest row count drifted: $ft vs $total")
    assert(pruned.filter(col("event_type") =!= "MERGED").count() == 0)
    assert(fr <= ft / 3, s"post-merge scan read $fr of $ft")
    // a second merge on an untouched range still prunes (manifest is fresh)
    val (r2, t2) = StatsStore.mergeSet(spark, dir, "user_id",
      ids = Seq(90L), sets = Seq("event_type" -> lit("M2")))
    assert(t2 == total && r2 <= total / 3, s"second merge rewrote $r2 of $t2")
  }

  test("mergeDelete/mergeUpsert prune; MutableTable auto-routes onto the pruned path") {
    import graft.sources.{MutableTable, StatsStore}
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = s"/tmp/graft_state/plan_mergedel_test_${System.nanoTime()}"
    val src = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    StatsStore.write(src, dir, "user_id", numFiles = 16)
    def mtimes(): Map[String, Long] =
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val rowsBefore = spark.read.parquet(dir).count()
    val del = spark.read.parquet(dir).filter(col("user_id").isin(3L, 4L)).count()
    // mergeDelete drops only the affected rows, rewriting few files
    val (rw, total) = StatsStore.mergeDelete(spark, dir, "user_id", Seq(3L, 4L))
    assert(rw > 0 && rw <= total / 3, s"mergeDelete rewrote $rw of $total")
    assert(spark.read.parquet(dir).count() == rowsBefore - del)
    assert(spark.read.parquet(dir).filter(col("user_id").isin(3L, 4L)).count() == 0)
    // MutableTable auto-routes UPDATE/DELETE through the pruned path when
    // a manifest exists: untouched part files keep their mtimes
    val t = new MutableTable(spark, dir, keyCol = Some("user_id"))
    val m0 = mtimes()
    val n = t.delete(col("user_id") === 7L)
    assert(n > 0)
    val m1 = mtimes()
    val survivors = m0.keySet intersect m1.keySet
    assert(survivors.nonEmpty && survivors.forall(f => m0(f) == m1(f)),
      "untouched files were rewritten — auto-routing missed the pruned path")
    assert(survivors.size >= m0.size - m0.size / 3, s"too few survivors: ${survivors.size}/${m0.size}")
    val m2pre = mtimes()
    t.update(col("user_id") === 9L, Seq("event_type" -> lit("ROUTED")))
    val m2 = mtimes()
    val surv2 = m2pre.keySet intersect m2.keySet
    assert(surv2.nonEmpty && surv2.forall(f => m2pre(f) == m2(f)))
    val upd = spark.read.parquet(dir).filter(col("user_id") === 9L)
    assert(upd.count() > 0 && upd.filter(col("event_type") =!= "ROUTED").count() == 0)
  }

  test("covering-cell dwithin prunes cell partitions") {
    import graft.functions.GeoFunctions
    val dir = "/tmp/graft_state/plan_geocells_test"
    val pts = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("id"),
      ((col("c_custkey") * 104729 % 34000) / 100.0 - 170.0).as("lon"),
      ((col("c_custkey") * 7919 % 12000) / 100.0 - 60.0).as("lat"))
    pts.withColumn("cell", GeoFunctions.cellOf(col("lon"), col("lat")))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val cells = GeoFunctions.coveringCells(0.0, 0.0, 1500.0)
    // a 1500 km radius covers a small fraction of the 34x12-cell world
    assert(cells.length <= 16, s"walk returned ${cells.length} cells")
    val q = spark.read.parquet(dir).filter(col("cell").isin(cells: _*))
    val plan = Explain.explain(q, "formatted")
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    // pruned scan + residual ≡ full-scan exact filter
    val exact = pts.filter(
      GeoFunctions.geoDistanceKm(col("lon"), col("lat"), lit(0.0), lit(0.0)) <= 1500.0).count()
    val viaCells = q.filter(
      GeoFunctions.geoDistanceKm(col("lon"), col("lat"), lit(0.0), lit(0.0)) <= 1500.0).count()
    assert(viaCells == exact)
  }

  test("corpus-global top-k is TakeOrdered-shaped, never a single-partition sort") {
    import graft.operators.{FullText, VectorRetrieval}
    val searches = Seq(
      "fulltext" -> FullText.search(Tables.documents(spark, sfDir), Seq("vector", "join"), 20),
      "sparse"   -> VectorRetrieval.sparseTopK(Tables.embeddings(spark, sfDir), 0L, 20))
    for ((name, q) <- searches) {
      val plan = Explain.explain(q, "formatted")
      assert(plan.contains("TakeOrderedAndProject"), s"$name: expected two-phase top-k:\n$plan")
      // the rank window must NOT force the whole scored corpus into one
      // partition: TakeOrderedAndProject already outputs SinglePartition in
      // sort order, so no Exchange SinglePartition may appear anywhere
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name: global single-partition sort crept back in:\n$plan")
    }
  }

  test("WAND-pruned sparse top-k matches the exact scorer and scores fewer postings") {
    import graft.operators.VectorRetrieval
    import org.apache.spark.sql.functions.{col, expr}
    def run(emb: org.apache.spark.sql.DataFrame): (Seq[(Long, Double, Int)], Seq[(Long, Double, Int)], Long, Long) = {
      val exact = VectorRetrieval.sparseTopK(emb, 0L, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      val pr = VectorRetrieval.sparseTopKPruned(emb, 0L, 20)
      val pruned = pr.topk.orderBy("rn")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      (exact, pruned, pr.postingsScored(), pr.postingsTotal)
    }
    // identity on the real (dense-ish) corpus — pruning may be a no-op
    // there, but must never change a row
    val (exactR, prunedR, _, _) = run(Tables.embeddings(spark, sfDir))
    assert(prunedR == exactR, "pruning changed the top-k on the real corpus")
    // pruning evidence needs a genuinely sparse corpus (impact-style
    // posting lists): each doc shares exactly one dim with the query, so
    // docs living only in low-impact query dims never get scored
    val sparse = spark.range(0, 400).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d ->
        CASE WHEN id = 0 THEN (CASE WHEN d < 8 THEN 1.0 - CAST(d AS DOUBLE) * 0.1 ELSE 0.0 END)
        ELSE (CASE WHEN d = CAST(id % 8 AS INT)
                THEN 0.25 + CAST(id % 7 AS DOUBLE) / 10.0
              WHEN d = CAST(8 + id % 56 AS INT) THEN 0.9
              ELSE 0.0 END) END)""").as("embedding"))
    val (exactS, prunedS, scored, total) = run(sparse)
    assert(prunedS == exactS, "pruning changed the top-k on the sparse corpus")
    assert(scored < total, s"no postings pruned: scored=$scored total=$total")
  }

  test("block-max WAND matches exact results and prunes strictly more than global WAND") {
    import graft.operators.VectorRetrieval
    import org.apache.spark.sql.functions.{col, expr}
    // identity on the real corpus: block-max must never change a row
    val real = Tables.embeddings(spark, sfDir)
    val exactR = VectorRetrieval.sparseTopK(real, 0L, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val bmR = VectorRetrieval.sparseTopKBlockMax(real, 0L, 20).topk.orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(bmR == exactR, "block-max changed the top-k on the real corpus")

    // the refinement corpus: a band of elite docs makes every dim's
    // GLOBAL upper bound large (global WAND can barely prune), while the
    // chaff blocks' per-block maxima stay small — only block-max metadata
    // sees that whole blocks cannot reach θ
    val corpus = spark.range(0, 400).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d ->
        CASE WHEN id = 0 THEN (CASE WHEN d < 8 THEN 1.0 - CAST(d AS DOUBLE) * 0.1 ELSE 0.0 END)
        WHEN id < 64 THEN (CASE WHEN d = CAST(id % 8 AS INT) THEN 0.95 ELSE 0.0 END)
        ELSE (CASE WHEN d = CAST(id % 8 AS INT) THEN 0.3 ELSE 0.0 END) END)""")
        .as("embedding"))
    val exactS = VectorRetrieval.sparseTopK(corpus, 0L, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val prG = VectorRetrieval.sparseTopKPruned(corpus, 0L, 20)
    // minPostings = 0 forces the block tier on this small refinement
    // corpus (the production default gates it off below
    // BlockMaxMinPostings, where the metadata costs more than it saves)
    val prB = VectorRetrieval.sparseTopKBlockMax(corpus, 0L, 20, minPostings = 0L)
    val (scoredG, totalG) = (prG.postingsScored(), prG.postingsTotal)
    val (scoredB, totalB) = (prB.postingsScored(), prB.postingsTotal)
    val prunedS = prG.topk.orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val bmS = prB.topk.orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(prunedS == exactS && bmS == exactS, "pruning changed the top-k")
    assert(totalB == totalG)
    assert(scoredB < scoredG,
      s"block-max did not tighten pruning: blockmax=$scoredB global=$scoredG total=$totalG")
  }

  test("JVM-loop shingles and minhash signatures are bit-identical to the expression forms") {
    import graft.operators.TextPipeline
    import org.apache.spark.sql.functions.col
    val src = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    // shingle equivalence (first-occurrence-order distinct trigrams)
    val shFast = TextPipeline.withShingles(src).select("doc_id", "shingles")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val shSlow = TextPipeline.withShinglesExpr(src).select("doc_id", "shingles")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(shFast.keySet == shSlow.keySet && shFast.forall { case (k, v) => shSlow(k) == v })
    // signature equivalence (murmur3 seed-42 + perm fold ≡ hash() + HOF)
    val docs = TextPipeline.withShingles(src)
      .filter(org.apache.spark.sql.functions.size(col("shingles")) > 0)
    val fast = TextPipeline.withMinhash(docs)
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val slow = TextPipeline.withMinhashExpr(docs)
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast.keySet == slow.keySet && fast.forall { case (k, v) => slow(k) == v })
    // the native expression stays inside whole-stage codegen — no UDF
    // boundary appears in the signature projection
    val plan = Explain.explain(TextPipeline.withMinhash(docs).select("sig"), "extended")
    assert(plan.toLowerCase.contains("minhash"), plan)
    assert(!plan.contains("UDF("), s"UDF boundary crept into the minhash path:\n$plan")
    // empty shingle sets yield NULL, not a Long.MaxValue sentinel signature
    // that would band-match every other empty doc (ADVICE r4)
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val empty = Seq(Seq.empty[String]).toDF("shingles")
      .select(ColumnBridge.column(
        graft.functions.MinhashSignature(
          ColumnBridge.expression(col("shingles")))).as("sig"))
      .collect().head
    assert(empty.isNullAt(0), "minhash_signature(array()) must be NULL")
  }

  test("CUBE compiles to one Expand pass over a single scan") {
    val q = graft.sql.GraftSql.query(spark, sfDir,
      "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus)")
    val plan = Explain.explain(q, "formatted")
    assert(plan.contains("Expand"), plan)
    // one Expand-fed aggregate over ONE scan — not a re-scan per grouping
    // set (formatted explain prints each node twice: tree + details)
    assert(plan.linesIterator.count(_.matches("""^\(\d+\) Scan parquet.*""")) == 1, plan)
  }

  test("PromQL range query is explode + one grouping shuffle, no driver loop") {
    val q = graft.promql.PromQL.rangeQuery(spark, sfDir,
      """sum_over_time(events{event_type!="signup"}[12h])""",
      "2024-01-02 00:00:00", "2024-01-08 00:00:00", 6 * 3600)
    val plan = Explain.explain(q, "formatted")
    assert(plan.contains("Generate") && plan.contains("explode"), plan) // covering-steps expansion
    assert(plan.contains("HashAggregate"), plan)
    // per-series grouping needs exactly one exchange; per-step re-scans
    // would show as many scans — require a single scan of the source
    assert(plan.linesIterator.count(_.matches("""^\(\d+\) Scan parquet.*""")) == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("Z-ordered layout skips files for range predicates on BOTH dimensions") {
    import graft.sources.StatsStore
    val dir = "/tmp/graft_state/plan_zorder_test"
    StatsStore.writeZOrdered(
      Tables.events(spark, sfDir).select("event_id", "user_id", "value"),
      dir, "user_id", "event_id", numFiles = 16)
    val (byUser, fA, tA) = StatsStore.rangeScan(spark, dir, "user_id", 3, 5)
    val (byEvent, fB, tB) = StatsStore.rangeScan(spark, dir, "event_id", 100, 140)
    assert(tA >= 8 && tB >= 8, s"expected a multi-file layout, got $tA/$tB")
    // a single 1-D clustering can only skip for its own column; Z-order
    // must skip meaningfully for BOTH selective ranges
    assert(fA < tA && fB < tB, s"no skipping: a=$fA/$tA b=$fB/$tB")
    // pruning loses no rows vs the full-scan filters
    val full = spark.read.parquet(dir)
    assert(byUser.count() == full.filter(col("user_id").between(3, 5)).count())
    assert(byEvent.count() == full.filter(col("event_id").between(100, 140)).count())
  }

  test("GraphX connected components agrees with the oracled DataFrame CC") {
    // GraphAlgos' CC is a Pregel that messages along out-edges only; on
    // both directions of the co-purchase pairs it must give GraphX's
    // library CC, which messages both ways: identical component structure
    // on the same graph
    import graft.graph.{GraphAlgos, PropertyGraph}
    val co = PropertyGraph.coPurchase(spark, sfDir).filter(col("a") < 200 && col("b") < 200)
    val verts = Tables.part(spark, sfDir).filter(col("p_partkey") < 200)
      .select(col("p_partkey").as("id"))
    val undirected = co.select(col("a").as("src"), col("b").as("dst"))
      .union(co.select(col("b").as("src"), col("a").as("dst")))
    val ours = GraphAlgos.connectedComponents(verts, undirected, maxIters = 20)
      .groupBy("comp").agg(count(lit(1)).as("sz"))
      .groupBy("sz").count().orderBy("sz").collect().map(r => (r.getLong(0), r.getLong(1)))
    val g = PropertyGraph(verts.withColumn("label", lit("part")),
      undirected.withColumn("label", lit("co"))).toGraphX
    val gx = spark.createDataFrame(
        g.connectedComponents().vertices.map { case (id, c) => (id, c) })
      .toDF("id", "comp")
      .groupBy("comp").agg(count(lit(1)).as("sz"))
      .groupBy("sz").count().orderBy("sz").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ours.sameElements(gx), s"ours=${ours.toSeq} graphx=${gx.toSeq}")
  }

  test("profile exposes per-operator runtime metrics") {
    val metrics = Explain.profile(
      Tables.nation(spark, sfDir).groupBy("n_regionkey").count())
    assert(metrics.nonEmpty)
    assert(metrics.exists { case (_, m, v) => m == "numOutputRows" && v > 0 })
  }
}
