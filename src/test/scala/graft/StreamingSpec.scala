package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream-stream join's state bound (VERDICT r4 #5): with both
  * sides watermarked, Spark evicts join state older than
  * watermark + join range, so state size tracks the RECENT window, not
  * the whole stream — the invariant that lets the join run unbounded.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  test("stream-stream join state is watermark-bounded and matches the batch join") {
    // lay the events out as many time-ordered files so AvailableNow +
    // maxFilesPerTrigger=1 runs one micro-batch per file and the
    // watermark advances between batches (a single file would be one
    // batch: no eviction observable)
    val srcDir = "/tmp/graft_state/streamspec_join_src"
    val p = java.nio.file.Paths.get(srcDir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val ev = Tables.normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .filter(col("user_id") < 10)
    val n = 12
    // one file per time slice, written SEQUENTIALLY in slice order: the
    // file source admits files in modification-time order, so the stream
    // replays in event-time order and the watermark advances every batch
    val Array(lo, hi) = ev
      .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).collect()
      .head.toSeq.map(_.toString.toLong).toArray
    val step = (hi - lo) / n + 1
    val tsUs = unix_micros(col("ts"))
    (0 until n).foreach { k =>
      ev.filter(tsUs >= lo + k * step && tsUs < lo + (k + 1) * step)
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(5) // distinct mtimes → deterministic admission order
    }

    val (result, progress) =
      graft.operators.StreamingOps.streamSelfJoin(spark, srcDir, Some(1))

    // 1) correctness: stream answer ≡ batch answer on the same data
    val batch = {
      val e = ev // already normalized to µs TimestampType
      val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
      val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      a.join(b, col("a_user") === col("b_user") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
    }
    val got = result.orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    val exp = batch.orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(got == exp, s"stream join != batch join (${got.length} vs ${exp.length} rows)")

    // 2) the state bound: after the final batch, retained state on each
    //    side is only rows that could still match — ts ≥ watermark − 1h
    //    (the join range). Derive the bound from the reported watermark
    //    itself plus that range, and compare to the actual row count in
    //    that window; anything near total input means eviction is broken.
    val withState = progress.filter(_.stateOperators.nonEmpty)
    assert(withState.length >= n - 1, s"expected ~$n micro-batches, got ${withState.length}")
    val last = withState.last
    val wmStr = last.eventTime.get("watermark")
    assert(wmStr != null, "no watermark reported on the final batch")
    val wm = java.time.Instant.parse(wmStr).toEpochMilli
    val stateRows = last.stateOperators.map(_.numRowsTotal).sum
    val totalInput = ev.count()
    // the retained window is [watermark − 1h join range, ∞)
    val wmMicros = wm * 1000L
    val inWindow = ev.filter(tsUs >= lit(wmMicros - 3600L * 1000000L)).count()
    // each side keeps ≤ inWindow rows (+1 batch of slack for rows that
    // arrived after the watermark was computed)
    val lastBatchRows = last.numInputRows
    val bound = 2 * inWindow + lastBatchRows
    assert(stateRows <= bound,
      s"state $stateRows rows exceeds watermark-derived bound $bound " +
        s"(inWindow=$inWindow, lastBatch=$lastBatchRows)")
    assert(stateRows < totalInput,
      s"state $stateRows did not shrink below total input $totalInput — no eviction")
    // eviction actually happened somewhere along the run
    assert(withState.exists(_.stateOperators.exists(_.numRowsRemoved > 0)),
      "no batch reported evicted state rows")
  }

  test("append-mode streaming cagg matches batch and evicts finalized windows") {
    // Stage events as time-sliced files so maxFilesPerTrigger=1 runs one
    // micro-batch per slice and the watermark advances between batches —
    // append mode then emits (and evicts) each hourly window as soon as
    // the watermark passes it, which is the state bound under test.
    val srcDir = "/tmp/graft_state/streamspec_cagg_src"
    val p = java.nio.file.Paths.get(srcDir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(p)
    val ev = Tables.events(spark, sfDir)
    val n = 8
    val Array(lo, hi) = ev
      .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).collect()
      .head.toSeq.map(_.toString.toLong).toArray
    val step = (hi - lo) / n + 1
    val tsUs = unix_micros(col("ts"))
    (0 until n).foreach { k =>
      ev.filter(tsUs >= lo + k * step && tsUs < lo + (k + 1) * step)
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(5)
    }

    val (result, progress) =
      graft.operators.StreamingOps.streamHourlyCagg(spark, srcDir, sfDir, Some(1))

    // 1) stream answer ≡ batch answer (every real window finalized)
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("total"))
    val got = result.orderBy("bucket", "event_type").collect().map(_.toSeq).toSeq
    val exp = batch.orderBy("bucket", "event_type").collect().map(_.toSeq).toSeq
    assert(got == exp, s"stream cagg != batch agg (${got.length} vs ${exp.length} rows)")

    // 2) state is watermark-bounded: finalized windows leave the store.
    //    Retained state ≤ windows not yet past the final watermark plus
    //    one batch of slack — far below the total window count.
    val withState = progress.filter(_.stateOperators.nonEmpty)
    assert(withState.exists(_.stateOperators.exists(_.numRowsRemoved > 0)),
      "no batch reported evicted window state")
    val last = withState.last
    val wm = java.time.Instant.parse(last.eventTime.get("watermark")).toEpochMilli
    val openWindows = ev
      .filter(tsUs >= lit(wm * 1000L - 3600L * 1000000L))
      .select(date_trunc("hour", col("ts")), col("event_type")).distinct().count()
    val totalWindows = batch.count()
    val stateRows = last.stateOperators.map(_.numRowsTotal).sum
    // +1: the sentinel's own window is never finalized and stays in state
    assert(stateRows <= openWindows + last.numInputRows + 1,
      s"state $stateRows exceeds open-window bound $openWindows + batch slack + sentinel")
    assert(stateRows < totalWindows,
      s"state $stateRows did not drop below total windows $totalWindows — no eviction")
  }

  test("batch session_window ≡ streaming flatMapGroupsWithState sessions") {
    // The two sessionization paths (SURVEY §2.10 row 77) must agree
    // row-for-row on identical input: built-in session_window in batch vs
    // the custom GroupState splitter in streaming (r5 verdict item 8).
    val srcDir = "/tmp/graft_state/streamspec_sess_src"
    val p = java.nio.file.Paths.get(srcDir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$srcDir/events.parquet"))

    val gapUs = 6L * 3600 * 1000000
    val streamed = graft.streaming.Sessionize.streamSessions(
        spark, srcDir, gapMicros = gapUs, sinkName = "spec_sessions", userFilter = 30)
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"),
        round(col("total"), 6).as("total"))
      .orderBy("user_id", "s_start").collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sfDir).filter(col("user_id") < 30)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("total"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s_start"),
        unix_micros(col("session_window.end")).as("s_end"), col("n"),
        round(col("total"), 6).as("total"))
      .orderBy("user_id", "s_start").collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streaming sessions != batch session_window (${streamed.length} vs ${batch.length})")
  }

  test("StateScope: a missing source dir sizes state at the shuffle default") {
    val dflt = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val missing = s"/tmp/graft_state/streamspec_missing_${System.nanoTime()}"
    assert(graft.streaming.StateScope.statePartitionsFor(spark, missing) === dflt)
  }
}
