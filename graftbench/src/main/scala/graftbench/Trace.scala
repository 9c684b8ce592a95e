package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters of the traced run, recorded from the benchmark's own
  * code around its calls into graft and from Spark's listener interfaces.
  * Everything stays in memory until the run ends. All times are epoch
  * milliseconds, the resolution of Spark's own job and planning records. */
object Trace {
  @volatile var on = false

  /** One timed interval; `op` is the index of the operation it belongs to,
    * filled in when the pass ends. */
  final case class Span(name: String, start: Double, end: Double, var op: Int = -1,
      attrs: Map[String, Double] = Map.empty) {
    def dur: Double = end - start
  }

  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  def nowMs(): Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private val counters = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def record(s: Span): Unit = spans.synchronized(spans += s)

  /** Time `body` as a span named `name` when tracing is on. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = nowMs()
      try body finally record(Span(name, t0, nowMs()))
    }

  /** Add `v` to a named counter when tracing is on. */
  def count(name: String, v: Double): Unit = if (on) counters.synchronized(counters(name) += v)
  def counter(name: String): Double = counters.synchronized(counters(name))

  def reset(): Unit = {
    spans.synchronized(spans.clear())
    counters.synchronized(counters.clear())
  }

  /** Job, stage and task records from the scheduler. */
  final class Listener extends SparkListener {
    private val jobStart = scala.collection.mutable.Map[Int, (Double, Seq[Int])]()
    private val stageJob = scala.collection.mutable.Map[Int, Int]()
    @volatile var peakExecMem = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time.toDouble, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, stages) =>
        record(Span("job", t0, e.time.toDouble, attrs = Map("id" -> e.jobId.toDouble, "stages" -> stages.size)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) {
        val t0 = i.submissionTime.getOrElse(0L).toDouble
        val t1 = i.completionTime.getOrElse(t0.toLong).toDouble
        record(Span("stage", t0, t1, attrs = Map(
          "job" -> synchronized(stageJob.getOrElse(i.stageId, -1)).toDouble,
          "tasks" -> i.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ns" -> m.executorCpuTime.toDouble,
          "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input" -> m.inputMetrics.bytesRead.toDouble,
          "output" -> m.outputMetrics.bytesWritten.toDouble)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
    }
  }

  /** Catalyst phase times and file counts of every executed query. */
  final class Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def planMetric(plan: SparkPlan, pick: PartialFunction[SparkPlan, Option[Long]]): Double =
      collectWithSubqueries(plan)(pick).flatten.sum.toDouble

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        record(Span(s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      val plan = qe.executedPlan
      val end = nowMs()
      val filesRead = planMetric(plan, { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value) })
      val filesWritten = planMetric(plan, {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value)
      })
      record(Span("query", end - durationNs / 1e6, end,
        attrs = Map("files_read" -> filesRead, "files_written" -> filesWritten)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Listeners of one session; registered for the traced pass only. */
  final class Session(spark: SparkSession) {
    val listener = new Listener
    val queries = new Queries
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queries)

    def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

    def close(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
  }

  /** Process-wide counters read before and after a traced pass. */
  final case class Gauges(gcMs: Long, jitMs: Long, compiles: Long, compileMeanMs: Double)

  def gauges(): Gauges = {
    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Gauges(mx.map(b => math.max(b.getCollectionTime, 0L)).sum,
      if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
      h.getCount, h.getSnapshot.getMean)
  }

  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cur: (Double, Double) = null
    c.foreach { iv =>
      if (cur == null) cur = iv
      else if (iv._1 <= cur._2) cur = (cur._1, math.max(cur._2, iv._2))
      else { total += cur._2 - cur._1; cur = iv }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Assign every recorded span to the operation whose window holds its start. */
  def attribute(windows: IndexedSeq[(Double, Double)]): Unit = spans.synchronized {
    val starts = windows.map(_._1).toArray
    spans.foreach { s =>
      val i = java.util.Arrays.binarySearch(starts, s.start)
      val idx = if (i >= 0) i else -i - 2
      if (idx >= 0 && s.start <= windows(idx)._2 + 1) s.op = idx
    }
  }

  /** The per-layer metrics of one traced pass; times and counts are per
    * operation unless the name says otherwise. */
  def layers(windows: IndexedSeq[(Double, Double)], cores: Int,
      before: Gauges, after: Gauges, l: Listener, cacheHitRatio: Double,
      tracedWallMs: Double, untracedWallMs: Double): Seq[(String, Double, String)] = {
    attribute(windows)
    val n = windows.size.toDouble
    val mine = spans.filter(_.op >= 0).toIndexedSeq
    def named(p: String) = mine.filter(_.name == p)
    def sumDur(p: String) = named(p).map(_.dur).sum
    def sumAttr(p: String, a: String) = named(p).map(_.attrs.getOrElse(a, 0.0)).sum
    val jobs = named("job")
    val byOp = mine.groupBy(_.op)
    val graphOps = named("graph.fixpoint").map(_.op).toSet
    // A span's self time: its length minus the part its child layers cover.
    val inner = Set("job", "catalyst.analysis", "catalyst.optimization", "catalyst.planning")
    val buildSelf = named("frontend.build").map { b =>
      b.dur - covered(byOp(b.op).filter(s => inner(s.name)).map(s => (s.start, s.end)), b.start, b.end)
    }.sum
    val gap = windows.indices.map { i =>
      val (lo, hi) = windows(i)
      val cover = byOp.getOrElse(i, Nil)
        .filter(s => inner(s.name) || s.name == "frontend.build" || s.name == "frontend.parse")
      (hi - lo) - covered(cover.map(s => (s.start, s.end)), lo, hi)
    }.sum
    val writeJobs = jobs.filter { j =>
      named("stage").exists(s => s.attrs("job") == j.attrs("id") && s.attrs("output") > 0)
    }
    val wall = windows.map { case (a, b) => b - a }.sum
    val runMs = sumAttr("stage", "run_ms")
    val filesRead = sumAttr("query", "files_read")
    val considered = counter("sources.files_considered")
    val graphJobs = jobs.count(j => graphOps(j.op)).toDouble
    val mb = 1024.0 * 1024.0
    Seq(
      ("frontend.build_s", buildSelf / 1e3 / n, "s"),
      ("frontend.parse_s", sumDur("frontend.parse") / 1e3 / n, "s"),
      ("frontend.stmt_cache_hit_ratio", cacheHitRatio, "ratio"),
      ("catalyst.analysis_s", sumDur("catalyst.analysis") / 1e3 / n, "s"),
      ("catalyst.optimization_s", sumDur("catalyst.optimization") / 1e3 / n, "s"),
      ("catalyst.planning_s", sumDur("catalyst.planning") / 1e3 / n, "s"),
      ("codegen.compile_s", (after.compiles - before.compiles) * after.compileMeanMs / 1e3 / n, "s"),
      ("codegen.compiles", (after.compiles - before.compiles) / n, "count"),
      ("exec.jobs", jobs.size / n, "count"),
      ("exec.stages", named("stage").size / n, "count"),
      ("exec.tasks", sumAttr("stage", "tasks") / n, "count"),
      ("exec.executor_run_s", runMs / 1e3 / n, "s"),
      ("exec.executor_cpu_s", sumAttr("stage", "cpu_ns") / 1e9 / n, "s"),
      ("exec.busy_ratio", if (wall > 0) runMs / (wall * cores) else 0.0, "ratio"),
      ("exec.shuffle_read_bytes", sumAttr("stage", "shuffle_read") / n, "B"),
      ("exec.shuffle_write_bytes", sumAttr("stage", "shuffle_write") / n, "B"),
      ("exec.spill_bytes", sumAttr("stage", "spill") / n, "B"),
      ("exec.peak_exec_mem_mb", l.peakExecMem / mb, "MB"),
      ("driver.gap_s", gap / 1e3 / n, "s"),
      ("graph.jobs_per_op", if (graphOps.isEmpty) 0.0 else graphJobs / graphOps.size, "count"),
      ("graph.pinned_rdds", counter("graph.pinned_rdds") / n, "count"),
      ("graph.pinned_mb", counter("graph.pinned_bytes") / mb / n, "MB"),
      ("sources.bytes_written", sumAttr("stage", "output") / n, "B"),
      ("sources.files_written", sumAttr("query", "files_written") / n, "count"),
      ("sources.write_job_s", writeJobs.map(_.dur).sum / 1e3 / n, "s"),
      ("sources.bytes_read", sumAttr("stage", "input") / n, "B"),
      ("sources.files_read", filesRead / n, "count"),
      ("sources.files_pruned_ratio",
        if (considered > 0) 1.0 - counter("sources.files_scanned") / considered else 0.0, "ratio"),
      ("jvm.gc_s", (after.gcMs - before.gcMs) / 1e3 / n, "s"),
      ("jvm.jit_s", (after.jitMs - before.jitMs) / 1e3 / n, "s"),
      ("trace.overhead_ratio", tracedWallMs / untracedWallMs - 1.0, "ratio"))
  }

  /** The recorded spans as JSON lines, each with its operation's template,
    * for the per-workload read-out. */
  def dump(path: java.nio.file.Path, templates: IndexedSeq[String]): Unit = spans.synchronized {
    val lines = spans.filter(_.op >= 0).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"op":${s.op},"template":"${templates(s.op)}","name":"${s.name}",""" +
        s""""start":${s.start},"end":${s.end},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
