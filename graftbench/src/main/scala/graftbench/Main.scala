package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Sub-call timings of a composite operation (a write and the reads that
  * check it), in seconds. */
object Clock {
  val reads = ArrayBuffer[Double]()
  val writes = ArrayBuffer[Double]()

  private def time[T](into: ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally into += (System.nanoTime() - t0) / 1e9
  }
  def read[T](body: => T): T = time(reads)(body)
  def write[T](body: => T): T = time(writes)(body)
}

/** Runs one workload once: set up, time the seed's operation sequence in one
  * closed loop with a single client, check every result, print a JSON report.
  *
  * Usage: Main --workload NAME --seed N --seconds N --trace 0|1 --root DIR --cores N --data-version V
  * where DIR holds the generated data (`data/<scale>`, of generator version
  * V) and receives the working copies, the reference cache and the trace. */
object Main {
  /** Set-ups per run, `setup_s` being their median: at least [[MinSetups]];
    * more, up to [[MaxSetups]], while the re-set-ups after the first have
    * taken less than [[SetupBudgetS]] together, so cheap set-ups are
    * measured more often. */
  val MinSetups = 3
  val MaxSetups = 9
  val SetupBudgetS = 2.0

  final case class Timed(op: Op, seconds: Double, error: Option[String], sum: Option[Checksum],
      reads: Seq[Double], writes: Seq[Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val cores = a("cores").toInt
    val dataVersion = a("data-version")
    val wl = Workload(name)
    val dataDir = root.resolve("data").resolve(wl.scale)
    require(DataGen.ready(dataDir, wl.scale, dataVersion), s"no generated data of version $dataVersion at $dataDir")
    val refs = new RefCache(root.resolve("refs").resolve(s"$name-${dataVersion.take(16)}.tsv"))

    val load0 = Env.loadAvg(); val steal0 = Env.stealTicks()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    var ctx: Ctx = null
    var baseline = Set.empty[Int]
    val warmFailures = ArrayBuffer[String]()
    val extraFailures = ArrayBuffer[String]()
    // operations run and checked outside the timed pass: warm-up, traced and last pass
    var checkedElsewhere = 0

    // Each set-up builds a fresh session, opens the workload's tables and
    // derived views, and fills the statement cache, emptied first as a
    // restart would; the first one also pays for starting the JVM and
    // creates the working copies, which the later ones reopen. The warm-up,
    // which compiles the code paths once per JVM, then runs on the last
    // session.
    val work = root.resolve("work").resolve(name)
    Env.deleteTree(work)
    Files.createDirectories(work)
    val setups = ArrayBuffer[Double]()
    def setUp(): Unit = {
      val t0 = if (setups.isEmpty) jvmStart else System.currentTimeMillis().toDouble
      if (spark != null) spark.stop()
      spark = Env.session(cores, root)
      ctx = new Ctx(spark, dataDir.toString, work, cores, refs)
      wl.open(ctx)
      graft.StatementCache.clear()
      wl.fillCaches(new Random(seed * 17 + 1))
      baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
      setups += (System.currentTimeMillis() - t0) / 1e3
    }
    while (setups.size < MinSetups || (setups.size < MaxSetups && setups.tail.sum < SetupBudgetS)) setUp()
    val ops = wl.ops(new Random(seed), seconds).toIndexedSeq
    val w0 = System.nanoTime()
    wl.warmup(new Random(seed * 31)).foreach { op =>
      checkedElsewhere += 1
      val t = runOp(op, spark, baseline)
      (t.error ++ checkNow(t)).foreach(e => warmFailures += s"warm-up ${op.key}: $e")
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    // Process start to the first timed operation as one set-up has it: JVM
    // and session start, tables, cache fill, warm-up.
    val startupS = setups.head + warmupS

    val gc0 = Trace.gauges()
    val (untraced, untracedWall, cacheRatio) = pass(ops, spark, baseline)
    val gc1 = Trace.gauges()

    // The traced run times the sequence again with tracing on, then once
    // more without: the tracing overhead compares the traced pass with the
    // mean of the untraced passes around it, which are colder and warmer.
    val layers = if (!traced) Nil else {
      val tracing = new Trace.Session(spark)
      Trace.reset(); Trace.on = true
      val g0 = Trace.gauges()
      val windows = ArrayBuffer[(Double, Double)]()
      val t0 = System.nanoTime()
      ops.foreach { op =>
        val s = Trace.nowMs()
        // The front-end's parse on a miss, timed apart from the operation.
        op.parse.foreach { p =>
          graft.StatementCache.clear()
          Trace.span("frontend.parse")(p())
        }
        val t = runOp(op, spark, baseline)
        windows += ((s, Trace.nowMs()))
        checkedElsewhere += 1
        (t.error ++ checkNow(t)).foreach(e => extraFailures += s"traced pass ${op.key}: $e")
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      tracing.drain()
      Trace.on = false
      val g1 = Trace.gauges()
      tracing.close()
      val (last, after, _) = pass(ops, spark, baseline)
      last.foreach(t => t.error.foreach(e => extraFailures += s"last pass ${t.op.key}: $e"))
      checkedElsewhere += last.size
      val ls = Trace.layers(windows.toIndexedSeq, cores, g0, g1, tracing.listener,
        cacheRatio, wallMs, (untracedWall + after) / 2 * 1e3)
      Files.createDirectories(root.resolve("traces"))
      Trace.dump(root.resolve("traces").resolve(s"$name-seed$seed.jsonl"), ops.map(_.template))
      ls
    }

    // Untimed verification: stateless results against references computed
    // outside graft, stateful ones as they ran, then end-of-run checks.
    val expected = wl.expected(ops.filter(_.check.isEmpty))
    val verdicts = untraced.map { t =>
      t.error.orElse {
        val want = expected.getOrElse(t.op.key, Checksum.Empty)
        if (t.op.check.isEmpty && !t.sum.contains(want)) Some(s"got ${t.sum.getOrElse("-")}, want $want")
        else None
      }
    }
    val endFailures = wl.finish()
    val failures = untraced.zip(verdicts).collect { case (t, Some(e)) => s"${t.op.key}: $e" } ++
      warmFailures ++ extraFailures ++ endFailures
    refs.save()
    val storage = wl.storage()
    val rss = Env.peakRssMb()
    val heap = Env.peakHeapMb()
    SparkSession.getDefaultSession.foreach(_.stop())

    val failedOps = verdicts.count(_.nonEmpty) + warmFailures.size + extraFailures.size + endFailures.size
    val lat = untraced.map(_.seconds)
    val reads = untraced.flatMap(t => if (t.reads.isEmpty && t.writes.isEmpty) Seq(t.seconds) else t.reads)
    val writes = untraced.flatMap(_.writes)
    def pct(xs: Seq[Double], p: Double) =
      if (xs.isEmpty) "null" else { val q = Stats.percentile(xs, p); s"""{"value":${q.value},"n":${q.n},"beyond":${q.beyond}}""" }
    val p90 = Stats.tail(lat, 0.9).map(q => s"""{"value":${q.value},"n":${q.n},"beyond":${q.beyond}}""").getOrElse("null")
    val templateP50 = untraced.groupBy(_.op.template).toSeq.sortBy(_._1).map { case (k, ts) =>
      k -> Stats.median(ts.map(_.seconds))
    }
    val perTemplate = templateP50.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val storageJson = storage.fold("null") { case (written, changed, live, rows) =>
      s"""{"bytes_written":$written,"rows_changed":$changed,"live_bytes":$live,"live_rows":$rows,""" +
        s""""write_bytes_per_row":${written.toDouble / math.max(1L, changed)},""" +
        s""""stored_bytes_per_row":${live.toDouble / math.max(1L, rows)}}"""
    }
    val layerJson = layers.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val gcS = (gc1.gcMs - gc0.gcMs) / 1e3
    val json =
      s"""{"workload":"$name","seed":$seed,"seconds":$seconds,"trace":${if (traced) 1 else 0},""" +
      s""""scale":"${wl.scale}","cores":$cores,"jvm":"${Env.jvm}",""" +
      s""""load_avg_start":$load0,"load_avg_end":${Env.loadAvg()},""" +
      s""""steal_ticks":${Env.stealTicks() - steal0},"gc_s":$gcS,""" +
      s""""attempted":${untraced.size + checkedElsewhere + endFailures.size},"failed":$failedOps,""" +
      s""""failures":[${failures.take(8).map(Env.jstr).mkString(",")}],""" +
      s""""setup_runs_s":[${setups.mkString(",")}],"setup_s":${Stats.median(setups.toSeq)},"warmup_s":$warmupS,""" +
      s""""startup_s":$startupS,""" +
      s""""latency_p50_s":${Stats.geomean(templateP50.map(_._2))},"latency_p50":${pct(lat, 0.5)},"latency_p90":$p90,""" +
      s""""read_latency_p50":${pct(reads, 0.5)},"write_latency_p50":${pct(writes, 0.5)},""" +
      s""""throughput_qps":${lat.size / lat.sum},"peak_rss_mb":$rss,"peak_heap_mb":$heap,""" +
      s""""error_rate":${failedOps.toDouble / math.max(1, untraced.size)},""" +
      s""""stmt_cache_hit_ratio":$cacheRatio,"storage":$storageJson,""" +
      s""""template_p50_s":$perTemplate,"layers":$layerJson}"""
    println(json)
  }

  /** Run `op` once, timed; release what it pinned. */
  def runOp(op: Op, spark: SparkSession, baseline: Set[Int]): Timed = {
    Clock.reads.clear(); Clock.writes.clear()
    val t0 = System.nanoTime()
    val r = try Right(op.run()) catch {
      case e: Throwable => Left(e.getClass.getSimpleName + ": " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200))
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    if (Trace.on) {
      val pinned = sc.getPersistentRDDs.keySet.toSet -- baseline
      Trace.count("graph.pinned_rdds", pinned.size)
      Trace.count("graph.pinned_bytes",
        sc.getRDDStorageInfo.filter(i => pinned(i.id)).map(i => i.memSize + i.diskSize).sum.toDouble)
    }
    sc.getPersistentRDDs.foreach { case (id, rdd) => if (!baseline(id)) rdd.unpersist(blocking = false) }
    Timed(op, dt, r.left.toOption, r.toOption, Clock.reads.toList, Clock.writes.toList)
  }

  private def checkNow(t: Timed): Option[String] =
    for { c <- t.op.check; s <- t.sum; e <- c(s) } yield e

  /** One pass over `ops`: results, wall seconds, statement-cache hit ratio. */
  def pass(ops: Seq[Op], spark: SparkSession, baseline: Set[Int]): (IndexedSeq[Timed], Double, Double) = {
    val h0 = graft.StatementCache.hits; val m0 = graft.StatementCache.misses
    val t0 = System.nanoTime()
    val res = ops.map { op =>
      val t = runOp(op, spark, baseline)
      // Stateful checks run between operations, outside their timing.
      t.copy(error = t.error.orElse(checkNow(t)))
    }.toIndexedSeq
    val wall = (System.nanoTime() - t0) / 1e9
    val h = graft.StatementCache.hits - h0; val m = graft.StatementCache.misses - m0
    (res, wall, if (h + m > 0) h.toDouble / (h + m) else 0.0)
  }
}

/** Process, machine and session facts. */
object Env {
  def session(cores: Int, root: Path): SparkSession = {
    val master = s"local[$cores]"
    SparkSession.builder().master(master).appName("graftbench")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // graft's own session settings, applied to the session built above
    graft.GraftSession.build(master, cores.toString, "graftbench")
  }

  def jvm: String = s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"

  def loadAvg(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative CPU steal ticks of the machine, or -1 where not reported. */
  def stealTicks(): Long = try {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong else -1L
  } catch { case _: Exception => -1L }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = try {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  } catch { case _: Exception => -1.0 }

  /** Sum of the heap memory pools' peak usage since the JVM started, in MB. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }

  /** Total size of the regular files under `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
