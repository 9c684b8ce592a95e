package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a workload's sequence.
  *
  * @param template the operation's shape; every round runs each template once
  * @param key      names the distinct operation: equal keys expect equal results
  * @param run      the timed call; returns the checksum of what graft produced
  * @param parse    the front-end's public parse of the operation's text, which
  *                 the traced run times apart from the operation
  * @param check    for stateful operations, an untimed check made right after
  *                 the operation; returns a failure message. Stateless
  *                 operations are checked together against [[Workload.expected]].
  */
final case class Op(template: String, key: String, run: () => Checksum,
    parse: Option[() => Unit] = None, check: Option[Checksum => Option[String]] = None)

object Op {
  /** A read: build a DataFrame through a front-end, then run it by checksum. */
  def query(template: String, key: String, parse: Option[() => Unit] = None)(build: => DataFrame): Op =
    Op(template, key, () => Checksum.of(Trace.span("frontend.build")(build)), parse)

  /** A read through an iterative graph operator: the call runs Spark jobs
    * itself, so it is traced as a fixpoint, not as a front-end build. */
  def fixpoint(template: String, key: String)(call: => DataFrame): Op =
    Op(template, key, () => Checksum.of(Trace.span("graph.fixpoint")(call)))
}

/** What every workload shares at run time. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: Path,
    val cores: Int, val refs: RefCache)

/** A benchmark workload: opened in each set-up, then driven through a
  * seed-generated operation sequence. */
trait Workload {
  /** The data set it reads: "sf0.1" or "x10". */
  def scale: String

  /** Open tables and derived views on a fresh session. Part of set-up. */
  def open(ctx: Ctx): Unit

  /** Bring the program's caches to the state in which the traffic before
    * the measured window leaves them. Part of each set-up, after [[open]],
    * on an empty statement cache, as after a restart. */
  def fillCaches(rng: scala.util.Random): Unit = ()

  /** Operations run once before timing, after [[ops]] generated the timed
    * sequence, to fill the program's caches and compile its code paths. */
  def warmup(rng: scala.util.Random): Seq[Op]

  /** The timed sequence for `seconds` of measurement: whole rounds, each
    * running every template once in a seed-shuffled order. */
  def ops(rng: scala.util.Random, seconds: Int): Seq[Op]

  /** Reference checksums of the stateless operations, by [[Op.key]], computed
    * outside graft's front-ends and operators. */
  def expected(ops: Seq[Op]): Map[String, Checksum]

  /** Checks made after the timed phase; returns failure messages. */
  def finish(): Seq[String] = Nil

  /** (bytes written, rows changed, live bytes, live rows) for workloads that
    * write; None for read-only ones. */
  def storage(): Option[(Long, Long, Long, Long)] = None
}

object Workload {
  def apply(name: String): Workload = name match {
    case "interactive" => new Interactive
    case "graph_iterative" => new GraphIterative
    case "write_read" => new WriteRead
    case "scale_x10" => new ScaleX10
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Draws keys of [0, n) as YCSB's scrambled Zipfian request distribution
    * does (Cooper et al., "Benchmarking Cloud Serving Systems with YCSB",
    * SoCC 2010): popularity rank r with probability proportional to
    * 1 / (r + 1)^theta, theta = 0.99 as in YCSB, and ranks spread over the
    * key space by a fixed bijection, so the popular keys are the same in
    * every run and scattered across the table. */
  final class Zipf(n: Int, theta: Double = 0.99) {
    require(n > 0 && n % 7919 != 0)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, theta))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }

    /** The key of popularity rank `r`: r * 7919 + 12345 mod n, a bijection
      * because 7919 is a prime that divides none of the key spaces. */
    def key(r: Int): Long = ((r.toLong * 7919 + 12345) % n)

    def rank(rng: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }

    def draw(rng: scala.util.Random): Long = key(rank(rng))
  }

  /** `rounds` rounds of `templates`, each round in its own shuffled order. */
  def rounds[T](rng: scala.util.Random, rounds: Int, templates: Seq[T]): Seq[T] =
    (1 to rounds).flatMap(_ => rng.shuffle(templates))
}

/** Reference checksums kept between runs of one checkout: the data sets are
  * fixed, so an operation's expected result never changes. Operation keys
  * carry a reference version; bump it when a reference query changes. */
final class RefCache(file: Path) {
  private val known = scala.collection.mutable.Map[String, Checksum]()
  private var dirty = false
  if (Files.exists(file))
    new String(Files.readAllBytes(file), UTF_8).linesIterator.foreach { l =>
      l.split('\t') match {
        case Array(k, c, x) => known(k) = Checksum(c.toLong, x.toLong)
        case _ =>
      }
    }

  def get(key: String): Option[Checksum] = known.get(key)
  def put(key: String, c: Checksum): Unit = { known(key) = c; dirty = true }

  /** The cached checksums for `keys`, computing the missing ones together. */
  def getAll(keys: Seq[String])(compute: Seq[String] => Map[String, Checksum]): Map[String, Checksum] = {
    val missing = keys.distinct.filterNot(known.contains)
    if (missing.nonEmpty) {
      val got = compute(missing)
      missing.foreach(k => put(k, got.getOrElse(k, Checksum.Empty)))
    }
    keys.map(k => k -> known(k)).toMap
  }

  def save(): Unit = if (dirty) {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    Files.write(tmp, known.toSeq.sortBy(_._1).map { case (k, c) => s"$k\t${c.count}\t${c.xor}" }
      .mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
