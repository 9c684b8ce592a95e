package graft.graph

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** A graph collected to the driver, where [[GraphAlgos]] runs its rounds
  * as plain array loops: the local form of the reference's CSR snapshot
  * (graph/olap/GraphAnalyticalView.java:84), which runs every OLAP
  * algorithm in one process.
  *
  * Ids are dense: a vertex is its index in `ids`, the distinct ids of the
  * vertices and edge endpoints in ascending order, so comparing indices
  * compares ids. `vertex(i)` says whether `ids(i)` came from the vertex
  * input rather than only from an edge. Edge `e` runs `src(e) -> dst(e)`
  * with weight `w(e)` (no weights when built without a weight column).
  */
private[graph] final class LocalGraph(val ids: Array[Long], val vertex: Array[Boolean],
    val src: Array[Int], val dst: Array[Int], val w: Array[Double]) {
  def size: Int = ids.length

  /** The indices of the input's vertices. */
  def vertices: Seq[Int] = ids.indices.filter(vertex(_))

  /** The index of `id`, or -1 when it is neither a vertex nor an edge
    * endpoint. */
  def index(id: Long): Int = math.max(java.util.Arrays.binarySearch(ids, id), -1)

  /** The same ids, with only the edges `keep` holds for. */
  def edgesWhere(keep: Int => Boolean): LocalGraph = {
    val es = src.indices.filter(keep).toArray
    new LocalGraph(ids, vertex, es.map(src(_)), es.map(dst(_)), if (w.isEmpty) w else es.map(w(_)))
  }

  /** Runs `round(1)`, `round(2)`, … up to `round(n)`, and stops after the
    * first round that returns false: every algorithm here reads only what
    * the round before wrote, so a round that changes nothing has reached
    * the fixed point every later round would keep. */
  def rounds(n: Int)(round: Int => Boolean): Unit = {
    var r = 1L
    while (r <= n && round(r.toInt)) r += 1
  }

  /** `init` lowered by at most `n` synchronous rounds, the driver form of
    * GraphAlgos' Pregel min-relaxations: in a round every edge whose tail
    * holds a value below `none` offers `next(value, edge, head)` to its
    * head, along `src -> dst` when `fwd` and `dst -> src` when `back`, and
    * each vertex keeps the least of its value and the offers. Returns
    * `init` itself when no round lowers anything. */
  def relax[A: ClassTag](init: Array[A], n: Int, none: A, fwd: Boolean = true, back: Boolean = false)(
      next: (A, Int, Int) => A)(implicit ord: Ordering[A]): Array[A] = {
    var cur = init
    rounds(n) { _ =>
      val out = cur.clone()
      var lowered = false
      def offer(from: Int, e: Int, to: Int): Unit = {
        val a = cur(from)
        if (ord.lt(a, none)) {
          val b = next(a, e, to)
          if (ord.lt(b, out(to))) { out(to) = b; lowered = true }
        }
      }
      var e = 0
      while (e < src.length) {
        if (fwd) offer(src(e), e, dst(e))
        if (back) offer(dst(e), e, src(e))
        e += 1
      }
      if (lowered) cur = out
      lowered
    }
    cur
  }
}

private[graph] object LocalGraph {

  /** `vertices`' ids and `edges` (src, dst, and `w` when given) collected
    * to the driver, or None when Spark would not broadcast them: the ids
    * and edges to collect pass only when each one's size estimate is
    * within `spark.sql.autoBroadcastJoinThreshold`, the rule by which
    * Spark's join planning collects a join side to the driver. So a
    * session that sets the threshold to -1 never builds one. Ids are cast
    * to long and weights to double; a null id or weight fails, as it does
    * on GraphX. */
  def apply(vertices: DataFrame, edges: DataFrame, w: Option[Column] = None): Option[LocalGraph] = {
    val vs = vertices.select(col("id").cast("long"))
    val es = edges.select(Seq(col("src").cast("long"), col("dst").cast("long")) ++ w.map(_.cast("double")): _*)
    val limit = vertices.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val small = Seq(vs, es).forall { df =>
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      size >= 0 && size <= limit
    }
    Option.when(small) {
      val (vid, _) = pack(vs, longs = 1)
      val (ends, ws) = pack(es, longs = 2)
      val all = vid ++ ends
      java.util.Arrays.sort(all)
      var distinct = 0
      for (i <- all.indices) if (i == 0 || all(i) != all(distinct - 1)) { all(distinct) = all(i); distinct += 1 }
      val ids = java.util.Arrays.copyOf(all, distinct)
      def at(id: Long) = java.util.Arrays.binarySearch(ids, id)
      val vertex = new Array[Boolean](ids.length)
      vid.foreach(v => vertex(at(v)) = true)
      new LocalGraph(ids, vertex, Array.tabulate(ends.length / 2)(e => at(ends(2 * e))),
        Array.tabulate(ends.length / 2)(e => at(ends(2 * e + 1))), ws)
    }
  }

  /** The rows of `df`, whose first `longs` columns are longs and any
    * others doubles, as one long and one double array, each row-major.
    * The executors pack each partition into primitive arrays, so no row
    * object reaches the driver. */
  private def pack(df: DataFrame, longs: Int): (Array[Long], Array[Double]) = {
    val width = df.schema.length
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val ls = new mutable.ArrayBuilder.ofLong
      val ds = new mutable.ArrayBuilder.ofDouble
      rows.foreach { r =>
        for (i <- 0 until width) {
          if (r.isNullAt(i)) throw new NullPointerException(s"Value at index $i is null")
          if (i < longs) ls += r.getLong(i) else ds += r.getDouble(i)
        }
      }
      Iterator((ls.result(), ds.result()))
    }.collect()
    (Array.concat(parts.map(_._1): _*), Array.concat(parts.map(_._2): _*))
  }
}
