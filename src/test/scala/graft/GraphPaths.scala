package graft

import org.scalatest.funsuite.AnyFunSuite

/** Graph-algorithm tests that run on both of [[graft.graph.GraphAlgos]]'
  * executors. */
trait GraphPaths { self: AnyFunSuite =>
  import TestSession._

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `value`, then
    * the session's own setting again. */
  def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Registers `body` twice: under `name` at the session's threshold,
    * where inputs this small run on the driver (`local` true), and as
    * "`name`, on GraphX" at threshold -1, where every call runs on GraphX
    * (`local` false). */
  def bothPaths(name: String)(body: Boolean => Unit): Unit = {
    test(name)(body(true))
    test(s"$name, on GraphX")(withThreshold("-1")(body(false)))
  }
}
