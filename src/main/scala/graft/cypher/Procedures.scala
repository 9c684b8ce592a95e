package graft.cypher

import graft.graph.{GraphAlgos, PropertyGraph}
import graft.sql.Ast.{Expr, Neg, NumLit}
import graft.sql.Parser.ParseException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Procedure registry for Cypher `CALL` (reference
  * query/opencypher/executor/steps/CallStep.java:48 dispatching through
  * function/procedure/ProcedureRegistry.java). Each procedure returns a
  * DataFrame; schema introspection procedures derive from the graph's
  * DataFrames (labels/types are one distinct-aggregate over the data,
  * property keys come from the schema — no scan), and the algo procedures
  * delegate to [[GraphAlgos]]' PageRank and directed connected components.
  */
object Procedures {

  private def litToInt(e: Expr): Int = e match {
    case NumLit(v, _) => v.toInt
    case other => throw ParseException(s"procedure arg must be a literal number, got $other")
  }
  private def litToDouble(e: Expr): Double = e match {
    case NumLit(v, _) => v.toDouble
    case Neg(NumLit(v, _)) => -v.toDouble
    case other => throw ParseException(s"procedure arg must be a literal number, got $other")
  }

  /** Ad-hoc table-backed procedure (the TCK's "there exists a procedure
    * …" fixtures; the reference's ProcedureRegistry registration
    * surface). The signature's input columns filter the fixture rows by
    * argument equality; the output columns are the YIELD surface. */
  final case class TableProc(inCols: Seq[String], outCols: Seq[String],
      rows: Seq[Seq[Any]], inTypes: Seq[String] = Seq.empty)

  private val tableProcs = new ThreadLocal[Map[String, TableProc]] {
    override def initialValue(): Map[String, TableProc] = Map.empty
  }
  def registerTable(name: String, p: TableProc): Unit =
    tableProcs.set(tableProcs.get + (name.toLowerCase -> p))
  def clearTables(): Unit = tableProcs.remove()

  private def litValue(e: Expr): Any = e match {
    case NumLit(v, integral) => if (integral) v.toLong else v.toDouble
    case Neg(NumLit(v, integral)) => if (integral) -v.toLong else -v.toDouble
    case graft.sql.Ast.StrLit(s)  => s
    case graft.sql.Ast.BoolLit(b) => b
    case graft.sql.Ast.NullLit    => null
    case graft.sql.Ast.ArrayLit(es) => es.map(litValue)
    case other => throw ParseException(s"procedure arg must be a literal, got $other")
  }

  private def tableProcFrame(g: PropertyGraph, name: String, tp: TableProc,
      args0: Seq[Expr]): DataFrame = {
    val spark = g.vertices.sparkSession
    // implicit-argument form (`CALL proc` with no parens): the arguments
    // come from same-named query parameters
    val args =
      if (args0.isEmpty && tp.inCols.nonEmpty)
        tp.inCols.map(c => Cypher.substParams(graft.sql.Ast.Ident("$" + c)))
      else args0
    if (args.length != tp.inCols.length)
      throw ParseException(
        s"procedure $name expects ${tp.inCols.length} arguments, got ${args.length}")
    val argVals = args.map(a => litValue(Cypher.substParams(a)))
    // declared-type check (TCK Call2 [5][6], Call3): NUMBER accepts both
    // integer and float; ANY accepts everything; null always assignable
    tp.inTypes.zip(argVals).zip(tp.inCols).foreach { case ((ty, v), c) =>
      val ok = v == null || (ty.toUpperCase.stripSuffix("?") match {
        case "INTEGER" => v.isInstanceOf[Long]
        case "FLOAT"   => v.isInstanceOf[Double] || v.isInstanceOf[Long]
        case "NUMBER"  => v.isInstanceOf[Long] || v.isInstanceOf[Double]
        case "STRING"  => v.isInstanceOf[String]
        case "BOOLEAN" => v.isInstanceOf[Boolean]
        case t2 if t2.startsWith("LIST") => v.isInstanceOf[Seq[_]]
        case _ => true
      })
      if (!ok) throw ParseException(
        s"ProcedureCallFailed: argument $c expects $ty, got ${v.getClass.getSimpleName}")
    }
    if (tp.outCols.isEmpty)
      // void procedure: one row, no yield surface — the caller's horizon
      // passes through unchanged (the hidden column drops in CallC)
      return graft.OneRow(spark).select(lit(1).as("__void"))
    val cols = tp.inCols ++ tp.outCols
    import org.apache.spark.sql.types._
    def typeOf(v: Any): DataType = v match {
      case _: String => StringType
      case _: Long | _: Int => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case xs: Seq[_] =>
        ArrayType(xs.collectFirst { case x if x != null => typeOf(x) }.getOrElse(StringType))
      case _ => StringType
    }
    val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
      val samples = tp.rows.collect { case r if r(i) != null => r(i) }
      val dt = samples.map(typeOf).distinct match {
        case Seq()  => StringType
        case Seq(t2) => t2
        case ts if ts.forall(t2 => t2 == LongType || t2 == DoubleType) => DoubleType
        case ts => ts.head
      }
      StructField(c, dt)
    })
    def norm(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (x: Long, DoubleType) => x.toDouble
      case (xs: Seq[_], ArrayType(et, _)) => xs.map(norm(_, et))
      case (x, _) => x
    }
    val rows = tp.rows.map(r => org.apache.spark.sql.Row.fromSeq(
      r.zipWithIndex.map { case (v, i) => norm(v, schema(i).dataType) }))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), schema)
    val filtered = tp.inCols.zip(argVals).foldLeft(df) { case (d, (c, v)) =>
      val vc = (v, df.schema(c).dataType) match {
        case (x: Long, DoubleType) => lit(x.toDouble) // INTEGER → FLOAT arg
        case _ => lit(v)
      }
      d.filter(col(c) <=> vc) }
    filtered.select(tp.outCols.map(col): _*)
  }

  def invoke(g: PropertyGraph, name: String, args: Seq[Expr]): DataFrame = {
    tableProcs.get.get(name.toLowerCase).foreach { tp =>
      return tableProcFrame(g, name, tp, args)
    }
    name.toLowerCase match {
      case "db.labels" =>
        g.vertices.select(col("label")).distinct()
      case "db.relationshiptypes" =>
        g.edges.select(col("label").as("relationshipType")).distinct()
      case "db.propertykeys" =>
        // property keys are schema facts, not data: structural columns
        // (id/src/dst/label) excluded, vertex+edge keys unioned
        val keys = (g.vertices.columns.filterNot(Set("id", "label")) ++
          g.edges.columns.filterNot(Set("src", "dst", "label"))).distinct.sorted
        val spark = g.vertices.sparkSession
        import spark.implicits._
        keys.toSeq.toDF("propertyKey")
      case "algo.pagerank" =>
        val iters = if (args.nonEmpty) litToInt(args(0)) else 10
        val reset = if (args.length > 1) litToDouble(args(1)) else 0.15
        GraphAlgos.pageRank(g.vertices.select(col("id")),
          g.edges.select(col("src"), col("dst")), iters, reset)
      case "algo.connectedcomponents" | "algo.cc" =>
        val iters = if (args.nonEmpty) litToInt(args(0)) else 10
        GraphAlgos.connectedComponents(g.vertices.select(col("id")),
          g.edges.select(col("src"), col("dst")), iters)
      case other =>
        throw ParseException(s"unknown procedure $other")
    }
  }
}
