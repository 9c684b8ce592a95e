package graft.sql

import graft.graph.{Fixpoint, PropertyGraph}
import graft.sql.Ast.Expr
import graft.sql.Parser.{ParseException, TEof, TStr}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL dialect's TRAVERSE statement (reference grammar
  * SQLParser.g4:220-229 traverseStatement, executors
  * exec/BreadthFirstTraverseStep.java:34 / DepthFirstTraverseStep.java:36):
  *
  *   TRAVERSE out(['EdgeType']) | in(...) | both(...)
  *   FROM <vertexType> [WHERE <seed filter>] [MAXDEPTH n]
  *
  * Seeds are the FROM type's vertices passing WHERE (bare identifiers are
  * the vertex's own properties); the traversal is the distributed BFS
  * frontier loop in [[PropertyGraph.traverse]] — per-depth distinct-join
  * expansion, not the reference's single-node iterator stack — and emits
  * one row per reached vertex with its first (minimum) reach depth, the
  * breadth-first contract of the reference's BreadthFirstTraverseStep.
  * Result: (key, label, depth) ordered by (depth, label, key).
  */
object Traverse {

  final case class TraverseStmt(direction: String, edgeLabel: Option[String],
      fromLabel: String, where: Option[Expr], maxDepth: Int,
      depthFirst: Boolean = false, limit: Option[Int] = None)

  def parse(text: String): TraverseStmt = {
    val p = new Parser.P(Parser.lex(text, dashComments = true))
    p.expectKw("TRAVERSE")
    val dir = Parser.ident(p).toLowerCase
    if (!Seq("out", "in", "both").contains(dir))
      throw ParseException(s"expected out/in/both, found $dir")
    p.expectOp("(")
    val edgeLabel = p.peek match {
      case TStr(s) => p.next(); Some(s)
      case _ => None
    }
    p.expectOp(")")
    p.expectKw("FROM")
    // `FROM (SELECT FROM type [WHERE …])` seeds from the subquery
    // (reference plainTraverse/withDepth target projections)
    var from: String = null
    var where: Option[Expr] = None
    if (p.op("(")) {
      p.expectKw("SELECT")
      p.expectKw("FROM")
      from = Parser.ident(p)
      where = if (p.kw("WHERE")) Some(Parser.parseExpr(p)) else None
      p.expectOp(")")
    } else {
      from = Parser.ident(p)
      where = if (p.kw("WHERE")) Some(Parser.parseExpr(p)) else None
    }
    var depth = Int.MaxValue
    var depthFirst = false
    var limit: Option[Int] = None
    var more = true
    while (more) {
      if (p.kw("MAXDEPTH")) depth = math.min(depth, Parser.longLit(p).toInt)
      // WHILE $depth <op> n — a bound on EMITTED nodes (withDepth: `WHILE
      // $depth < 2` visits depths 0 and 1), so < n → maxDepth n-1
      else if (p.kw("WHILE")) {
        val c = Parser.parseExpr(p)
        c match {
          case Ast.Bin("<", Ast.Ident(d), Ast.NumLit(k, _)) if d.equalsIgnoreCase("$depth") =>
            depth = math.min(depth, k.toInt - 1)
          case Ast.Bin("<=", Ast.Ident(d), Ast.NumLit(k, _)) if d.equalsIgnoreCase("$depth") =>
            depth = math.min(depth, k.toInt)
          case other => throw ParseException(s"WHILE supports \\$$depth bounds, got $other")
        }
      } else if (p.kw("STRATEGY")) {
        Parser.ident(p).toUpperCase match {
          case "BREADTH_FIRST" => depthFirst = false
          case "DEPTH_FIRST"   => depthFirst = true
          case other => throw ParseException(s"unknown strategy $other")
        }
      } else if (p.kw("LIMIT")) limit = Some(Parser.longLit(p).toInt)
      else more = false
    }
    if (p.peek != TEof) throw ParseException(s"trailing input at ${p.peek}")
    TraverseStmt(dir, edgeLabel, from, where, depth, depthFirst, limit)
  }

  /** Entry point: run a TRAVERSE statement against a property graph. */
  def query(g: PropertyGraph, text: String): DataFrame = {
    val st = parse(text)
    val seeds = st.where.foldLeft(
      g.vertices.filter(col("label") === st.fromLabel))(
      (d, w) => d.filter(Translator.toColumn(w)))
    val out =
      if (st.depthFirst) depthFirst(g, seeds, st)
      else g.traverse(seeds, st.maxDepth, st.direction, st.edgeLabel)
        .join(g.vertices, "id")
        .select(col("key"), col("label"), col("depth"))
        .orderBy("depth", "label", "key")
    st.limit.foldLeft(out)((d, n) => d.limit(n))
  }

  /** STRATEGY DEPTH_FIRST: emit in DFS pre-order. Each vertex keeps the
    * lexicographically-least id-path that first reaches it; sorting by
    * that path IS pre-order on a tree (the contract the reference's
    * depthFirstOrder test pins — sibling order is unspecified there, ours
    * is by id). Set-oriented: one distinct-join expansion per level, a
    * [[Fixpoint]] round run until the frontier dies, the path array doing
    * the ordering work a traversal stack does on a single node — no
    * driver-side iteration over rows. The visited set is the union of the
    * pinned levels. */
  private def depthFirst(g: PropertyGraph, seeds: DataFrame, st: TraverseStmt): DataFrame = {
    val e0 = st.edgeLabel.foldLeft(g.edges)((d, l) => d.filter(col("label") === l))
    val edges = (st.direction match {
      case "out"  => e0.select(col("src"), col("dst"))
      case "in"   => e0.select(col("dst").as("src"), col("src").as("dst"))
      case _      => e0.select(col("src"), col("dst"))
        .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    }).alias("e")
    val MaxPasses = 64
    val seed = seeds.select(col("id"), array(col("id")).as("__path"))
    val walk = Fixpoint(seed, Fixpoint.Until(math.min(st.maxDepth, MaxPasses)),
        Some(Fixpoint.Merge(Some(seed), (level, _) => level))) { r =>
      r.prev.alias("f")
        .join(edges, col("f.id") === col("e.src"))
        .select(col("e.dst").as("id"),
          concat(col("f.__path"), array(col("e.dst"))).as("__path"))
        .join(r.acc.get.select(col("id").as("__vid")), col("id") === col("__vid"), "left_anti")
        .groupBy("id").agg(min(col("__path")).as("__path"))
    }
    if (walk.cutOff && st.maxDepth > MaxPasses)
      throw new IllegalStateException(
        s"TRAVERSE DEPTH_FIRST exceeded $MaxPasses levels; bound it with MAXDEPTH/WHILE")
    walk.out
      .join(g.vertices, "id")
      .select(col("key"), col("label"), (size(col("__path")) - 1).as("depth"), col("__path"))
      .orderBy("__path")
      .drop("__path")
  }
}
