package graft.sql

import graft.schema.TypeCatalog
import graft.sql.Ast._
import graft.sql.Parser.{ParseException, TEof, TOp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Script control flow for the SQL dialect (reference
  * exec/ScriptExecutionPlan.java, grammar SQLParser.g4:1004-1035
  * ifStatement/foreachStatement/returnStatement; SQL batches separated by
  * `;`):
  *
  *   LET $x = <expr | (SELECT …)>;
  *   IF ($cond) { statements }
  *   FOREACH ($i IN [a, b, c]) { statements }
  *   WHILE ($cond) { statements }
  *   RETURN <expr | SELECT …>;
  *   <any SELECT / INSERT / UPDATE / DELETE>;
  *
  * Execution model mirrors the reference: statements run sequentially on
  * the driver as a control program, each body statement compiling to a
  * full distributed Spark job — the script is orchestration, never data
  * processing. LET binds script-scope variables (scalar subqueries
  * evaluate once, bounded by limit(2)); IF evaluates its condition to a
  * driver-side boolean; FOREACH substitutes each list element and runs
  * its block. The script's value is the last RETURN (or the last
  * statement's result).
  */
object Script {

  private sealed trait SStmt
  private final case class LetS(name: String, e: Expr) extends SStmt
  private final case class LetStmtS(name: String, st: Either[Select, Stmt]) extends SStmt
  private final case class IfS(cond: Expr, body: Seq[SStmt]) extends SStmt
  private final case class ForeachS(v: String, list: Expr, body: Seq[SStmt]) extends SStmt
  private final case class WhileS(cond: Expr, body: Seq[SStmt]) extends SStmt
  private final case class ReturnS(stmt: Either[Select, Expr]) extends SStmt
  private case object ReturnBareS extends SStmt
  private final case class ExprS(e: Expr) extends SStmt
  private final case class ExecS(stmt: Either[Select, Stmt]) extends SStmt
  /** BEGIN / COMMIT / ROLLBACK (reference BeginStatement.java,
    * CommitStatement.java, RollbackStatement.java + TransactionContext):
    * BEGIN snapshots every writable catalog table (paths under the state
    * dir — the source sf tables are read-only and never copied), ROLLBACK
    * restores the snapshots, COMMIT discards them. */
  private final case class TxS(op: String) extends SStmt

  // ---------------- parser ----------------

  def run(spark: SparkSession, dir: String, text: String,
      cat: TypeCatalog = TypeCatalog.default,
      fns: FunctionRegistry = new FunctionRegistry): DataFrame = {
    val p = new Parser.P(Parser.lex(text, dashComments = true))
    val prog = block(p, topLevel = true)
    if (p.peek != TEof) throw ParseException(s"trailing input at ${p.peek}")
    exec(spark, dir, cat, fns, prog)
  }

  private def block(p: Parser.P, topLevel: Boolean): Seq[SStmt] = {
    val out = Seq.newBuilder[SStmt]
    var go = true
    while (go) {
      while (p.op(";")) ()
      if (p.peek == TEof || (!topLevel && p.op("}"))) go = false
      else out += stmt(p)
    }
    out.result()
  }

  private def stmt(p: Parser.P): SStmt =
    if (p.kw("LET")) {
      val n = Parser.ident(p)
      p.expectOp("=")
      // a bare statement value — `LET $x = INSERT INTO …` / `= SELECT …` —
      // binds the statement's RESULT SET (reference Issue4915Test /
      // MethodCallClassCastTest LET shapes); parenthesized subqueries keep
      // going through parseExpr as scalar subqueries
      if (p.peekKw("SELECT") || p.peekKw("INSERT") || p.peekKw("UPDATE") || p.peekKw("DELETE"))
        LetStmtS(n, Parser.parseOneStatement(p))
      else LetS(n, Parser.parseExpr(p))
    } else if (p.kw("IF")) {
      p.expectOp("(")
      val c = Parser.parseExpr(p)
      p.expectOp(")")
      p.expectOp("{")
      IfS(c, block(p, topLevel = false))
    } else if (p.kw("FOREACH")) {
      p.expectOp("(")
      val v = Parser.ident(p)
      p.expectKw("IN")
      val list = Parser.parseExpr(p)
      p.expectOp(")")
      p.expectOp("{")
      ForeachS(v, list, block(p, topLevel = false))
    } else if (p.kw("WHILE")) {
      p.expectOp("(")
      val c = Parser.parseExpr(p)
      p.expectOp(")")
      p.expectOp("{")
      WhileS(c, block(p, topLevel = false))
    } else if (p.kw("RETURN")) {
      // bare `RETURN;` stops the script with an empty result
      // (ScriptExecutionTest.returnInIf)
      if (p.peek == TOp(";") || p.peek == TEof || p.peek == TOp("}")) ReturnBareS
      else if (p.peekKw("SELECT")) ReturnS(Left(Parser.parseSelect(p)))
      else ReturnS(Right(Parser.parseExpr(p)))
    } else if (p.kw("BEGIN")) TxS("begin")
    else if (p.kw("COMMIT")) TxS("commit")
    else if (p.kw("ROLLBACK")) TxS("rollback")
    else {
      // a bare expression is a valid SCRIPT statement — `sqrt(64);`
      // evaluates to one row, column "result" (ScriptExecutionTest
      // .functionAsStatement; the single-statement dialect still rejects it)
      val mark = p.pos
      try ExecS(Parser.parseOneStatement(p))
      catch { case _: ParseException =>
        p.pos = mark
        ExprS(Parser.parseExpr(p))
      }
    }

  // ---------------- executor ----------------

  private def exec(spark: SparkSession, dir: String, cat: TypeCatalog,
      fns: FunctionRegistry, prog: Seq[SStmt]): DataFrame = {
    var env = Map.empty[String, Expr]
    var last: DataFrame = spark.range(0).select(lit(null).as("value"))
    var returned: Option[DataFrame] = None
    var txTables: Option[Map[String, String]] = None // name → writable dir
    // LET variables bound from `SELECT … FROM <type>` remember their source
    // type so `DELETE FROM $x` (issue #3871) can delete the bound record
    // set from its backing table
    var letSources = Map.empty[String, String]

    /** Writable catalog tables: resolved path outside the read-only sf
      * dir (MutableTable copies under the state dir). */
    def writableTables(): Map[String, String] =
      cat.typeNames.flatMap { n =>
        cat(n).path.map(_(dir)).filterNot(_.startsWith(dir)).map(n -> _)
      }.toMap
    def txDir = s"/tmp/graft_state/tx_${Integer.toHexString(System.identityHashCode(this))}"

    def rs(e: Expr): Expr =
      Translator.resolveExpr(spark, dir, cat, e, env, fns.snapshot)

    // driver-side scalar evaluation of a resolved (literal-only) expression
    def evalScalar(e: Expr): Any =
      graft.OneRow(spark).select(Translator.toColumn(rs(e)).as("v")).collect()(0).get(0)

    def runBlock(stmts: Seq[SStmt]): Unit = stmts.foreach {
      case _ if returned.isDefined => ()
      case LetS(n, e) =>
        // literal collections stay AST-shaped so bracket/key access on the
        // variable keeps folding at translation (Issue4915Test's
        // `$test["name"]`); scalars evaluate once driver-side
        env += n -> (rs(e) match {
          case m: StructLit => m
          case a: ArrayLit  => a
          case other        => Resolved(evalScalar(other))
        })
      case LetStmtS(n, st) =>
        val df = st match {
          case Left(sel) =>
            if (sel.from.nonEmpty && !sel.from.contains(':')) letSources += n -> sel.from
            Translator.compile(spark, dir, cat, sel, fns.snapshot, env)
          case Right(s2) => Translator.executeDml(spark, dir, cat, s2, env)
        }
        last = df
        val rows = df.limit(10001).collect()
        if (rows.length > 10000)
          throw Translator.TranslateException("LET statement result exceeded 10000 rows")
        val asList = ArrayLit(rows.toSeq.map(row =>
          StructLit(row.schema.fieldNames.toSeq.map(f =>
            f -> (Resolved(row.getAs[Any](f)): Expr)))))
        env += n -> (if (rows.length == 1 && rows(0).size == 1)
          LetDual(Resolved(rows(0).get(0)), asList) else asList)
      case IfS(cond, body) =>
        if (evalScalar(cond) == true) runBlock(body)
      case ForeachS(v, list, body) =>
        val items: Seq[Expr] = rs(list) match {
          case ArrayLit(es) => es
          case other => evalScalar(other) match {
            case s: scala.collection.Seq[_] => s.toSeq.map(x => Resolved(x))
            case x => throw Translator.TranslateException(s"FOREACH needs a list, got $x")
          }
        }
        items.foreach { it =>
          env += v -> (it match { case r: Resolved => r; case e => Resolved(evalScalar(e)) })
          runBlock(body)
          env -= v // loop var scope ends; LETs made inside the body persist
        }
      case WhileS(cond, body) =>
        // driver-side control loop (WhileBlockExecutionTest semantics: the
        // condition re-evaluates against LETs made inside the body); the
        // guard turns a script bug into an error instead of a hang
        var guard = 0
        while (returned.isEmpty && evalScalar(cond) == true) {
          guard += 1
          if (guard > 1000000)
            throw Translator.TranslateException("WHILE exceeded 1,000,000 iterations")
          runBlock(body)
        }
      case ReturnS(Left(sel)) =>
        returned = Some(Translator.compile(spark, dir, cat, sel, fns.snapshot, env))
      case ReturnS(Right(e)) =>
        rs(e) match {
          // `RETURN [{a: 'b'}, …]` — a list of maps returns one ROW per
          // element with the map keys as columns (SQLScriptTest
          // .returnObject); LET-bound result sets re-expand the same way
          case ArrayLit(es) if es.nonEmpty && es.forall(_.isInstanceOf[StructLit]) =>
            // ONE localized relation — inline(array(struct…)) — not an
            // element-count-deep unionByName fold (a 10k-way union blows
            // up analysis time and driver memory for large LET binds)
            val structs = es.map { case StructLit(fs) => fs }
            val keys = structs.flatMap(_.map(_._1)).distinct
            val rows = structs.map { fs =>
              val m = fs.toMap
              struct(keys.map(k =>
                m.get(k).map(Translator.toColumn).getOrElse(lit(null)).as(k)): _*)
            }
            returned = Some(
              try graft.OneRow(spark).select(inline(array(rows: _*)))
              catch { case _: org.apache.spark.sql.AnalysisException =>
                // mixed types for one key across elements: array() can't
                // coerce — fall back to the lenient union (rare, small)
                es.map { case StructLit(fs) =>
                  graft.OneRow(spark).select(fs.map { case (k, v) =>
                    Translator.toColumn(v).as(k) }: _*)
                }.reduce(_.unionByName(_, allowMissingColumns = true))
              })
          case LetDual(_, l) => runBlock(Seq(ReturnS(Right(l))))
          case re =>
            returned = Some(graft.OneRow(spark).select(Translator.toColumn(re).as("value")))
        }
      case ReturnBareS =>
        returned = Some(spark.range(0).select(lit(null).as("value")))
      case ExprS(e) =>
        last = graft.OneRow(spark).select(Translator.toColumn(rs(e)).as("result"))
      case ExecS(Left(sel)) =>
        last = Translator.compile(spark, dir, cat, sel, fns.snapshot, env)
      // `DELETE FROM $x` — the variable holds a LET-bound record set; delete
      // those records from their source table by matching the bound columns
      // (reference resolves by @rid; columnar storage matches on the
      // projected columns — issue #3871's shape deletes the whole set)
      case ExecS(Right(DeleteStmt(target, None))) if target.startsWith("$") &&
          env.contains(target) && letSources.contains(target) =>
        val srcType = letSources(target)
        val rows = env(target) match {
          case LetDual(_, ArrayLit(es)) => es
          case ArrayLit(es)             => es
          case other => throw Translator.TranslateException(
            s"DELETE FROM $target needs a LET-bound result set, got $other")
        }
        val path = cat(srcType).path.getOrElse(
          throw Translator.TranslateException(s"type $srcType has no storage"))(dir)
        val tab = new graft.sources.MutableTable(spark, path)
        val cols = rows.collectFirst { case StructLit(fs) =>
          fs.map(_._1).filterNot(_.startsWith("@")) }.getOrElse(Seq.empty)
        if (cols.nonEmpty) {
          val keyTuples = rows.collect { case StructLit(fs) =>
            val m = fs.toMap
            struct(cols.map(c => Translator.toColumn(m(c)).as(c)): _*)
          }
          val n = tab.delete(array_contains(array(keyTuples: _*), struct(cols.map(col): _*)))
          last = graft.OneRow(spark).select(lit(n).as("count"))
        }
      case ExecS(Right(st)) =>
        last = Translator.executeDml(spark, dir, cat, st, env)
      case TxS("begin") =>
        val tabs = writableTables()
        // file-level snapshot (Backup.snapshotFiles): a tx checkpoint is
        // a byte copy, not a distributed re-encode — 0 Spark jobs
        graft.sources.Backup.snapshotFiles(tabs, txDir)
        txTables = Some(tabs)
      case TxS("commit") =>
        txTables = None // snapshot simply discarded
      case TxS("rollback") =>
        val tabs = txTables.getOrElse(
          throw Translator.TranslateException("ROLLBACK without BEGIN"))
        graft.sources.Backup.restoreFiles(spark, txDir, tabs)
        txTables = None
      case TxS(other) =>
        throw Translator.TranslateException(s"unknown tx op $other")
    }
    runBlock(prog)
    returned.getOrElse(last)
  }
}
