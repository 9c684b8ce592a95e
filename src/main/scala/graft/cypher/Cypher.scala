package graft.cypher

import graft.graph.{Fixpoint, PropertyGraph}
import graft.sql.{Ast, Parser}
import graft.sql.Ast._
import graft.sql.Parser.{ParseException, TEof, TId, TOp}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** openCypher front-end (the reference's second primary query surface —
  * query/opencypher/planner/CypherExecutionPlanner.java:44, grammar
  * Cypher25Parser.g4; SURVEY.md §3.2).
  *
  * Supported clause pipeline: any sequence of
  *   - `MATCH` / `OPTIONAL MATCH` pattern chains
  *     `(a:label {k: v})-[r:type]->(b)` (both directions, multi-hop,
  *     variable-length `*lo..hi`, inline property predicates, named
  *     relationship variables whose properties project as `r.prop`),
  *     with an optional trailing `WHERE`;
  *   - `WITH [DISTINCT] item, ... [WHERE ...]` — horizon projection with
  *     Cypher's implicit grouping (reference cy/steps — aggregates in the
  *     WITH list group by the non-aggregates; a bare pattern variable
  *     carries ALL its columns through so later clauses can keep
  *     expanding from it); the trailing WHERE filters the projected rows
  *     (openCypher's HAVING analog);
  *   - `UNWIND expr AS x` (reference cy/steps/UnwindStep.java:54) —
  *     explodes a list expression into one row per element;
  * terminated by `RETURN [DISTINCT]` with implicit grouping, `ORDER BY`,
  * `SKIP`, `LIMIT`. Expressions reuse the dialect expression parser
  * (`a.key`, functions, count(DISTINCT …), list literals `[...]`).
  *
  * Translation: each pattern chain becomes vertices⋈edges⋈vertices joins
  * over the [[PropertyGraph]] DataFrames with per-variable column
  * prefixes (`v_id`, `v_key`, …; relationship variables contribute
  * `r_<prop>` columns); a later clause joins its chain to the accumulated
  * frame on the shared variables' id columns (left_outer when OPTIONAL).
  * WITH is a groupBy/select on the accumulated frame — a pure horizon cut,
  * no materialization. Catalyst then owns join strategy — broadcast for
  * small anchors, shuffle-hash otherwise — the distributed replacement for
  * the reference's cost-based expansion-order rule
  * (optimizer/rules/JoinOrderRule.java:58).
  */
object Cypher {

  final case class NodePat(varName: Option[String], label: Option[String],
      props: Seq[(String, Expr)] = Seq.empty,
      /** an inline `{…}` was present even if empty — `CREATE (n {})` on a
        * bound variable is VariableAlreadyBound like any other predicate
        * (TCK Create1 [19]), while plain `(n)` is a legal reuse. */
      bracedProps: Boolean = false)
  /** `hops = None` → single edge; `Some((lo, hi))` → variable-length
    * `*lo..hi` (walk semantics: edge composition, matching a recursive-CTE
    * oracle; openCypher's relationship-uniqueness is not enforced).
    * `varName` (single-hop only) exposes edge properties as `r_<prop>`.
    * `direction`: "out" (`->`), "in" (`<-`), or "both" (undirected `-`,
    * matching the edge in either orientation). `props`: inline `{k: v}`
    * predicate in a read pattern, property values in a CREATE pattern. */
  final case class RelPat(varName: Option[String], relType: Option[String],
      direction: String, hops: Option[(Int, Int)] = None,
      props: Seq[(String, Expr)] = Seq.empty)
  final case class PatternChain(nodes: Seq[NodePat], rels: Seq[RelPat], optional: Boolean)
  /** `raw` = the item's verbatim source span (openCypher: an unaliased
    * column is labeled with its source text, case and spacing intact). */
  final case class ReturnItem(expr: Expr, alias: Option[String],
      raw: Option[String] = None)

  sealed trait Clause
  /** `patternPreds`: WHERE pattern predicates `(n)-[:T]->(...)` (negated
    * flag for `NOT (...)`) — compiled to semi/anti joins on the bound
    * variables' identities. `pathBinds`: named plain paths
    * `p = (a)-[:T]->(b)` — the chain is recorded so path functions
    * `nodes(p)/relationships(p)/length(p)` can resolve statically. */
  final case class MatchC(chains: Seq[PatternChain], where: Option[Expr],
      patternPreds: Seq[(PatternChain, Boolean)] = Seq.empty,
      pathBinds: Seq[(String, PatternChain)] = Seq.empty) extends Clause
  /** `CALL ns.proc(args) [YIELD col [AS alias], …]` — procedure invocation
    * (reference query/opencypher/executor/steps/CallStep.java:48, registry
    * function/procedure/ProcedureRegistry.java). The procedure returns a
    * DataFrame; YIELD projects/renames its columns into the horizon. */
  final case class CallC(name: String, args: Seq[Expr],
      yields: Seq[(String, Option[String])]) extends Clause
  final case class WithC(items: Seq[ReturnItem], distinct: Boolean,
      where: Option[Expr], orderBy: Seq[OrderItem] = Seq.empty,
      skip: Option[Expr] = None, limit: Option[Expr] = None) extends Clause
  final case class UnwindC(expr: Expr, alias: String) extends Clause
  /** `LOAD CSV [WITH HEADERS] FROM 'url' AS var [FIELDTERMINATOR 'c']` —
    * streams CSV rows into the pattern pipeline (reference
    * cy/steps/LoadCSVStep.java:61). With headers the row variable is a
    * struct keyed by header name (`row.name`); without, an array indexed
    * positionally (`row[0]`). All cells are strings, per openCypher. */
  final case class LoadCsvC(url: String, headers: Boolean, alias: String,
      sep: String) extends Clause
  /** `MATCH p = shortestPath((a)-[:T*lo..hi]-(b))` — min-depth BFS from
    * the `a` anchor set; binds `b`'s columns plus `p.length` (the
    * reference supports openCypher's `length(p)`; this dialect projects
    * the path length as a property of the path variable). */
  final case class ShortestPathC(pathVar: String, chain: PatternChain) extends Clause

  /** Write clauses (reference Cypher CREATE/MERGE/SET/DELETE — the
    * opencypher planner's write steps over MutableVertex/GraphEngine).
    * Only [[Cypher.execute]] accepts these; [[Cypher.query]] rejects them. */
  sealed trait WriteClause extends Clause
  final case class CreateC(chains: Seq[PatternChain]) extends WriteClause
  final case class MergeC(chain: PatternChain,
      onCreate: SetC = SetC(Seq.empty), onMatch: SetC = SetC(Seq.empty),
      pathVar: Option[String] = None) extends WriteClause
  final case class SetItem(varName: String, prop: String, value: Expr)
  /** `SET v:A:B` / `REMOVE v:A` — label add/remove on a bound node. */
  final case class SetLabelItem(varName: String, labels: Seq[String], remove: Boolean)
  /** `SET v = map` / `SET v += map` — whole-property replace / merge. */
  final case class SetAllItem(varName: String, value: Expr, additive: Boolean)
  final case class SetC(items: Seq[SetItem],
      labelItems: Seq[SetLabelItem] = Seq.empty,
      allItems: Seq[SetAllItem] = Seq.empty) extends WriteClause
  final case class DeleteC(targets: Seq[Expr], detach: Boolean) extends WriteClause
  /** `FOREACH (x IN list | SET/CREATE/DELETE …)` — list-driven write
    * clause (openCypher Cypher25Parser.g4 foreach). The list is exploded
    * over the horizon (one distributed frame, no driver loop) and each
    * body clause applies per element. */
  final case class ForeachC(varName: String, list: Expr,
      body: Seq[WriteClause]) extends WriteClause

  final case class CypherQuery(
      clauses: Seq[Clause],
      items: Seq[ReturnItem],
      distinct: Boolean,
      orderBy: Seq[OrderItem],
      skip: Option[Expr],
      limit: Option[Expr],
      /** `UNION [ALL] <next query>` — the flag is true for UNION ALL.
        * openCypher's trailing ORDER BY/SKIP/LIMIT (written on the last
        * branch) modify the COMBINED result; compile() hoists them. */
      union: Option[(Boolean, CypherQuery)] = None)

  // ---------------- parser ----------------

  /** Pattern-comprehension hook for the shared expression parser: called
    * with the cursor just past `[`; recognizes `[(a)-[:T]->(b) [WHERE p]
    * | m]` and backtracks (returning None) on anything else so ordinary
    * list literals/comprehensions still parse. */
  private val patternCompExt: Parser.P => Option[Expr] = p => {
    val mark = p.pos
    // optional comprehension-local path binding `[p = (a)-->(b) | …]`
    // (Cypher25Parser.g4 patternComprehension's pathAssignment)
    val pathVar = (p.peek, p.peekAt(1)) match {
      case (TId(v), TOp("=")) => p.next(); p.next(); Some(v)
      case _ => None
    }
    if (p.peek != TOp("(")) { p.pos = mark; None }
    else {
      try {
        val chain = parseChain(p, optional = false)
        if (chain.rels.isEmpty) { p.pos = mark; None }
        else {
          val w = if (p.kw("WHERE")) Some(Parser.parseExpr(p)) else None
          if (p.op("|")) {
            val m = Parser.parseExpr(p)
            p.expectOp("]")
            Some(Ast.PatternComp(chain, w, m, pathVar))
          } else { p.pos = mark; None }
        }
      } catch { case _: ParseException => p.pos = mark; None }
    }
  }

  /** `EXISTS { <pattern> [WHERE p] }` / `COUNT { <pattern> [WHERE p] }`
    * (Cypher25Parser.g4 existsExpression / countExpression) — desugared to
    * a pattern comprehension: COUNT = size of the per-anchor match list,
    * EXISTS = that size > 0. The pipeline turns the comprehension into one
    * grouped collect + one left join on the anchor variables. */
  /** Fallback for a MULTI-CLAUSE subquery body (`EXISTS { MATCH … WITH …
    * RETURN … }`): capture the balanced-brace span VERBATIM — it is a
    * standalone query with its own scope, compiled later by the pipeline
    * correlated on the outer variables it references (ExistsSub). */
  private def captureBraceBody(p: Parser.P, mark: Int, isCount: Boolean): Option[Expr] = {
    if (p.src == null) return None
    p.pos = mark
    if (!p.op("{")) return None
    val startTok = p.pos
    // body must be a clause pipeline (reject plain map literals `{a: 1}`)
    val headOk = p.peek match {
      case Parser.TId(id) =>
        Set("MATCH", "OPTIONAL", "WITH", "UNWIND")(id.toUpperCase)
      case _ => false
    }
    if (!headOk) { p.pos = mark; return None }
    var depth = 1
    while (depth > 0) {
      p.peek match {
        case Parser.TEof => p.pos = mark; return None
        case Parser.TOp("{") => depth += 1; p.next()
        case Parser.TOp("}") => depth -= 1; if (depth > 0) p.next()
        case _ => p.next()
      }
    }
    val body = p.spanFrom(startTok)
    p.next() // the closing '}'
    Some(Ast.ExistsSub(body, isCount))
  }

  private val existsCountExt: (Parser.P, Expr) => Option[Expr] = (p, target) =>
    target match {
      case Ident(n) if n.equalsIgnoreCase("EXISTS") || n.equalsIgnoreCase("COUNT") =>
        val mark = p.pos
        try {
          p.expectOp("{")
          // full existential subquery form (TCK ExistentialSubquery2):
          // `EXISTS { MATCH <pattern> [WHERE w] [RETURN expr] }` — the
          // MATCH keyword and a constant RETURN tail are surface sugar
          // over the pattern-comprehension desugaring (existence is
          // match-list non-emptiness either way). Multi-clause bodies
          // (WITH pipelines) are not expressible as one comprehension.
          val hadMatch = p.kw("MATCH")
          val chain = parseChain(p, optional = false)
          if (chain.rels.isEmpty)
            captureBraceBody(p, mark, n.equalsIgnoreCase("COUNT"))
              .orElse { p.pos = mark; None }
          else {
            val w = if (p.kw("WHERE")) Some(Parser.parseExpr(p)) else None
            // consume the whole projection list (`RETURN a, b` / `RETURN *`)
            // — only non-emptiness matters for EXISTS/COUNT, but leaving a
            // comma/star unconsumed would make expectOp("}") throw and the
            // whole block silently backtrack into an unrelated parse error
            if (hadMatch && p.kw("RETURN")) {
              if (!p.op("*")) {
                Parser.parseExpr(p)
                while (p.op(",")) Parser.parseExpr(p)
              }
            }
            p.expectOp("}")
            val sizeE = FnCall("size",
              Seq(Ast.PatternComp(chain, w, NumLit(BigDecimal(1), isIntegral = true))))
            Some(if (n.equalsIgnoreCase("COUNT")) sizeE
              else Bin(">", sizeE, NumLit(BigDecimal(0), isIntegral = true)))
          }
        } catch { case _: ParseException =>
          captureBraceBody(p, mark, n.equalsIgnoreCase("COUNT"))
            .orElse { p.pos = mark; None }
        }
      case _ => None
    }

  /** A pattern chain in general boolean position (`… OR (a)-[:T]->(b)`,
    * TCK MatchWhere4 [2]) desugars to the EXISTS form — `size(pattern
    * comprehension) > 0` — which the pipeline resolves as one grouped
    * collect + left join on the anchor variables. Conjunctive top-level
    * patterns still take the cheaper semi-join path in parseMatchWhere.
    * The hook is called just past a consumed `(`; a parenthesized
    * ordinary expression or a rel-less `(a)` backtracks to core parsing. */
  private val patternPredExt: Parser.P => Option[Expr] = p => {
    val start = p.pos - 1 // rewind onto the '(' — parseChain expects it
    p.pos = start
    try {
      val chain = parseChain(p, optional = false)
      if (chain.rels.isEmpty) { p.pos = start + 1; None }
      else Some(Bin(">",
        FnCall("size",
          Seq(Ast.PatternComp(chain, None, NumLit(BigDecimal(1), isIntegral = true),
            pathVar = None, bare = true))),
        NumLit(BigDecimal(0), isIntegral = true)))
    } catch { case _: ParseException => p.pos = start + 1; None }
  }

  def parse(text: String): CypherQuery = graft.StatementCache.cached("cypher", text) {
    Parser.bracketExt.set(patternCompExt)
    Parser.braceExt.set(existsCountExt)
    Parser.parenExt.set(patternPredExt)
    Parser.labelTestExt.set(true)
    try parseImpl(text) finally {
      Parser.bracketExt.remove()
      Parser.braceExt.remove()
      Parser.parenExt.remove()
      Parser.labelTestExt.remove()
    }
  }

  private def parseImpl(text: String): CypherQuery = {
    val (toks, offs) = Parser.lexWithOffsets(text)
    val p = new Parser.P(toks)
    p.src = text
    p.offs = offs
    val q = parseQuery(p)
    if (p.peek != TEof) throw ParseException(s"trailing input at ${p.peek}")
    q
  }

  private def parseQuery(p: Parser.P): CypherQuery = {
    val clauses = Seq.newBuilder[Clause]
    var done = false
    var hasReturn = false
    while (!done) {
      if (p.peek == TEof) done = true // write-only query: no RETURN
      else if (p.kw("RETURN")) { done = true; hasReturn = true }
      else if (p.kw("CREATE")) {
        val chains = Seq.newBuilder[PatternChain]
        chains += parseChain(p, optional = false)
        while (p.op(",")) chains += parseChain(p, optional = false)
        clauses += CreateC(chains.result())
      } else if (p.kw("MERGE")) {
        // `MERGE p = (a)-[:R]->(b)` binds the merged pattern as a path
        // (TCK Merge1 [13], Merge5 [10]) — same `ident =` lookahead as MATCH
        val mark = p.pos
        val mergePathVar = p.peek match {
          case TId(s) =>
            p.next()
            if (p.op("=")) Some(s) else { p.pos = mark; None }
          case _ => None
        }
        val chain = parseChain(p, optional = false)
        var onCreate = SetC(Seq.empty)
        var onMatch = SetC(Seq.empty)
        while (p.kw("ON")) {
          val isCreate = p.kw("CREATE")
          if (!isCreate) p.expectKw("MATCH")
          p.expectKw("SET")
          val sc = parseSetClause(p)
          if (isCreate) onCreate = sc else onMatch = sc
        }
        clauses += MergeC(chain, onCreate, onMatch, mergePathVar)
      } else if (p.kw("SET")) {
        clauses += parseSetClause(p)
      } else if (p.kw("REMOVE")) {
        // REMOVE n.prop — property removal = SET to null (columnar
        // storage has no "absent" distinct from null); REMOVE n:Label
        // drops the label from the node's label set
        val items = Seq.newBuilder[SetItem]
        val labels = Seq.newBuilder[SetLabelItem]
        var more = true
        while (more) {
          val v = Parser.ident(p)
          if (p.op(":")) {
            val ls = Seq.newBuilder[String]
            ls += Parser.ident(p)
            while (p.op(":")) ls += Parser.ident(p)
            labels += SetLabelItem(v, ls.result(), remove = true)
          } else {
            p.expectOp(".")
            items += SetItem(v, Parser.ident(p), Ast.NullLit)
          }
          more = p.op(",")
        }
        clauses += SetC(items.result(), labels.result())
      } else if (p.kw("DETACH")) {
        p.expectKw("DELETE")
        val ts = Seq.newBuilder[Expr]
        ts += Parser.parseExpr(p)
        while (p.op(",")) ts += Parser.parseExpr(p)
        clauses += DeleteC(ts.result(), detach = true)
      } else if (p.kw("DELETE")) {
        val ts = Seq.newBuilder[Expr]
        ts += Parser.parseExpr(p)
        while (p.op(",")) ts += Parser.parseExpr(p)
        clauses += DeleteC(ts.result(), detach = false)
      }
      else if (p.kw("CALL")) {
        // CALL ns.proc(args) [YIELD col [AS alias], ...]
        val name = new StringBuilder(Parser.ident(p))
        while (p.op(".")) { name += '.'; name ++= Parser.ident(p) }
        val args =
          if (p.op("(")) {
            if (p.op(")")) Seq.empty
            else { val a = Parser.parseExprList(p); p.expectOp(")"); a }
          } else Seq.empty
        val yields = if (p.kw("YIELD")) {
          if (p.op("*")) Seq(("*", None)) // YIELD * — full output surface
          else {
            val b = Seq.newBuilder[(String, Option[String])]
            var more = true
            while (more) {
              val n = Parser.ident(p)
              val al = if (p.kw("AS")) Some(Parser.ident(p)) else None
              b += n -> al
              more = p.op(",")
            }
            b.result()
          }
        } else Seq.empty
        clauses += CallC(name.toString, args, yields)
      }
      else if (p.peekKw("MATCH") || p.peekKw("OPTIONAL")) {
        val optional = p.kw("OPTIONAL")
        p.expectKw("MATCH")
        // `p = shortestPath(...)` / `p = (a)-[...]->(b)` — one-token
        // lookahead for `ident =`
        val mark = p.pos
        val spVar = p.peek match {
          case TId(s) if !s.equalsIgnoreCase("shortestPath") =>
            p.next()
            if (p.op("=")) Some(s) else { p.pos = mark; None }
          case _ => None
        }
        if (spVar.isDefined && !p.peekKw("SHORTESTPATH")) {
          // named plain path: record the chain for nodes()/length()/
          // relationships() resolution; otherwise an ordinary MATCH
          val chain = parseChain(p, optional)
          val chains = Seq.newBuilder[PatternChain]
          chains += chain
          while (p.op(",")) chains += parseChain(p, optional)
          val (where, pats) =
            if (p.kw("WHERE")) parseMatchWhere(p) else (None, Seq.empty)
          clauses += MatchC(chains.result(), where, pats, Seq(spVar.get -> chain))
        } else if (spVar.isDefined) {
          p.expectKw("SHORTESTPATH")
          p.expectOp("(")
          val chain = parseChain(p, optional = false)
          p.expectOp(")")
          clauses += ShortestPathC(spVar.get, chain)
        } else {
          val chains = Seq.newBuilder[PatternChain]
          chains += parseChain(p, optional)
          while (p.op(",")) chains += parseChain(p, optional)
          val (where, pats) =
            if (p.kw("WHERE")) parseMatchWhere(p) else (None, Seq.empty)
          clauses += MatchC(chains.result(), where, pats)
        }
      } else if (p.kw("WITH")) {
        val distinct = p.kw("DISTINCT")
        val items = Seq.newBuilder[ReturnItem]
        items += parseItem(p)
        while (p.op(",")) items += parseItem(p)
        // openCypher clause order: WITH … [ORDER BY] [SKIP] [LIMIT] [WHERE]
        val orderBy = if (p.kw("ORDER")) {
          p.expectKw("BY")
          val b = Seq.newBuilder[OrderItem]
          var more = true
          while (more) {
            val e = Parser.parseExpr(p)
            val asc = if (p.kw("DESC") || p.kw("DESCENDING")) false
              else { if (!p.kw("ASC")) p.kw("ASCENDING"); true }
            b += OrderItem(e, asc)
            more = p.op(",")
          }
          b.result()
        } else Seq.empty
        val skip = if (p.kw("SKIP")) Some(Parser.parseExpr(p)) else None
        val limit = if (p.kw("LIMIT")) Some(Parser.parseExpr(p)) else None
        val where = if (p.kw("WHERE")) Some(Parser.parseExpr(p)) else None
        clauses += WithC(items.result(), distinct, where, orderBy, skip, limit)
      } else if (p.kw("UNWIND")) {
        val e = Parser.parseExpr(p)
        p.expectKw("AS")
        clauses += UnwindC(e, Parser.ident(p))
      } else if (p.kw("LOAD")) {
        p.expectKw("CSV")
        val headers = if (p.kw("WITH")) { p.expectKw("HEADERS"); true } else false
        p.expectKw("FROM")
        val url = stringTok(p)
        p.expectKw("AS")
        val alias = Parser.ident(p)
        val sep = if (p.kw("FIELDTERMINATOR")) stringTok(p) else ","
        clauses += LoadCsvC(url, headers, alias, sep)
      } else if (p.kw("FOREACH")) {
        p.expectOp("(")
        val v = Parser.ident(p)
        p.expectKw("IN")
        val list = Parser.parseExpr(p)
        p.expectOp("|")
        val body = Seq.newBuilder[WriteClause]
        var more = true
        while (more) {
          if (p.kw("SET")) body += SetC(parseSetItems(p))
          else if (p.kw("CREATE")) {
            val chains = Seq.newBuilder[PatternChain]
            chains += parseChain(p, optional = false)
            while (p.op(",")) chains += parseChain(p, optional = false)
            body += CreateC(chains.result())
          } else if (p.kw("DETACH")) {
            p.expectKw("DELETE")
            val ts = Seq.newBuilder[Expr]
            ts += Ident(Parser.ident(p))
            while (p.op(",")) ts += Ident(Parser.ident(p))
            body += DeleteC(ts.result(), detach = true)
          } else if (p.kw("DELETE")) {
            val ts = Seq.newBuilder[Expr]
            ts += Ident(Parser.ident(p))
            while (p.op(",")) ts += Ident(Parser.ident(p))
            body += DeleteC(ts.result(), detach = false)
          } else more = false
        }
        p.expectOp(")")
        if (body.result().isEmpty)
          throw ParseException("FOREACH body needs at least one update clause")
        clauses += ForeachC(v, list, body.result())
      } else throw ParseException(s"expected MATCH/WITH/UNWIND/CALL/CREATE/MERGE/SET/DELETE/RETURN, found ${p.peek}")
    }
    if (!hasReturn)
      return CypherQuery(clauses.result(), Seq.empty, distinct = false, Seq.empty, None, None)
    val distinct = p.kw("DISTINCT")
    val items = Seq.newBuilder[ReturnItem]
    items += parseItem(p)
    while (p.op(",")) items += parseItem(p)
    val orderBy = if (p.kw("ORDER")) {
      p.expectKw("BY")
      val b = Seq.newBuilder[OrderItem]
      var more = true
      while (more) {
        val e = Parser.parseExpr(p)
        val asc = if (p.kw("DESC") || p.kw("DESCENDING")) false
          else { if (!p.kw("ASC")) p.kw("ASCENDING"); true }
        b += OrderItem(e, asc)
        more = p.op(",")
      }
      b.result()
    } else Seq.empty
    val skip = if (p.kw("SKIP")) Some(Parser.parseExpr(p)) else None
    val limit = if (p.kw("LIMIT")) Some(Parser.parseExpr(p)) else None
    val union = if (p.kw("UNION")) {
      val all = p.kw("ALL")
      Some((all, parseQuery(p)))
    } else None
    CypherQuery(clauses.result(), items.result(), distinct, orderBy, skip, limit, union)
  }

  private def stringTok(p: Parser.P): String = p.next() match {
    case Parser.TStr(s) => s
    case other => throw ParseException(s"expected string literal, found $other")
  }

  /** Full SET clause: property assignments, label additions, and
    * whole-map replace/merge forms. */
  private def parseSetClause(p: Parser.P): SetC = {
    val items = Seq.newBuilder[SetItem]
    val labels = Seq.newBuilder[SetLabelItem]
    val alls = Seq.newBuilder[SetAllItem]
    var more = true
    while (more) {
      // `SET (n).prop = …` — parenthesized target (TCK Set1 [3][4])
      val paren = p.op("(")
      val v = Parser.ident(p)
      if (paren) p.expectOp(")")
      if (p.op(".")) {
        val prop = Parser.ident(p)
        p.expectOp("=")
        items += SetItem(v, prop, Parser.parseExpr(p))
      } else if (p.op(":")) {
        val ls = Seq.newBuilder[String]
        ls += Parser.ident(p)
        while (p.op(":")) ls += Parser.ident(p)
        labels += SetLabelItem(v, ls.result(), remove = false)
      } else if (p.op("+")) {
        p.expectOp("=")
        alls += SetAllItem(v, Parser.parseExpr(p), additive = true)
      } else if (p.op("=")) {
        alls += SetAllItem(v, Parser.parseExpr(p), additive = false)
      } else throw ParseException(s"expected '.', ':', '=' or '+=' after SET $v")
      more = p.op(",")
    }
    SetC(items.result(), labels.result(), alls.result())
  }

  private def parseSetItems(p: Parser.P): Seq[SetItem] = {
    val items = Seq.newBuilder[SetItem]
    var more = true
    while (more) {
      val v = Parser.ident(p)
      p.expectOp(".")
      val prop = Parser.ident(p)
      p.expectOp("=")
      items += SetItem(v, prop, Parser.parseExpr(p))
      more = p.op(",")
    }
    items.result()
  }

  private def parseItem(p: Parser.P): ReturnItem = {
    // `WITH *` / `RETURN *`: all variables in scope (expanded at
    // compile time against the pipeline's variable sets)
    if (p.op("*")) return ReturnItem(Ident("*"), None)
    val start = p.pos
    val e = Parser.parseExpr(p)
    val raw = if (p.src != null) Some(p.spanFrom(start)) else None
    val alias = if (p.kw("AS")) Some(Parser.ident(p)) else None
    ReturnItem(e, alias, raw)
  }

  /** MATCH-WHERE with openCypher pattern predicates: the clause is split
    * into top-level AND conjuncts (BETWEEN…AND and CASE…END tracked so
    * their keywords don't split or terminate the scan); each conjunct is
    * either `[NOT] (n)-[…]->(…)` — a pattern predicate — or an ordinary
    * boolean expression. Pattern predicates under OR are not supported
    * (the reference's planner also rewrites only the conjunctive form
    * into semi-joins). */
  private def parseMatchWhere(p: Parser.P)
      : (Option[Expr], Seq[(PatternChain, Boolean)]) = {
    import Parser.{TId, TOp, TEof, Tok}
    val stop = Set("RETURN", "WITH", "MATCH", "OPTIONAL", "UNWIND", "CREATE",
      "MERGE", "SET", "DELETE", "DETACH", "REMOVE", "ON")
    // 1. slice the WHERE token stream on top-level ANDs. A top-level OR
    // disables slicing entirely: `A AND pat1 OR pat2` must parse as
    // `(A AND pat1) OR pat2` (Cypher precedence), with the patterns
    // desugared inline by the parenExt hook — conjunct slicing would
    // silently regroup it (TCK MatchWhere4 [2]).
    val slices = scala.collection.mutable.Buffer[(Vector[Tok], Vector[Int])]()
    val all = Vector.newBuilder[Tok]
    val allOffs = Vector.newBuilder[Int]
    var topLevelOr = false
    var cur = Vector.newBuilder[Tok]
    var curOffs = Vector.newBuilder[Int]
    var depth = 0; var caseDepth = 0; var betweenPending = 0
    var done = false
    def off: Int = if (p.offs == null) 0 else p.offs(p.pos)
    // `STARTS WITH` / `ENDS WITH`: the WITH belongs to the predicate, not
    // to a following WITH clause — track the previous significant token
    var prevId = ""
    while (!done) p.peek match {
      case TEof => done = true
      case TId(id) if depth == 0 && caseDepth == 0 && stop(id.toUpperCase) &&
          !(id.equalsIgnoreCase("WITH") &&
            (prevId.equalsIgnoreCase("STARTS") || prevId.equalsIgnoreCase("ENDS"))) =>
        done = true
      case t =>
        val o = off
        p.next()
        all += t; allOffs += o
        def keep(): Unit = { cur += t; curOffs += o }
        t match {
          case TOp("(") | TOp("[") | TOp("{") => depth += 1; keep()
          case TOp(")") | TOp("]") | TOp("}") => depth -= 1; keep()
          case TId(id) if id.equalsIgnoreCase("CASE") => caseDepth += 1; keep()
          case TId(id) if id.equalsIgnoreCase("END")  => caseDepth -= 1; keep()
          case TId(id) if id.equalsIgnoreCase("BETWEEN") => betweenPending += 1; keep()
          case TId(id) if id.equalsIgnoreCase("OR") && depth == 0 && caseDepth == 0 =>
            topLevelOr = true; keep()
          case TId(id) if id.equalsIgnoreCase("AND") && depth == 0 && caseDepth == 0 =>
            if (betweenPending > 0) { betweenPending -= 1; keep() }
            else {
              slices += ((cur.result(), curOffs.result()))
              cur = Vector.newBuilder[Tok]; curOffs = Vector.newBuilder[Int]
            }
          case _ => keep()
        }
        prevId = t match { case TId(id) => id; case _ => "" }
    }
    slices += ((cur.result(), curOffs.result()))
    val endOff = off
    // slice parsers carry the ORIGINAL source + per-token offsets so
    // verbatim-span capture (multi-clause EXISTS bodies) keeps working
    def sliceP(toks: Vector[Tok], offs: Vector[Int]): Parser.P = {
      val sp = new Parser.P(toks :+ TEof)
      if (p.src != null && p.offs != null) {
        sp.src = p.src
        sp.offs = offs :+ endOff
      }
      sp
    }
    if (topLevelOr) {
      val ep = sliceP(all.result(), allOffs.result())
      val e = Parser.parseExpr(ep)
      if (ep.peek != TEof)
        throw ParseException(s"trailing input in WHERE at ${ep.peek}")
      return (Some(e), Seq.empty)
    }
    // 2. classify each conjunct
    val exprs = scala.collection.mutable.Buffer[Expr]()
    val pats = scala.collection.mutable.Buffer[(PatternChain, Boolean)]()
    for ((slice, offs) <- slices) {
      val sp = sliceP(slice, offs)
      val neg = sp.kw("NOT")
      val asPattern =
        if (sp.peek == TOp("(")) {
          val mark = sp.pos
          try {
            val ch = parseChain(sp, optional = false)
            if (ch.rels.nonEmpty && sp.peek == TEof) { pats += ((ch, neg)); true }
            else { sp.pos = mark; false }
          } catch { case _: Parser.ParseException => sp.pos = mark; false }
        } else false
      if (!asPattern) {
        val ep = sliceP(slice, offs) // reparse incl. any NOT
        exprs += Parser.parseExpr(ep)
        if (ep.peek != TEof)
          throw ParseException(s"trailing input in WHERE conjunct at ${ep.peek}")
      }
    }
    (exprs.reduceOption(Bin("AND", _, _)), pats.toSeq)
  }

  private def parseChain(p: Parser.P, optional: Boolean): PatternChain = {
    val nodes = Seq.newBuilder[NodePat]
    val rels = Seq.newBuilder[RelPat]
    nodes += parseNode(p)
    var go = true
    while (go) {
      if (p.op("-")) {
        if (p.op("-")) {
          // anonymous edge: --> or -- (undirected)
          val dir = if (p.op(">")) "out" else "both"
          rels += RelPat(None, None, dir)
          nodes += parseNode(p)
        } else {
          // -[r:type*lo..hi {k: v}]-> / -[r:type]- (no '>' → undirected)
          p.expectOp("[")
          val v = p.peek match { case TId(s) => p.next(); Some(s); case _ => None }
          val t = parseRelTypes(p)
          val hops = parseHops(p)
          val props = parseProps(p)._1
          p.expectOp("]")
          p.expectOp("-")
          val dir = if (p.op(">")) "out" else "both"
          rels += RelPat(v, t, dir, hops, props)
          nodes += parseNode(p)
        }
      } else if (p.op("<")) {
        // <-[r:type]- or anonymous <--
        p.expectOp("-")
        if (p.op("-")) {
          // <-- or <--> (arrows both ways = either orientation)
          val dir = if (p.op(">")) "both" else "in"
          rels += RelPat(None, None, dir)
          nodes += parseNode(p)
        } else {
          p.expectOp("[")
          val v = p.peek match { case TId(s) => p.next(); Some(s); case _ => None }
          val t = parseRelTypes(p)
          val hops = parseHops(p)
          val props = parseProps(p)._1
          p.expectOp("]")
          p.expectOp("-")
          // `<-[r]->` — arrows on both ends match either orientation
          val dir = if (p.op(">")) "both" else "in"
          rels += RelPat(v, t, dir, hops, props)
          nodes += parseNode(p)
        }
      } else go = false
    }
    PatternChain(nodes.result(), rels.result(), optional)
  }

  /** `:A`, `:A|B`, `:A|:B` — alternative relationship types, "|"-joined
    * (matching is membership, see relTypePred). */
  private def parseRelTypes(p: Parser.P): Option[String] =
    if (p.op(":")) {
      val ts = Seq.newBuilder[String]
      ts += Parser.ident(p)
      while (p.op("|")) { p.op(":"); ts += Parser.ident(p) }
      Some(ts.result().mkString("|"))
    } else None

  /** `*`, `*n`, `*lo..hi`, `*lo..`, `*..hi`. Unbounded ends take the
    * compose cap (8) — the TCK graphs and any sane OLAP traversal sit
    * far below it; a true fixpoint expansion is `TRAVERSE`'s job. */
  /** Open upper bound (`*`, `*2..`): Int.MaxValue — the expansion layer
    * walks adaptively until the frontier dies (edge-distinctness bounds
    * every walk by |E|, so termination is structural). */
  private def parseHops(p: Parser.P): Option[(Int, Int)] =
    if (p.op("*")) {
      p.peek match {
        case Parser.TNum(s) =>
          p.next()
          if (p.op("..")) {
            p.peek match {
              case Parser.TNum(h) => p.next(); Some((s.toInt, h.toInt))
              case _ => Some((s.toInt, Int.MaxValue))
            }
          } else Some((s.toInt, s.toInt))
        case TOp("..") =>
          p.next()
          p.peek match {
            case Parser.TNum(h) => p.next(); Some((1, h.toInt))
            case _ => Some((1, Int.MaxValue))
          }
        case _ => Some((1, Int.MaxValue))
      }
    } else None

  /** Inline property map `{k: expr, ...}` (empty when absent). */
  /** Inline `{k: v, …}` props; the Boolean reports whether braces were
    * PRESENT — `{}` is a legal (vacuous) prop filter, consumed here so
    * `(a {})` stays a NODE PATTERN (e.g. `size((a)<--(a {}))` reaches the
    * bare-pattern rejection instead of backtracking into a comparison
    * parse that silently succeeds — TCK List6 [6] #4), yet distinguishable
    * from plain `(a)` for CREATE's rebind discipline (Create1 [19]). */
  private def parseProps(p: Parser.P): (Seq[(String, Expr)], Boolean) =
    if (p.op("{")) {
      if (p.op("}")) (Seq.empty, true)
      else {
        val b = Seq.newBuilder[(String, Expr)]
        var more = true
        while (more) {
          val k = Parser.ident(p)
          p.expectOp(":")
          b += k -> Parser.parseExpr(p)
          more = p.op(",")
        }
        p.expectOp("}")
        (b.result(), true)
      }
    } else (Seq.empty, false)

  private def parseNode(p: Parser.P): NodePat = {
    p.expectOp("(")
    val v = p.peek match {
      case TId(s) => p.next(); Some(s)
      case _ => None
    }
    // `:A:B:C` — a multi-label conjunction, stored sorted and ":"-joined
    // (the single-string label column holds the label SET; matching is
    // set-containment, see labelPred)
    val labels = Seq.newBuilder[String]
    while (p.op(":")) labels += Parser.ident(p)
    val ls = labels.result()
    val label = if (ls.isEmpty) None else Some(ls.sorted.mkString(":"))
    val (props, braced) = parseProps(p)
    p.expectOp(")")
    NodePat(v, label, props, bracedProps = braced)
  }

  // ---------------- translator ----------------

  /** Rewrite `v.prop` property accesses into the flat `v_prop` columns
    * the pattern join produces. `passThrough` names (WITH aliases, UNWIND
    * variables) stay as-is — they are already scalar columns. `paths`
    * maps named plain paths to their chains so openCypher path functions
    * resolve statically (fixed-hop chains: node list, rel-type list, and
    * length are all known at compile time). */
  private def flatten(e: Expr, passThrough: Set[String],
      paths: Map[String, PathInfo] = Map.empty): Expr = {
    def f(x: Expr): Expr = flatten(x, passThrough, paths)
    e match {
      // path functions over a named plain path (reference openCypher
      // nodes()/relationships()/length()). Fixed chains resolve length
      // and relationships statically (relationships → type names, the
      // SQL-dialect surface); variable-length chains resolve all three
      // from the materialized per-row path columns.
      case FnCall(n, Seq(Ident(pv)), _) if paths.contains(pv) &&
          Set("length", "nodes", "relationships")(n.toLowerCase) =>
        val info = paths(pv)
        val ch = info.chain
        // static resolutions null-guard on the materialized path column:
        // an OPTIONAL miss nulls the whole path value (TCK Path2 [3],
        // Path3 [1])
        def ifBound(x: Expr): Expr =
          CaseExpr(None, Seq((IsNull(Ident(s"${pv}__pnodes"), negated = false),
            NullLit: Expr)), Some(x))
        n.toLowerCase match {
          case "length" if info.dynamic => Ident(s"${pv}__plen")
          case "length" => ifBound(NumLit(BigDecimal(ch.rels.length), isIntegral = true))
          case "nodes" => Ident(s"${pv}__pnodes")
          case "relationships" if info.dynamic => Ident(s"${pv}__prels")
          case _ => ifBound(ArrayLit(ch.rels.map(r => StrLit(r.relType.getOrElse("")))))
        }
      // temporal namespaces: `date.truncate(...)`, `duration.between(...)`
      // — the target is a namespace token, not a pattern variable
      case MethodCall(t @ Ident(ns), m, args)
          if Set("date", "datetime", "localdatetime", "time", "localtime",
            "duration")(ns.toLowerCase) && !passThrough(ns) =>
        MethodCall(t, m, args.map(f))
      // list comprehension / quantifier: the lambda variable shadows
      // pattern variables
      case ListComp(v, l, w, m) =>
        def fi(x: Expr): Expr = flatten(x, passThrough + v, paths)
        ListComp(v, f(l), w.map(fi), m.map(fi))
      case Quantifier(k, v, l, p2) =>
        Quantifier(k, v, f(l), flatten(p2, passThrough + v, paths))
      case StructLit(fs)          => StructLit(fs.map { case (k, x) => k -> f(x) })
      case NestedProj(t, i, x, s) => NestedProj(f(t), i, x, s)
      // pattern comprehension: resolved by the pipeline against the graph
      // (its inner expressions bind to the comprehension's own chain)
      case pc: PatternComp => pc
      // graph metadata functions over pattern variables (openCypher
      // id()/labels()/type()): resolve to the flattened identity/label
      // columns; labels() is a one-element list (single-label model)
      case FnCall(n, Seq(Ident(v)), _) if n.equalsIgnoreCase("id") && !passThrough(v) =>
        Ident(s"${v}_id")
      // labels() splits the ":"-joined label set (single-label → [label]);
      // an existing-but-unlabeled node has [] — only a NULL node (optional
      // miss) yields null (TCK Graph3 [1][5])
      case FnCall(n, Seq(Ident(v)), _) if n.equalsIgnoreCase("labels") && !passThrough(v) =>
        CaseExpr(None, Seq(
          (IsNull(Ident(s"${v}_id"), negated = false): Expr) -> NullLit,
          (IsNull(Ident(s"${v}_label"), negated = false): Expr) -> ArrayLit(Seq.empty)),
          Some(FnCall("split", Seq(Ident(s"${v}_label"), StrLit(":")))))
      case FnCall(n, Seq(Ident(v)), _) if n.equalsIgnoreCase("type") && !passThrough(v) =>
        Ident(s"${v}_label")
      case PropAccess(Ident(v), prop) if !passThrough(v) => Ident(s"${v}_$prop")
      case PropAccess(t, prop)        => PropAccess(f(t), prop)
      case Ident(v) if passThrough(v) => Ident(v)
      // bare path var inside an expression: its node-id array stands in
      // (null exactly when the path is null — IS NULL etc. work)
      case Ident(pv) if paths.contains(pv) => Ident(s"${pv}__pnodes")
      case Ident(v)                   => Ident(s"${v}_id") // bare node var = its identity
      case Bin(op, l, r)              => Bin(op, f(l), f(r))
      case Neg(x)                     => Neg(f(x))
      case Not(x)                     => Not(f(x))
      case FnCall(n, args, s)         => FnCall(n, args.map(f), s)
      case MethodCall(t, m, args)     => MethodCall(f(t), m, args.map(f))
      case InList(x, es, n)           => InList(f(x), es.map(f), n)
      case Between(x, lo, hi)         => Between(f(x), f(lo), f(hi))
      case LikeOp(x, pat, ci)         => LikeOp(f(x), pat, ci)
      case Matches(x, pat)            => Matches(f(x), pat)
      case IsNull(x, n)               => IsNull(f(x), n)
      case ContainsOp(x, k, a)        => ContainsOp(f(x), k, f(a))
      case ArrayLit(es)               => ArrayLit(es.map(f))
      case CaseExpr(op, bs, els)      => CaseExpr(op.map(f), bs.map(b => (f(b._1), f(b._2))), els.map(f))
      case other                      => other
    }
  }

  private var anon = 0
  private def freshVar(): String = synchronized { anon += 1; s"_anon$anon" }

  /** A BARE pattern (`RETURN (n)-->()`) is not an expression in openCypher
    * projections — only comprehensions/EXISTS blocks are (TCK Pattern1
    * [22][23]). Bare patterns desugar with `bare = true`; reject them in
    * projection position. */
  private def rejectBarePatterns(e: Expr, where: String): Unit = {
    Ast.mapDown(e) {
      case x @ PatternComp(_, _, _, _, true) =>
        throw ParseException(
          s"SyntaxError: UnexpectedSyntax — bare pattern in $where projection")
      case x => x
    }
    ()
  }

  /** Bookkeeping for one relationship occurrence of a chain. `alias` keys
    * the hidden columns left on the frame:
    *   - fixed rel: `${eidCol}` (the relationship identity; named
    *     `${rv}__eid` for a freshly-bound rel variable so later clauses
    *     can identity-join a reuse) and, when `structs`, `${alias}__rst`
    *     (the whole-rel struct `_src/_dst/_eid/label/props`);
    *   - variable-length rel: `${alias}__rs` (array of rel structs in
    *     traversal order) and `${alias}__ns` (array of node ids from the
    *     pattern's left endpoint to its right, inclusive).
    * `reused` marks an occurrence of a rel variable bound by an earlier
    * clause — the caller joins it back on `${rv}__eid` equality. */
  private final case class RelMark(pat: RelPat, alias: String, eidCol: String,
      isList: Boolean, varName: Option[String], reused: Boolean)

  private final case class ChainResult(df: DataFrame, nodeVars: Set[String],
      relVars: Set[String], relListVars: Set[String], marks: Seq[RelMark],
      nodeSeq: Seq[String])

  /** A bound named path. `dynamic` (any variable-length rel in the chain)
    * switches length/nodes/relationships from static chain shape to the
    * materialized `${pv}__plen/__pnodes/__prels` columns. */
  final case class PathInfo(chain: PatternChain, dynamic: Boolean)

  /** Label-set containment: stored labels are ":"-joined (sorted);
    * `want` may itself be ":"-joined — every wanted label must be
    * present. Single-label stores hit the `===` fast path so constant
    * folding can still prune union branches. */
  private def labelPred(stored: Column, want: String): Column = {
    val wanted = want.split(':').filter(_.nonEmpty)
    if (wanted.length == 1)
      stored === wanted.head || array_contains(split(stored, ":"), wanted.head)
    else wanted.map(l => array_contains(split(stored, ":"), l)).reduce(_ && _)
  }

  /** `:A|B` alternative relationship types — membership test. */
  private def relTypePred(stored: Column, want: String): Column =
    if (want.contains('|')) stored.isin(want.split('|').toSeq: _*)
    else stored === want

  /** The uniform whole-rel struct type over a graph's edges (+ identity). */
  private def relStructType(g: PropertyGraph): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val base = g.edges.schema.fields.filterNot(f => Set("src", "dst", "_eid")(f.name))
      .sortBy(_.name)
    StructType(
      StructField("_src", LongType) +: StructField("_dst", LongType) +:
      StructField("_eid", LongType) +: base.toIndexedSeq)
  }

  /** An empty, correctly-typed array of rel structs (concat seed). */
  private def emptyRels(g: PropertyGraph): Column = {
    val t = relStructType(g)
    filter(array(lit(null).cast(t)), x => x.isNotNull)
  }

  /** One chain → joined DataFrame with v_* columns per node variable,
    * r_* columns per named single-hop relationship variable, plus the
    * hidden identity/path columns described on [[RelMark]]. Relationship
    * uniqueness INSIDE a variable-length walk is enforced here (no
    * relationship repeats within one walk — openCypher relationship
    * isomorphism); uniqueness ACROSS the rels of a MATCH pattern is the
    * caller's job via the returned marks. `boundRels` are rel variables
    * bound by earlier clauses (a new occurrence is a reuse, not a new
    * binding); `structs` additionally carries whole-rel structs for
    * named-path materialization. */
  /** Inline `{k: v}` pattern predicate against a possibly variant-typed
    * store column (schema evolution widens per-record mixed-type props
    * to the [[Variant]] encoding — equality must dispatch, not coerce). */
  private def inlinePropPred(d: DataFrame, k: String, lv: Expr): Column = {
    val c = graft.sql.Translator.toColumn(lv)
    if (Variant.isVariantType(d.schema(k).dataType)) {
      val vlit = Variant.ofLiteral(lv).map(Variant.litCol).getOrElse {
        val dt = d.select(c).schema.head.dataType
        Variant.ofDataType(c, dt)
      }
      coalesce(Variant.vEq(col(k), vlit), lit(false))
    } else col(k) === c
  }

  private def chainFrame(g: PropertyGraph, chain: PatternChain,
      boundRels: Set[String] = Set.empty, structs: Boolean = false): ChainResult = {
    // every edge occurrence carries a relationship identity: the store's
    // persistent `_eid` when present (MutableGraph allocates one per
    // created edge), else a row hash — graphs assembled from
    // distinct-by-construction frames (fromTpch etc.) have no duplicate
    // (src, dst, label) rows, so the hash IS an identity there
    val allEdges =
      if (g.edges.columns.contains("_eid"))
        // schema-evolved stores can hold pre-identity rows: hash-fill
        g.edges.withColumn("_eid",
          coalesce(col("_eid"), xxhash64(col("src"), col("dst"), col("label"))))
      else g.edges.withColumn("_eid", xxhash64(col("src"), col("dst"), col("label")))
    def nodeFrame(n: NodePat): (DataFrame, String) = {
      val v = n.varName.getOrElse(freshVar())
      val labeled = n.label.fold(g.vertices)(l => g.vertices.filter(labelPred(col("label"), l)))
      // inline props filter BEFORE the rename so it can push to the scan;
      // a property the schema has never seen matches nothing (openCypher
      // property bags — no node carries it, so the pattern is empty).
      // A `{id: n}` prop matches the USER id slot (_uid) on stores that
      // decouple it from identity; parquet graphs keep `id` as data.
      val base = n.props.foldLeft(labeled) { case (d, (k0, lv)) =>
        val k = if (k0 == "id" &&
          d.columns.contains(graft.graph.MutableGraph.UserId))
          graft.graph.MutableGraph.UserId else k0
        if (d.columns.contains(k)) d.filter(inlinePropPred(d, k, lv))
        else d.filter(lit(false))
      }
      val renamed = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, s"${v}_$c"))
      (renamed, v)
    }
    val (first, v0) = nodeFrame(chain.nodes.head)
    var df = first
    var vars = Set(v0)
    var relVars = Set.empty[String]
    var relListVars = Set.empty[String]
    val marks = Seq.newBuilder[RelMark]
    val nodeSeq = Seq.newBuilder[String]
    nodeSeq += v0
    var prevVar = v0
    chain.rels.zip(chain.nodes.tail).foreach { case (rel, node) =>
      val (nf, v) = nodeFrame(node)
      val typed = rel.relType.fold(allEdges)(t => allEdges.filter(relTypePred(col("label"), t)))
      // inline rel props `{k: v}` filter the edge before the join; a
      // never-seen property matches nothing (same rule as nodeFrame)
      val e0 = rel.props.foldLeft(typed) { case (d, (k, lv)) =>
        if (d.columns.contains(k)) d.filter(inlinePropPred(d, k, lv))
        else d.filter(lit(false))
      }
      val eAlias = freshVar()
      val reused = rel.varName.exists(boundRels) // same-chain dups error earlier
      // whole-rel struct in the edge's own orientation (stable under the
      // undirected swap below — direction renders from _src/_dst later)
      val rProps = e0.columns.filterNot(Set("src", "dst", "_eid")).sorted
      val rStruct = struct((col("src").as("_src") +: col("dst").as("_dst") +:
        col("_eid").as("_eid") +: rProps.map(c => col(c).as(c)).toIndexedSeq): _*)
      // undirected `-`: the edge matches in either orientation; a
      // self-loop is its own reversal, so it contributes one binding,
      // not two (openCypher relationship-isomorphism semantics)
      def bothOriented(e: DataFrame): DataFrame = {
        val swapped = e.withColumnRenamed("src", "__swap")
          .withColumnRenamed("dst", "src").withColumnRenamed("__swap", "dst")
        e.unionByName(swapped.filter(col("src") =!= col("dst")))
      }
      // variable-length: union of h-fold edge walks for h in lo..hi, one
      // row PER WALK (openCypher path multiplicity — not reachability;
      // TRAVERSE is the frontier-dedup scale path for unbounded sweeps)
      val eBase = rel.hops match {
        case None =>
          val eidCol =
            rel.varName.filterNot(_ => reused).map(rv => s"${rv}__eid")
              .getOrElse(s"${eAlias}__eid")
          marks += RelMark(rel, eAlias, eidCol, isList = false, rel.varName, reused)
          val keep = Seq(col("src"), col("dst"), col("_eid").as(eidCol)) ++
            (if (structs) Seq(rStruct.as(s"${eAlias}__rst")) else Nil) ++
            (rel.varName match {
              case Some(rv) if !reused =>
                relVars += rv
                e0.columns.filterNot(Set("src", "dst", "_eid"))
                  .map(c => col(c).as(s"${rv}_$c")).toSeq
              case _ => Nil
            })
          val base = e0.select(keep: _*)
          if (rel.direction == "both") bothOriented(base) else base
        case Some((lo, hi)) =>
          require(lo >= 0, s"unsupported hop range $lo..$hi")
          if (reused)
            throw ParseException(
              s"variable-length pattern over an already-bound relationship variable")
          marks += RelMark(rel, eAlias, s"${eAlias}__rs", isList = true, rel.varName, reused)
          rel.varName.foreach(relListVars += _)
          val one = {
            val o = e0.select(col("src"), col("dst"), rStruct.as("__r"))
            if (rel.direction == "both") bothOriented(o) else o
          }
          val firstHop = one.select(col("src"), col("dst"),
            array(col("__r")).as("__rs"), array(col("src"), col("dst")).as("__ns"))
          // each extension step refuses relationships already on the walk
          def extend(accF: DataFrame): DataFrame =
            accF.alias("l").join(one.alias("rr"),
                col("l.dst") === col("rr.src") &&
                  !exists(col("l.__rs"),
                    x => x.getField("_eid") === col("rr.__r").getField("_eid")))
              .select(col("l.src").as("src"), col("rr.dst").as("dst"),
                concat(col("l.__rs"), array(col("rr.__r"))).as("__rs"),
                concat(col("l.__ns"), array(col("rr.dst"))).as("__ns"))
          def compose(h: Int): DataFrame =
            (1 until h).foldLeft(firstHop)((accF, _) => extend(accF))
          // `*0..`: the zero-length walk — endpoint equals start, no rels
          val zero =
            if (lo == 0 && hi >= 0) Seq(g.vertices.select(col("id").as("src"),
              col("id").as("dst"), emptyRels(g).as("__rs"), array(col("id")).as("__ns")))
            else Seq.empty
          // bounded-small ranges unroll into one lazy union (Catalyst sees
          // the whole expansion, ReuseExchange collapses the shared walk
          // prefixes); open/deep upper bounds walk ADAPTIVELY — a Fixpoint
          // extends depth by depth until the frontier dies (edge-distinct
          // walks are bounded by |E|, so this terminates on any graph;
          // enumeration at this depth is a correctness tier — TRAVERSE's
          // frontier-dedup BFS stays the scale path for deep reachability)
          val parts: Seq[DataFrame] =
            if (hi <= 8) zero ++ (math.max(lo, 1) to hi).map(compose)
            else {
              // pinned: the first hop seeds round 1 and joins the result
              val first = graft.Materialize.once(firstHop, eager = false)
              val walks = Fixpoint(first, hi - 1,
                merge = Some(Fixpoint.Merge(Some(first), identity)))(r => extend(r.prev)).out
              zero :+ (if (lo > 1) walks.filter(size(col("__rs")) >= lo) else walks)
            }
          // an empty interval (`*2..1`) matches nothing, it is not an error
          val unioned =
            if (parts.isEmpty) firstHop.filter(lit(false))
            else parts.reduce(_ unionByName _)
          // `in` patterns walk edges backwards: reverse the carried arrays
          // so they read in the pattern's left-to-right order
          val oriented =
            if (rel.direction == "in")
              unioned.select(col("src"), col("dst"),
                reverse(col("__rs")).as("__rs"), reverse(col("__ns")).as("__ns"))
            else unioned
          oriented.withColumnRenamed("__rs", s"${eAlias}__rs")
            .withColumnRenamed("__ns", s"${eAlias}__ns")
      }
      val e = eBase
        .withColumnRenamed("src", s"${eAlias}_src")
        .withColumnRenamed("dst", s"${eAlias}_dst")
      val (fromCol, toCol) =
        if (rel.direction == "in") (s"${eAlias}_dst", s"${eAlias}_src")
        else (s"${eAlias}_src", s"${eAlias}_dst") // out + both
      if (vars(v)) {
        // cyclic pattern `(a)-...->(a)`: the variable is already bound in
        // this chain — close the loop on its identity instead of joining
        // a second copy; label/prop predicates of the repeated occurrence
        // filter the bound columns
        df = df.join(e, col(s"${prevVar}_id") === col(fromCol))
          .filter(col(toCol) === col(s"${v}_id"))
          .drop(s"${eAlias}_src", s"${eAlias}_dst")
        node.label.foreach(l => df = df.filter(labelPred(col(s"${v}_label"), l)))
        node.props.foreach { case (k, lv) =>
          df =
            if (df.columns.contains(s"${v}_$k"))
              df.filter(col(s"${v}_$k") === graft.sql.Translator.toColumn(lv))
            else df.filter(lit(false)) }
      } else {
        df = df.join(e, col(s"${prevVar}_id") === col(fromCol))
          .join(nf, col(toCol) === col(s"${v}_id"))
          .drop(s"${eAlias}_src", s"${eAlias}_dst")
        vars += v
      }
      nodeSeq += v
      prevVar = v
    }
    ChainResult(df, vars, relVars, relListVars, marks.result(), nodeSeq.result())
  }

  /** Mutable clause-pipeline state shared by [[compile]] (read-only) and
    * [[execute]] (reads + writes). `g` is by-name so a MATCH issued after
    * a write clause reads the post-mutation graph. */
  private final class Pipeline(g: => PropertyGraph) {
    def session: SparkSession = g.vertices.sparkSession
    def graph: PropertyGraph = g
    var acc: DataFrame = null
    var nodeVars = Set.empty[String]  // vars with v_* columns (incl. v_id)
    var relVars = Set.empty[String]   // rel vars with r_* prop columns
    var relListVars = Set.empty[String] // var-length rel vars (list columns)
    var scalars = Set.empty[String]   // WITH aliases / UNWIND vars (flat columns)
    // pure-literal WITH bindings, kept symbolically alongside their
    // materialized columns: static access (field / subscript / keys)
    // folds against the literal with exact openCypher semantics where a
    // Spark column cannot carry the value (heterogeneous lists, map keys
    // colliding under case-insensitive struct resolution)
    var litEnv = Map.empty[String, Ast.Expr]
    // scalars whose defining expression referenced an entity variable —
    // only these may re-bind as pattern nodes (`WITH coalesce(b, c) AS x
    // MATCH (x)-->()` re-matches by identity; `WITH 123 AS n MATCH (n)`
    // is a VariableTypeConflict, TCK Match1 [11] vs Match3 [30])
    var nodeRefScalars = Set.empty[String]
    // set by compileSingle/execute: false only for a standalone CALL,
    // whose yield surface IS the result (Call1 [12])
    var requireYield = true
    /** Does `e` reference an entity (bare node/rel var or an
      * entity-derived scalar)? Property accesses read VALUES, not
      * references — their targets don't count. */
    def refsEntity(e0: Expr): Boolean = {
      val masked = Ast.mapDown(e0) {
        case PropAccess(Ident(_), _) => Ident("\u0000masked")
        case x => x }
      var found = false
      Ast.mapDown(masked) {
        case x @ Ident(nm) if nodeVars(nm) || relVars(nm) || nodeRefScalars(nm) =>
          found = true; x
        case x => x }
      found
    }
    var paths = Map.empty[String, PathInfo] // named plain paths
    // variables whose entities a DELETE clause of THIS statement removed:
    // later property/label access on them must raise (openCypher
    // DeletedEntityAccess — TCK Return2 [15][16][17])
    var deletedVars = Set.empty[String]
    // vertex ids allocated by CREATE clauses of THIS statement: a later
    // CREATE in the same statement wires edges to them by variable name
    val createdIds = scala.collection.mutable.Map.empty[String, Long]
    // their literal property expressions, so a later pattern in the same
    // statement can reference them (`CREATE (a {id: 0}), (b {n: a.id})`)
    val createdProps = scala.collection.mutable.Map.empty[String, Map[String, Expr]]
    def toCol(e: Expr): Column =
      graft.sql.Translator.toColumn(typed(flatten(rewriteMetaFns(substParams(e)), scalars, paths)))

    /** ORDER BY column: a variant-typed sort item sorts on its
      * total-orderability key (openCypher cross-type ORDER BY —
      * map < node < rel < list < path < string < boolean < number <
      * NaN < null); everything else sorts natively. */
    def sortColOf(e0: Expr): Column = {
      val c = toCol(e0)
      val isV = acc != null && scala.util.Try(
        Variant.isVariantType(acc.select(c).schema.head.dataType)).getOrElse(false)
      if (isV) Variant.sortKey(c) else c
    }

    /** Static type tag of a flattened expression against the horizon's
      * schema: 's' string, 'a' list, 'i' integral, 'f' fractional,
      * '?' unknown. */
    def typeTag(e: Expr): Char = e match {
      case StrLit(_)                       => 's'
      case ArrayLit(_) | ListComp(_, _, _, _) => 'a'
      case NumLit(_, i)                    => if (i) 'i' else 'f'
      case Neg(x)                          => typeTag(x)
      case Ident(c) if acc != null && acc.columns.contains(c) =>
        tagOfDt(acc.schema(c).dataType)
      case StructLit(_) => 'm'
      // subscript over a schema-typed list column carries the element
      // type (TCK Comparison1 [3]: `arr[0]` of a string list is a string)
      case FnCall(n, Seq(Ident(c), _), _)
          if Set("list_index", "get")(n.toLowerCase) &&
            acc != null && acc.columns.contains(c) =>
        import org.apache.spark.sql.types.ArrayType
        acc.schema(c).dataType match {
          case ArrayType(et, _) => tagOfDt(et)
          case _                => '?'
        }
      case FnCall(n, _, _) if Set("count", "count_distinct", "size", "length",
          "id", "sum_int", "sum_int_distinct", "intdiv", "tointeger")(n.toLowerCase) => 'i'
      case FnCall(n, _, _) if Set("fdiv", "tofloat")(n.toLowerCase) => 'f'
      case FnCall(n, _, _) if Set("tostring", "substr0")(n.toLowerCase) => 's'
      case FnCall(n, _, _) if Set("toboolean", "nancmp", "str_contains",
          "starts_with", "ends_with")(n.toLowerCase) => 'b'
      case FnCall(n, Seq(a), _) if Set("abs", "reverse", "tail",
          "array_distinct", "sort_array")(n.toLowerCase) => typeTag(a)
      case FnCall(n, args, _) if n.equalsIgnoreCase("concat") && args.nonEmpty =>
        // concat is list-concat when any arg is a list, else string: one
        // known-string arg is enough to pin the result even when the
        // others are lambda variables or CASE branches ('?')
        val tags = args.map(typeTag)
        if (tags.contains('a')) 'a'
        else if (tags.contains('s')) 's'
        else typeTag(args.head)
      // a CASE whose branches agree on a tag carries it (dynamic property
      // access `v[k]` compiles to a CASE over the prop columns). Unknown
      // ('?') branches don't block agreement: Spark's analyzer will
      // coerce or reject them anyway, and the KNOWN tag is what decides
      // list-vs-numeric '+' (TCK Quantifier invariants build
      // `CASE WHEN rand()<0.5 THEN reverse(list) ELSE list END + x`)
      case CaseExpr(_, branches, els) =>
        val tags = (branches.map(_._2) ++ els.toSeq).collect {
          case x if x != NullLit => typeTag(x) }.distinct.filter(_ != '?')
        if (tags.length == 1) tags.head else '?'
      case Bin(op, l, r) if Set("+", "-", "*", "%")(op) =>
        (typeTag(l), typeTag(r)) match {
          case ('i', 'i')                            => 'i'
          case (a, b) if Set(a, b).subsetOf(Set('i', 'f')) => 'f'
          case _                                     => '?'
        }
      // boolean-valued shapes tag 'b' so string predicates can null out
      // non-string operands statically (NullLit stays '?' — null operands
      // are legal everywhere and propagate)
      case BoolLit(_) => 'b'
      case Bin(op, _, _)
          if Set("AND", "OR", "XOR")(op.toUpperCase) ||
            Set("=", "<>", "<", ">", "<=", ">=")(op) => 'b'
      case Not(_) | IsNull(_, _) | InList(_, _, _) | Between(_, _, _) => 'b'
      case ColRef(_, t, _, _) => t
      case _ => '?'
    }

    /** Spark DataType → static tag (shared by the Ident and element cases). */
    def tagOfDt(dt: org.apache.spark.sql.types.DataType): Char = {
      import org.apache.spark.sql.types._
      dt match {
        case StringType                                    => 's'
        case _: ArrayType                                  => 'a'
        case LongType | IntegerType | ShortType | ByteType => 'i'
        case DoubleType | FloatType | _: DecimalType       => 'f'
        case BooleanType                                   => 'b'
        // a stored temporal struct is NOT a map value: its own tag keeps
        // it out of the map/collection argument checks
        case st: StructType if st.fieldNames.contains("_tkind") => 't'
        // dynamic-typed (variant) struct — [[Variant]]
        case dt if Variant.isVariantType(dt) => 'v'
        case _: MapType | _: StructType                    => 'm'
        case _                                             => '?'
      }
    }

    // openCypher comparability families: numbers compare with numbers,
    // everything else only within its own kind; cross-family equality is
    // FALSE and cross-family ordering is NULL (CIP2016 comparability —
    // the reference expected-fails the dynamic-entity slice of this,
    // tck/expected-failures.txt "[3] Comparing across types")
    def tagFamily(t: Char): Char = if (t == 'i' || t == 'f') 'n' else t
    def knownTag(t: Char): Boolean = "bifsam".contains(t)
    def crossFamily(l: Expr, r: Expr): Boolean = {
      val (a, b) = (typeTag(l), typeTag(r))
      knownTag(a) && knownTag(b) && tagFamily(a) != tagFamily(b)
    }

    // ---- dynamic-typing (variant) support: [[Variant]] ----
    def isVariantE(e: Expr): Boolean = typeTag(e) == 'v'
    /** Column of an ALREADY-typed/flattened subtree. */
    def colOfTyped(e: Expr): Column = graft.sql.Translator.toColumn(e)
    /** Static data type of a typed subtree against the horizon (None when
      * it references lambda variables or there is no horizon yet). */
    def dtOf(e: Expr): Option[org.apache.spark.sql.types.DataType] = e match {
      case ColRef(_, _, Some(dt), _) => Some(dt)
      case _ =>
        if (acc == null) None
        else scala.util.Try(acc.select(colOfTyped(e)).schema.head.dataType).toOption
    }
    /** Wrap a typed subtree as a variant column: variant passes through,
      * literal trees evaluate at compile time, everything else wraps by
      * its static schema type. */
    def asVariantCol(e: Expr): Column =
      if (isVariantE(e)) colOfTyped(e)
      else Variant.ofLiteral(e) match {
        case Some(vl) => Variant.litCol(vl)
        case None => dtOf(e) match {
          case Some(dt) => Variant.ofDataType(colOfTyped(e), dt)
          case None => typeTag(e) match {
            case 'i' => Variant.ofDataType(colOfTyped(e), org.apache.spark.sql.types.LongType)
            case 'f' => Variant.ofDataType(colOfTyped(e), org.apache.spark.sql.types.DoubleType)
            case 's' => Variant.ofDataType(colOfTyped(e), org.apache.spark.sql.types.StringType)
            case 'b' => Variant.ofDataType(colOfTyped(e), org.apache.spark.sql.types.BooleanType)
            case _ => throw ParseException(
              s"TypeError: cannot mix value of unknown static type into a dynamic position: $e")
          }
        }
      }
    /** Variant of an UNWIND-list element: entities wrap as whole-value
      * variants (node/rel/path), everything else through [[asVariantCol]]
      * after the usual typing pipeline. */
    def variantElem(x0: Expr): Column = x0 match {
      case Ident(v) if nodeVars(v) && !scalars(v) =>
        Variant.ofNode(entityCol(v), entityFieldTypes(v))
      case Ident(v) if relVars(v) && !scalars(v) =>
        Variant.ofRel(entityCol(v), entityFieldTypes(v))
      case Ident(pv) if paths.contains(pv) && acc != null &&
          acc.columns.contains(s"${pv}__pstruct") =>
        import org.apache.spark.sql.types.{ArrayType, StructType}
        val ps = col(s"${pv}__pstruct")
        val st = acc.schema(s"${pv}__pstruct").dataType.asInstanceOf[StructType]
        val nodeSt = st("_pathn").dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        val relSt = st("_pathr").dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        Variant.ofPath(ps.getField("_pathn"), ps.getField("_pathr"),
          nodeSt.fields.toSeq.map(f => f.name -> f.dataType),
          relSt.fields.toSeq.map(f => f.name -> f.dataType))
      case _ => asVariantCol(typed(flatten(rewriteMetaFns(x0), scalars, paths)))
    }
    /** Concatenating two entity-struct arrays whose element types drifted
      * (the same prop key holding different types on different nodes —
      * TCK Match4 [4]: `[a] + collect(n)` where a.var is a string and
      * n.var an integer): unify the field set, widening conflicting
      * fields to the variant encoding, so concat sees ONE element type. */
    def unifyEntityArrays(le: Expr, re: Expr): Option[(Column, Column)] = {
      import org.apache.spark.sql.types._
      (dtOf(le), dtOf(re)) match {
        case (Some(ArrayType(ls: StructType, _)), Some(ArrayType(rs: StructType, _)))
            if ls != rs && ls.fieldNames.contains("id") && rs.fieldNames.contains("id") &&
              !Variant.isVariantType(ls) && !Variant.isVariantType(rs) =>
          val byName = (ls.fields ++ rs.fields).groupBy(_.name)
          val target: Seq[(String, DataType)] = byName.toSeq.sortBy(_._1).map {
            case (n2, fs) =>
              val dts = fs.map(_.dataType).distinct
              n2 -> (if (dts.length == 1) dts.head else Variant.fullType)
          }
          def conv(c: Column, st: StructType): Column = transform(c, s =>
            when(s.isNull, lit(null)).otherwise(struct(target.map { case (n2, dt) =>
              if (st.fieldNames.contains(n2)) {
                val f = s.getField(n2)
                if (st(n2).dataType == dt) f.as(n2)
                else Variant.ofDataType(f, st(n2).dataType).as(n2)
              } else lit(null).cast(dt).as(n2)
            }: _*)))
          Some((conv(colOfTyped(le), ls), conv(colOfTyped(re), rs)))
        case _ => None
      }
    }
    /** Element type of the unified array (for the ColRef dt marker, so a
      * chained `+` can keep unifying without re-probing the horizon). */
    def unifiedElemType(le: Expr, re: Expr): org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      (dtOf(le), dtOf(re)) match {
        case (Some(ArrayType(ls: StructType, _)), Some(ArrayType(rs: StructType, _))) =>
          val byName = (ls.fields ++ rs.fields).groupBy(_.name)
          ArrayType(StructType(byName.toSeq.sortBy(_._1).map { case (n2, fs) =>
            val dts = fs.map(_.dataType).distinct
            StructField(n2, if (dts.length == 1) dts.head else Variant.fullType)
          }))
        case _ => NullType
      }
    }

    /** Is this an Ident carrying a symbolic literal binding? Static
      * folds resolve those exactly — runtime variant dispatch defers. */
    def litEnvIdent(x: Expr): Boolean = x match {
      case Ident(c) => litEnv.contains(c)
      case _        => false
    }
    /** A native array whose elements are variant structs (the shape the
      * entity-mixing ArrayLit rewrite produces). */
    def isVariantArrayE(e: Expr): Boolean = dtOf(e) match {
      case Some(org.apache.spark.sql.types.ArrayType(et, _)) => Variant.isVariantType(et)
      case _ => false
    }
    /** Coerce either variant-list form to the canonical LIST VARIANT:
      * an array<variant> demotes its elements to element form (their
      * string encodings keep the nested structure). */
    def variantListOf(e: Expr): Column =
      if (isVariantArrayE(e))
        Variant.ofElems(transform(colOfTyped(e), x => Variant.asElem(x)))
      else colOfTyped(e)

    /** Container-nesting depth of an expression (ArrayLit/StructLit
      * levels) — bounds the variant wrap rules (see their guard). */
    def nestDepth(x: Expr): Int = x match {
      case ArrayLit(es)  => 1 + es.map(nestDepth).maxOption.getOrElse(0)
      case StructLit(fs) => 1 + fs.map(f => nestDepth(f._2)).maxOption.getOrElse(0)
      case _             => 0
    }

    /** Equivalence key of a (possibly deeply nested) container tree,
      * built with ONE concat per level — the linear-size alternative to
      * the full variant wrap when only grouping/DISTINCT semantics are
      * needed. Leaves wrap as depth-0 variants and contribute their
      * `_veq`. None when a leaf cannot wrap (unknown static type). */
    def eqKeyOf(x: Expr): Option[Column] = x match {
      case StructLit(fs) =>
        val parts = fs.sortBy(_._1).map { case (k, v) =>
          eqKeyOf(v).map(c => concat(lit(Variant.escKey(k)), c)) }
        if (parts.exists(_.isEmpty)) None
        else Some(concat((lit("m") +: parts.map(_.get)) :+ lit(Variant.Term): _*))
      case ArrayLit(es) =>
        val parts = es.map(eqKeyOf)
        if (parts.exists(_.isEmpty)) None
        else Some(concat((lit("l") +: parts.map(_.get)) :+ lit(Variant.Term): _*))
      case other =>
        // callers hand POST-flatten trees (the projection pipeline
        // flattens before typed()) — re-flattening would mangle the
        // already-resolved column names
        scala.util.Try(asVariantCol(typed(other)).getField("_veq")).toOption
    }

    /** Should this list run through the variant encoding? Mixed value
      * families, or entities/paths alongside scalars — the single-typed
      * Spark column cannot hold the union. Node+rel mixing stays native
      * (entityCol's unified-field structs already cover it); nulls and
      * unknown-tag elements never force the encoding by themselves. */
    def needsVariantList(es: Seq[Expr]): Boolean = {
      def cat(x: Expr): Char = x match {
        case Ident(v) if (nodeVars(v) || relVars(v)) && !scalars(v) => 'e'
        case Ident(v) if paths.contains(v) => 'p'
        case NullLit => '0'
        case _ => tagFamily(typeTag(x))
      }
      val cats = es.map(cat).filter(c => c != '?' && c != '0').distinct
      // integer/float mixing ALSO needs the encoding: min()/max() must
      // hand back the ORIGINAL value (TCK Aggregation2 [5][6]: max over
      // [1, 2.0, 5] is the integer 5, not 5.0)
      val numTags = es.map(typeTag).filter(t => t == 'i' || t == 'f').distinct
      // so does a NESTED mixed literal ([['a'], ['a', 1], [1]]): its
      // element would become a variant struct while homogeneous siblings
      // stay native arrays — one type per column
      val nestedMixed = es.exists { x => litVal(x) && !sparkSafeLit(x) }
      cats.length > 1 || numTags.length > 1 || nestedMixed
    }

    /** Literal-tree predicate for the static three-valued folds below:
      * heterogeneous or null-holding literal lists/maps cannot become
      * homogeneous Spark arrays/structs, but their comparisons CAN fold
      * at compile time with exact openCypher semantics. */
    def litVal(x: Expr): Boolean = x match {
      case NullLit | BoolLit(_) | StrLit(_) | NumLit(_, _) => true
      case Neg(NumLit(_, _)) => true
      case TemporalLit(_) => true
      case ArrayLit(es)  => es.forall(litVal)
      case StructLit(fs) => fs.forall(f => litVal(f._2))
      case _ => false
    }
    /** Can Spark's homogeneous array/struct typing materialize this
      * literal as a column? Mixed-family lists (and lists of maps with
      * differing key sets) cannot coerce to one element type. */
    def sparkSafeLit(x: Expr): Boolean = x match {
      case ArrayLit(es) =>
        es.forall(sparkSafeLit) &&
          es.map(e => tagFamily(typeTag(e))).filter(_ != '?').distinct.length <= 1 &&
          es.collect { case StructLit(fs) => fs.map(_._1) }.distinct.length <= 1
      case StructLit(fs) => fs.forall(f => sparkSafeLit(f._2))
      case _ => true
    }
    def litNum(x: Expr): Option[BigDecimal] = x match {
      case NumLit(v, _)      => Some(v)
      case Neg(NumLit(v, _)) => Some(-v)
      case _                 => None
    }
    /** openCypher deep equality over literal values: None = null.
      * Lists: length mismatch is false; else any false element pair
      * dominates, then any null, else true. Maps: key-set mismatch is
      * false, then like lists over values. Cross-kind is false. */
    def litEq(l: Expr, r: Expr): Option[Boolean] = (l, r) match {
      case (NullLit, _) | (_, NullLit) => None
      case (a, b) if litNum(a).isDefined && litNum(b).isDefined =>
        Some(litNum(a).get == litNum(b).get)
      case (StrLit(a), StrLit(b))   => Some(a == b)
      case (BoolLit(a), BoolLit(b)) => Some(a == b)
      case (TemporalLit(a), TemporalLit(b)) => (a, b) match {
        // durations are equal by exact (months, days, seconds, nanos)
        // components — P1D ≠ PT24H; point-in-time kinds by their order
        case (x: graft.sql.Temporals.DDuration, y: graft.sql.Temporals.DDuration) =>
          Some(x == y)
        case _ => Some(graft.sql.Temporals.cmp(a, b).contains(0))
      }
      case (ArrayLit(as), ArrayLit(bs)) =>
        if (as.length != bs.length) Some(false)
        else {
          val es = as.zip(bs).map { case (a, b) => litEq(a, b) }
          if (es.contains(Some(false))) Some(false)
          else if (es.contains(None)) None
          else Some(true)
        }
      case (StructLit(as), StructLit(bs)) =>
        if (as.map(_._1).toSet != bs.map(_._1).toSet) Some(false)
        else {
          val bm = bs.toMap
          val es = as.map { case (k, v) => litEq(v, bm(k)) }
          if (es.contains(Some(false))) Some(false)
          else if (es.contains(None)) None
          else Some(true)
        }
      case _ => Some(false)
    }
    /** openCypher ordering over literal values: Some(None) = null,
      * Some(Some(sign)) = decided. Lists compare lexicographically —
      * the first non-equal pair decides (a definite inequality wins even
      * when later elements are null: [1,2] >= [3,null] is false), a
      * null/incomparable pair yields null, equal prefixes fall back to
      * length. */
    def litCmp(l: Expr, r: Expr): Option[Option[Int]] = (l, r) match {
      case (NullLit, _) | (_, NullLit) => Some(None)
      case (a, b) if litNum(a).isDefined && litNum(b).isDefined =>
        Some(Some(litNum(a).get.compare(litNum(b).get)))
      case (StrLit(a), StrLit(b))   => Some(Some(a.compare(b)))
      case (BoolLit(a), BoolLit(b)) => Some(Some(a.compare(b)))
      case (TemporalLit(a), TemporalLit(b)) =>
        Some(graft.sql.Temporals.cmp(a, b))
      case (ArrayLit(as), ArrayLit(bs)) =>
        var res: Option[Option[Int]] = null
        var i = 0
        val n = math.min(as.length, bs.length)
        while (i < n && res == null) {
          litCmp(as(i), bs(i)) match {
            case Some(Some(0)) => i += 1
            case other         => res = other
          }
        }
        if (res != null) res
        else Some(Some(as.length.compare(bs.length)))
      case _ => Some(None)
    }

    /** Dynamic map access as a CASE over the (statically known) key set —
      * exact string match, so keys stay case-sensitive where Spark's
      * struct getField is not. Mixed value types render as strings (the
      * one shape a single-typed column cannot carry). */
    def mapAccessCase(pairs: Seq[(String, Expr)], k: Expr): Expr = {
      if (pairs.isEmpty) NullLit
      else {
        val tags = pairs.map(p => typeTag(p._2)).filter(_ != '?').distinct
        val branches: Seq[(Expr, Expr)] =
          if (tags.length > 1)
            pairs.map { case (kk, v) =>
              (StrLit(kk): Expr) -> (MethodCall(v, "asString", Seq.empty): Expr) }
          else pairs.map { case (kk, v) => (StrLit(kk): Expr) -> v }
        CaseExpr(Some(k), branches, Some(NullLit))
      }
    }

    /** openCypher type-polymorphic operators, resolved bottom-up from the
      * static tags: `+` concatenates strings and lists, `/` on integrals
      * is integer division, sum() of integrals stays integral. The SQL
      * dialect keeps its decimal-promoting forms (oracle numeric parity);
      * this rewrite runs only on the Cypher path (reference openCypher
      * runtime arithmetic — cy/CypherFunctions-style type dispatch). */
    def typed(e: Expr): Expr = e match {
      // ---- pre-recursion static folds: these match RAW literal operands
      //      so the dynamic-materialization rewrites below (heterogeneous
      //      list stringify) don't mask exact openCypher folding ----
      case Bin("=", l, r) if litVal(l) && litVal(r) =>
        litEq(l, r).fold(NullLit: Expr)(b => BoolLit(b))
      case Bin("<>", l, r) if litVal(l) && litVal(r) =>
        litEq(l, r).fold(NullLit: Expr)(b => BoolLit(!b))
      case Bin(op0, l, r) if Set("<", "<=", ">", ">=")(op0) &&
          litVal(l) && litVal(r) =>
        litCmp(l, r) match {
          case Some(None) => NullLit
          case Some(Some(k)) => BoolLit(op0 match {
            case "<" => k < 0
            case "<=" => k <= 0
            case ">" => k > 0
            case _ => k >= 0
          })
          case None => typedRec(e)
        }
      case FnCall(n, Seq(ArrayLit(es), ix), _)
          if n.equalsIgnoreCase("list_index") && litNum(ix).isDefined =>
        val i0 = litNum(ix).get.toInt
        val i = if (i0 < 0) es.length + i0 else i0
        if (i >= 0 && i < es.length) typed(es(i)) else NullLit
      // count(DISTINCT <deeply-nested mixed container>): the full variant
      // wrap is multiplicative in nesting depth (see the
      // UnsupportedDynamicNesting guard), but DISTINCT only needs the
      // EQUIVALENCE KEY — built recursively as one concat per level, the
      // tree stays linear (TCK Return5 [4]: nested lists of maps in maps)
      case FnCall(n, Seq(a), _)
          if n.equalsIgnoreCase("count_distinct") && nestDepth(a) > 2 &&
            eqKeyOf(a).isDefined =>
        ColRef(count_distinct(eqKeyOf(a).get), 'i', agg = true)
      // literal list algebra folds exactly (heterogeneous results then
      // render as variants — TCK Precedence3): list+list concatenates,
      // list+scalar appends, scalar+list prepends
      case Bin("+", l, r) if litVal(l) && litVal(r) &&
          (l.isInstanceOf[ArrayLit] || r.isInstanceOf[ArrayLit]) =>
        (l, r) match {
          case (ArrayLit(a), ArrayLit(b)) => typed(ArrayLit(a ++ b))
          case (ArrayLit(a), x)           => typed(ArrayLit(a :+ x))
          case (x, ArrayLit(b))           => typed(ArrayLit(x +: b))
        }
      case FnCall(n, Seq(al @ ArrayLit(es)), _)
          if n.equalsIgnoreCase("size") && litVal(al) =>
        NumLit(es.length, isIntegral = true)
      // literal slice `[lo..hi]` (end-exclusive, negatives from the end,
      // clamped — openCypher list slicing)
      case FnCall(n, Seq(al @ ArrayLit(es), lo0, hi0), _)
          if n.equalsIgnoreCase("list_slice") && litVal(al) && {
            val lt = typed(lo0); val ht = typed(hi0)
            litNum(lt).isDefined && litNum(ht).isDefined
          } =>
        val len = es.length
        def clamp(x: Int): Int = math.max(0, math.min(len, if (x < 0) len + x else x))
        val lo = clamp(litNum(typed(lo0)).get.toInt)
        val hi = clamp(litNum(typed(hi0)).get.toInt)
        typed(ArrayLit(es.slice(lo, hi)))
      case PropAccess(StructLit(fs), p) =>
        fs.find(_._1 == p).map(f => typed(f._2)).getOrElse(NullLit)
      // aggregates can't run inside a per-element lambda — checked BEFORE
      // the literal unroll below, which would otherwise splice count(*)
      // into the projection (TCK List12 [7])
      case ListComp(_, _, w0, m0)
          if (w0.toSeq ++ m0.toSeq).exists(graft.sql.Translator.containsAgg) =>
        throw ParseException("SyntaxError: InvalidAggregation — aggregation in list comprehension")
      case ListComp(v2, src, None, m)
          if (src match {
            case ArrayLit(es) => es.forall(litVal)
            case Ident(c) => litEnv.get(c).exists {
              case ArrayLit(es) => es.forall(litVal); case _ => false }
            case _ => false
          }) =>
        val es = src match {
          case ArrayLit(es0) => es0
          case Ident(c) => litEnv(c).asInstanceOf[ArrayLit].items
        }
        def subst(body: Expr, el: Expr): Expr = Ast.mapDown(body) {
          case Ident(`v2`) => el
          case x => x
        }
        ArrayLit(es.map(el => typed(subst(m.getOrElse(Ident(v2)), el))))
      // quantifiers over a literal list unroll into AND/OR chains — exact
      // 3VL statically, and each element predicate types independently
      // (mixed-family literal lists cannot form one Spark array)
      case Quantifier(kind, v2, src, pred)
          if (src match {
            case ArrayLit(es) => es.forall(litVal)
            case NullLit => true
            case Ident(c) => litEnv.get(c).exists {
              case ArrayLit(es) => es.forall(litVal)
              case NullLit => true
              case _ => false
            }
            case _ => false
          }) =>
        val srcLit = src match {
          case Ident(c) => litEnv(c)
          case other    => other
        }
        srcLit match {
          case NullLit => NullLit
          case ArrayLit(es) =>
            val ps = es.map { el =>
              typed(Ast.mapDown(pred) {
                case Ident(`v2`) => el
                case x => x
              })
            }
            def orAll(xs: Seq[Expr]): Expr =
              xs.reduceOption((a, b) => Bin("OR", a, b)).getOrElse(BoolLit(false))
            def andAll(xs: Seq[Expr]): Expr =
              xs.reduceOption((a, b) => Bin("AND", a, b)).getOrElse(BoolLit(true))
            kind match {
              case "all"  => andAll(ps)
              case "any"  => orAll(ps)
              case "none" => if (ps.isEmpty) BoolLit(true) else Not(orAll(ps))
              case _ => // single: >1 true → false; any null → null; else =1
                def cnt(p0: Expr): Expr = p0 match {
                  // fold literal predicates — `CASE WHEN NULL` is a Spark
                  // type error (VOID condition), and the typed() pass has
                  // already folded `null = 2`-style terms to NullLit
                  case NullLit | BoolLit(false) => NumLit(0, isIntegral = true)
                  case BoolLit(true)            => NumLit(1, isIntegral = true)
                  case _ =>
                    CaseExpr(None, Seq((p0, NumLit(1, isIntegral = true): Expr)),
                      Some(NumLit(0, isIntegral = true)))
                }
                val total = ps.map(cnt)
                  .reduceOption((a, b) => Bin("+", a, b))
                  .getOrElse(NumLit(0, isIntegral = true))
                val anyNull = ps.map(p0 => IsNull(p0, negated = false): Expr)
                  .reduceOption((a, b) => Bin("OR", a, b)).getOrElse(BoolLit(false))
                CaseExpr(None, Seq(
                  (Bin(">", total, NumLit(1, isIntegral = true)), BoolLit(false): Expr),
                  (anyNull, NullLit: Expr)),
                  Some(Bin("=", total, NumLit(1, isIntegral = true))))
            }
          case _ => typedRec(e)
        }
      // IN over a literal list: full fold when the needle is literal too,
      // else an equality OR-chain so each element gets the cross-family
      // and NaN rules (Spark's exists() would type-error on mixed lists)
      case FnCall(n, Seq(x, l), st)
          if n.equalsIgnoreCase("list_in") && (l match {
            case ArrayLit(es) => es.forall(litVal)
            case Ident(c) => litEnv.get(c).exists {
              case ArrayLit(es) => es.forall(litVal); case _ => false }
            case _ => false
          }) =>
        val es = (l match {
          case Ident(c) => litEnv(c)
          case other    => other
        }).asInstanceOf[ArrayLit].items
        if (litVal(x)) {
          val rs = es.map(el => litEq(x, el))
          if (rs.contains(Some(true))) BoolLit(true)
          else if (rs.contains(None)) NullLit
          else BoolLit(false)
        } else if (es.isEmpty) BoolLit(false)
        else typed(es.map(el => Bin("=", x, el): Expr)
          .reduceOption((a, b) => Bin("OR", a, b)).get)
      case _ => typedRec(e)
    }

    // ---- exact compile-time temporal interpreter ----
    // openCypher temporal values (TIME, zoned datetimes, nanosecond
    // precision, calendar durations) exceed Spark's type system; almost
    // every temporal expression in practice is literal-rooted, so the
    // front-end evaluates those exactly with java.time
    // ([[graft.sql.Temporals]]) and only the RESULT becomes a column —
    // the same static-fold tier as litEq/quantifier unrolling above.
    private val TemporalCtorNames =
      Set("date", "datetime", "localdatetime", "time", "localtime", "duration")

    /** The statement clock: every zero-arg constructor and clock method
      * in ONE query reads the same instant (openCypher statement-scoped
      * current time — duration.inSeconds(localtime(), localtime()) is
      * exactly PT0S). */
    private lazy val statementClock: java.time.ZonedDateTime =
      java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)

    private def clockValue(kind: String): graft.sql.Temporals.TVal = {
      import graft.sql.Temporals._
      kind match {
        case "date"          => DDate(statementClock.toLocalDate)
        case "localdatetime" => DLocalDT(statementClock.toLocalDateTime)
        case "datetime"      => DZonedDT(statementClock)
        case "localtime"     => DLocalTime(statementClock.toLocalTime)
        case "time"          => DZonedTime(statementClock.toOffsetDateTime.toOffsetTime)
        case _ => throw ParseException("SyntaxError: duration() needs an argument")
      }
    }

    def tval(e: Expr): Option[graft.sql.Temporals.TVal] = e match {
      case TemporalLit(v) => Some(v)
      case Ident(c)       => litEnv.get(c).collect { case TemporalLit(v) => v }
      case _              => None
    }
    private def litAny(e: Expr): Option[Any] = e match {
      case NumLit(v, isInt) =>
        Some(if (isInt) java.lang.Long.valueOf(v.toLongExact)
             else java.lang.Double.valueOf(v.toDouble))
      case Neg(NumLit(v, isInt)) =>
        Some(if (isInt) java.lang.Long.valueOf(-v.toLongExact)
             else java.lang.Double.valueOf(-v.toDouble))
      case StrLit(s)      => Some(s)
      case TemporalLit(v) => Some(v)
      case Ident(c)       => litEnv.get(c).flatMap(litAny)
      case _              => None
    }
    private def litTemporalMap(e: Expr): Option[Map[String, Any]] = e match {
      case StructLit(fs) =>
        val vals = fs.map { case (k, x) => k -> litAny(x) }
        if (vals.forall(_._2.isDefined)) Some(vals.map { case (k, o) => k -> o.get }.toMap)
        else None
      case Ident(c) => litEnv.get(c).flatMap(litTemporalMap)
      case _        => None
    }

    private def temporalCtor(kind: String, arg: Expr): Option[graft.sql.Temporals.TVal] = {
      import graft.sql.Temporals._
      import java.time._
      arg match {
        case StrLit(s) => Some(kind match {
          case "date" => DDate(parseDate(s))
          case "localdatetime" => parseDateTimeText(s) match {
            case DZonedDT(z) => DLocalDT(z.toLocalDateTime)
            case other       => other
          }
          case "datetime" => parseDateTimeText(s) match {
            case DLocalDT(l) => DZonedDT(l.atZone(ZoneOffset.UTC))
            case other       => other
          }
          case "localtime" => parseTimeText(s) match {
            case Left(lt)  => DLocalTime(lt)
            case Right(ot) => DLocalTime(ot.toLocalTime)
          }
          case "time" => parseTimeText(s) match {
            case Right(ot) => DZonedTime(ot)
            case Left(lt)  => DZonedTime(OffsetTime.of(lt, ZoneOffset.UTC))
          }
          case _ => parseDuration(s)
        })
        case _ if tval(arg).isDefined =>
          // projection between kinds: date(dt), localtime(t), …
          val v = tval(arg).get
          Some(kind match {
            case "date"          => DDate(dateOf(v))
            case "localdatetime" => DLocalDT(LocalDateTime.of(dateOf(v), timeOf(v)))
            case "datetime" => v match {
              case z: DZonedDT => z
              case _ => DZonedDT(LocalDateTime.of(dateOf(v), timeOf(v)).atZone(
                offsetOf(v).getOrElse(ZoneOffset.UTC)))
            }
            case "localtime" => DLocalTime(timeOf(v))
            case "time" =>
              DZonedTime(OffsetTime.of(timeOf(v), offsetOf(v).getOrElse(ZoneOffset.UTC)))
            case _ => v match {
              case d: DDuration => d
              case _ => throw ParseException("SyntaxError: duration() of a non-duration")
            }
          })
        case _ => litTemporalMap(arg).map { m =>
          def offsetFor(zi: ZoneId): ZoneOffset = zi match {
            case zo: ZoneOffset => zo
            case z => z.getRules.getStandardOffset(java.time.Instant.EPOCH)
          }
          kind match {
            case "date" => DDate(buildDate(m))
            case "localdatetime" =>
              DLocalDT(LocalDateTime.of(buildDate(dateKeys(m)), buildTime(timeKeys(m))))
            case "datetime" =>
              if (m.contains("epochSeconds") || m.contains("epochMillis")) {
                val inst =
                  if (m.contains("epochSeconds"))
                    Instant.ofEpochSecond(m("epochSeconds").asInstanceOf[Number].longValue,
                      m.get("nanosecond").map(_.asInstanceOf[Number].longValue).getOrElse(0L))
                  else Instant.ofEpochMilli(m("epochMillis").asInstanceOf[Number].longValue)
                DZonedDT(inst.atZone(zoneOf(m).getOrElse(ZoneOffset.UTC)))
              } else {
                // a timezone override on a ZONED `datetime` base converts
                // the INSTANT first; remaining component overrides then
                // apply to the converted wall clock (TCK Temporal3
                // [11]-[13]). A zoned TIME-selection source instead
                // composes FIRST: local date+time built with overrides,
                // resolved in the SOURCE zone (named-zone DST rules apply
                // to the COMPOSED date), and only then instant-converted
                // to an overriding zone (Temporal3 [9][10] — Stockholm
                // 12:00 selected onto a March date is +02:00/CEST even
                // though the source sat in October/+01:00).
                val zone0 = zoneOf(m)
                val m2 = (m.get("datetime"), zone0) match {
                  case (Some(DZonedDT(z)), Some(zn)) =>
                    m + ("datetime" -> DZonedDT(z.withZoneSameInstant(zn)))
                  case _ => m
                }
                val timeSrcZone: Option[ZoneId] = m2.get("time").collect {
                  case DZonedTime(t) => t.getOffset
                  case DZonedDT(z)   => z.getZone
                }
                val ldt = LocalDateTime.of(buildDate(dateKeys(m2)), buildTime(timeKeys(m2)))
                timeSrcZone match {
                  case Some(srcZone) =>
                    val composed = ldt.atZone(srcZone)
                    DZonedDT(zone0.fold(composed)(composed.withZoneSameInstant))
                  case None =>
                    val zone = zone0
                      .orElse(m2.get("datetime").collect { case DZonedDT(z) => z.getZone })
                      .getOrElse(ZoneOffset.UTC)
                    DZonedDT(ldt.atZone(zone))
                }
              }
            case "localtime" => DLocalTime(buildTime(m))
            case "time" =>
              val zOpt = zoneOf(m).map(offsetFor)
              val m2 = (m.get("time"), zOpt) match {
                case (Some(DZonedTime(t)), Some(off)) =>
                  m + ("time" -> DZonedTime(t.withOffsetSameInstant(off)))
                // zoned datetime in time-position: instant-convert its
                // time-of-day (TCK Temporal3 [3] #18/#20)
                case (Some(DZonedDT(z)), Some(off)) =>
                  m + ("time" -> DZonedTime(
                    z.toOffsetDateTime.toOffsetTime.withOffsetSameInstant(off)))
                case _ => m
              }
              val off = zOpt.orElse(
                m2.get("time").flatMap(v => offsetOf(v.asInstanceOf[graft.sql.Temporals.TVal])))
                .getOrElse(ZoneOffset.UTC)
              DZonedTime(OffsetTime.of(buildTime(m2), off))
            case _ => buildDuration(m)
          }
        }
      }
    }

    /** A folded point-in-time value as a PLAIN castable literal column
      * (date/timestamp), for mixing with the runtime seconds-based
      * temporal paths (duration.between over stored columns). */
    private def castableTemporal(v: graft.sql.Temporals.TVal): org.apache.spark.sql.Column = {
      import graft.sql.Temporals._
      v match {
        case DDate(d)    => lit(java.sql.Date.valueOf(d))
        case DLocalDT(l) => lit(java.sql.Timestamp.valueOf(l))
        case DZonedDT(z) => lit(java.sql.Timestamp.from(z.toInstant))
        case other       => graft.sql.Temporals.column(other)
      }
    }

    /** A literal duration as a CalendarInterval literal — the form
      * Spark's native date/timestamp ± interval arithmetic accepts
      * (runtime-column arithmetic; sub-µs precision truncates). */
    private def intervalCol(d: graft.sql.Temporals.DDuration): org.apache.spark.sql.Column =
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          new org.apache.spark.unsafe.types.CalendarInterval(
            d.months.toInt, d.days.toInt, d.seconds * 1000000L + d.nanos / 1000L),
          org.apache.spark.sql.types.CalendarIntervalType))

    /** Engine-portable total seconds of a literal duration (months at the
      * Gregorian average) — the runtime duration encoding is seconds, so
      * a literal duration meeting a RUNTIME duration/number in comparison
      * or arithmetic materializes as seconds. */
    private def durationSeconds(d: graft.sql.Temporals.DDuration): BigDecimal =
      BigDecimal(d.months) * 2629746 + BigDecimal(d.days) * 86400 +
        BigDecimal(d.seconds) + BigDecimal(d.nanos) / 1000000000L

    /** A runtime temporal operand: a frame column whose Spark type is a
      * temporal encoding (tagged struct, DateType, TimestampNTZ). Operands
      * are flattened by this point, so stored properties are plain Idents. */
    private def runtimeTemporal(e: Expr): Option[(String, Column)] = e match {
      case Ident(c) if acc != null && acc.columns.contains(c) =>
        graft.sql.TemporalRuntime.kindOf(acc.schema(c).dataType)
          .map(k => (k, col(s"`$c`")))
      case _ => None
    }

    /** A runtime numeric operand (for duration scaling). */
    private def runtimeNum(e: Expr): Option[Column] = e match {
      case Ident(c) if acc != null && acc.columns.contains(c) =>
        acc.schema(c).dataType match {
          case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
            Some(col(s"`$c`"))
          case _: org.apache.spark.sql.types.DecimalType => Some(col(s"`$c`"))
          case _ => None
        }
      case _ => None
    }

    /** One side of a runtime temporal op: a folded literal TVal or a
      * (kind, column) runtime operand. */
    private def rtSide(litv: Option[graft.sql.Temporals.TVal], e: Expr)
        : Option[Either[graft.sql.Temporals.TVal, (String, Column)]] =
      litv.map(Left(_)).orElse(runtimeTemporal(e).map(Right(_)))

    /** Fold a fully-typed expression tree over temporal literals; None =
      * not a (foldable) temporal expression. Invalid temporal values
      * raise (the TCK's invalid-date/zone scenarios expect errors). */
    def foldTemporal(e: Expr): Option[Expr] = {
      import graft.sql.Temporals
      import graft.sql.Temporals._
      try e match {
        // null in, null out — constructors and their clock variants
        // (TCK Temporal4 [13])
        case FnCall(n, Seq(NullLit), _) if TemporalCtorNames(n.toLowerCase) =>
          Some(NullLit)
        case MethodCall(Ident(ns), m, Seq(NullLit))
            if TemporalCtorNames(ns.toLowerCase) &&
              Set("transaction", "statement", "realtime")(m.toLowerCase) =>
          Some(NullLit)
        case FnCall(n, Seq(arg), _) if TemporalCtorNames(n.toLowerCase) =>
          temporalCtor(n.toLowerCase, arg).map(TemporalLit)
        // statement clock: zero-arg constructors and the three named
        // clocks (transaction/statement scope to the query; realtime
        // approximated by the same capture)
        case FnCall(n, Seq(), false)
            if TemporalCtorNames(n.toLowerCase) && !n.equalsIgnoreCase("duration") =>
          Some(TemporalLit(clockValue(n.toLowerCase)))
        case MethodCall(Ident(ns), m, Seq())
            if TemporalCtorNames(ns.toLowerCase) && !ns.equalsIgnoreCase("duration") &&
              Set("transaction", "statement", "realtime")(m.toLowerCase) =>
          Some(TemporalLit(clockValue(ns.toLowerCase)))
        // datetime.fromepoch(sec, ns) / datetime.fromepochmillis(ms) —
        // UTC-zoned instants (TCK Temporal1 [11])
        case MethodCall(Ident(ns), m, args)
            if ns.equalsIgnoreCase("datetime") &&
              Set("fromepoch", "fromepochmillis")(m.toLowerCase) &&
              args.forall(litNum(_).isDefined) =>
          val ns0 = args.map(a => litNum(a).get)
          val inst =
            if (m.equalsIgnoreCase("fromepoch"))
              java.time.Instant.ofEpochSecond(ns0.head.toLongExact,
                ns0.lift(1).map(_.toLongExact).getOrElse(0L))
            else java.time.Instant.ofEpochMilli(ns0.head.toLongExact)
          Some(TemporalLit(graft.sql.Temporals.DZonedDT(
            inst.atZone(java.time.ZoneOffset.UTC))))
        case MethodCall(Ident(ns), m, args)
            if m.equalsIgnoreCase("truncate") && args.lengthIs >= 2 &&
              TemporalCtorNames(ns.toLowerCase) =>
          for {
            unit <- args.head match { case StrLit(u) => Some(u); case x => litAny(x).collect { case s: String => s } }
            v <- tval(args(1))
          } yield TemporalLit(Temporals.truncate(ns.toLowerCase, unit, v,
            args.lift(2).flatMap(litTemporalMap).getOrElse(Map.empty)))
        case MethodCall(Ident(ns), m, Seq(a, b))
            if ns.equalsIgnoreCase("duration") &&
              Set("between", "inmonths", "indays", "inseconds")(m.toLowerCase) &&
              (a == NullLit || b == NullLit) =>
          Some(NullLit) // null in, null out (TCK Temporal10 [13])
        case MethodCall(Ident(ns), m, Seq(a, b))
            if ns.equalsIgnoreCase("duration") &&
              Set("between", "inmonths", "indays", "inseconds")(m.toLowerCase) =>
          (tval(a), tval(b)) match {
            case (Some(va), Some(vb)) => Some(TemporalLit(
              if (m.equalsIgnoreCase("between")) Temporals.between(va, vb)
              else Temporals.betweenIn(m.toLowerCase match {
                case "inmonths" => "inMonths"
                case "indays"   => "inDays"
                case _          => "inSeconds"
              }, va, vb)))
            // one runtime side: keep the runtime (seconds-based) between,
            // materializing the folded side as a CASTABLE timestamp/date
            // literal instead of a tagged struct
            case (Some(va), None) =>
              Some(MethodCall(Ident(ns), m, Seq(Resolved(castableTemporal(va)), b)))
            case (None, Some(vb)) =>
              Some(MethodCall(Ident(ns), m, Seq(a, Resolved(castableTemporal(vb)))))
            case _ => None
          }
        case PropAccess(t, name) if tval(t).isDefined =>
          Some(Temporals.component(tval(t).get, name) match {
            case Some(l: java.lang.Long) => NumLit(BigDecimal(l), isIntegral = true)
            case Some(l: Long)           => NumLit(BigDecimal(l), isIntegral = true)
            case Some(s: String)         => StrLit(s)
            case Some(other)             => StrLit(other.toString)
            case None                    => NullLit
          })
        case Bin("+", a, b) => (tval(a), tval(b)) match {
          case (Some(x), Some(d: DDuration)) => Some(TemporalLit(Temporals.plus(x, d)))
          case (Some(d: DDuration), Some(x)) => Some(TemporalLit(Temporals.plus(x, d)))
          // a STORED temporal operand (struct or native column): exact
          // runtime calculus — decode/compute/re-encode with the same
          // calendar code the compile-time fold uses (TemporalRuntime)
          case (la, lb) if rtSide(la, a).isDefined && rtSide(lb, b).isDefined &&
              (runtimeTemporal(a).isDefined || runtimeTemporal(b).isDefined) =>
            graft.sql.TemporalRuntime.plusMinus(rtSide(la, a).get, rtSide(lb, b).get, 1)
              .map(Resolved(_))
              .orElse((la, lb) match { // not a temporal shape: fall through
                case (None, Some(d: DDuration)) if !litVal(a) =>
                  Some(Bin("+", a, Resolved(intervalCol(d))))
                case _ => None
              })
          // literal duration + RUNTIME temporal column: materialize the
          // duration as a CalendarInterval literal so Spark's native
          // date/timestamp interval arithmetic applies
          case (None, Some(d: DDuration)) if !litVal(a) =>
            Some(Bin("+", a, Resolved(intervalCol(d))))
          case (Some(d: DDuration), None) if !litVal(b) =>
            Some(Bin("+", b, Resolved(intervalCol(d))))
          case _ => None
        }
        case Bin("-", a, b) => (tval(a), tval(b)) match {
          case (Some(x), Some(d: DDuration)) => Some(TemporalLit(Temporals.minus(x, d)))
          case (Some(x), Some(y)) if x.isInstanceOf[DDuration] == y.isInstanceOf[DDuration] =>
            // temporal - temporal = duration.between(b, a)… only defined
            // point-to-point; leave cross shapes unfolded
            None
          case (la, lb) if rtSide(la, a).isDefined && rtSide(lb, b).isDefined &&
              (runtimeTemporal(a).isDefined || runtimeTemporal(b).isDefined) =>
            graft.sql.TemporalRuntime.plusMinus(rtSide(la, a).get, rtSide(lb, b).get, -1)
              .map(Resolved(_))
              .orElse((la, lb) match {
                case (None, Some(d: DDuration)) if !litVal(a) =>
                  Some(Bin("-", a, Resolved(intervalCol(d))))
                case _ => None
              })
          case (None, Some(d: DDuration)) if !litVal(a) =>
            Some(Bin("-", a, Resolved(intervalCol(d))))
          case _ => None
        }
        case Bin("*", a, b) => (tval(a), tval(b)) match {
          case (Some(d: DDuration), None) => litNum(b).map(k => TemporalLit(Temporals.scale(d, k)))
            .orElse(runtimeNum(b).map(kc =>
              Resolved(graft.sql.TemporalRuntime.scaleOp(Left(d), Right(kc), invert = false))))
          case (None, Some(d: DDuration)) => litNum(a).map(k => TemporalLit(Temporals.scale(d, k)))
            .orElse(runtimeNum(a).map(kc =>
              Resolved(graft.sql.TemporalRuntime.scaleOp(Left(d), Right(kc), invert = false))))
          case _ =>
            def rtDur(e: Expr) = runtimeTemporal(e).collect { case ("duration", c) => c }
            (rtDur(a), rtDur(b)) match {
              case (Some(dc), _) =>
                litNum(b).map(k => Resolved(graft.sql.TemporalRuntime.scaleOp(
                    Right(dc), Left(k), invert = false)): Expr)
                  .orElse(runtimeNum(b).map(kc =>
                    Resolved(graft.sql.TemporalRuntime.scaleOp(Right(dc), Right(kc), invert = false))))
              case (_, Some(dc)) =>
                litNum(a).map(k => Resolved(graft.sql.TemporalRuntime.scaleOp(
                    Right(dc), Left(k), invert = false)): Expr)
                  .orElse(runtimeNum(a).map(kc =>
                    Resolved(graft.sql.TemporalRuntime.scaleOp(Right(dc), Right(kc), invert = false))))
              case _ => None
            }
        }
        case Bin("/", a, b) => tval(a) match {
          case Some(d: DDuration) =>
            litNum(b).filter(_ != 0).map(k => TemporalLit(Temporals.scale(d, BigDecimal(1) / k)))
              .orElse(runtimeNum(b).map(kc =>
                Resolved(graft.sql.TemporalRuntime.scaleOp(Left(d), Right(kc), invert = true))))
          case _ => runtimeTemporal(a).collect { case ("duration", dc) =>
            litNum(b).filter(_ != 0).map(k => Resolved(graft.sql.TemporalRuntime.scaleOp(
                Right(dc), Left(k), invert = true)): Expr)
              .orElse(runtimeNum(b).map(kc =>
                Resolved(graft.sql.TemporalRuntime.scaleOp(Right(dc), Right(kc), invert = true))))
          }.flatten
        }
        case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("tostring") && tval(a).isDefined =>
          Some(StrLit(Temporals.render(tval(a).get)))
        // a literal duration meeting a RUNTIME value in comparison: the
        // engine's runtime duration encoding is total seconds, so the
        // literal materializes as seconds (q_cypher_temporal's
        // `duration.between(col, …) > duration('P1460D')` shape)
        case Bin(op, l, r) if Set("<", "<=", ">", ">=", "=", "<>")(op) =>
          def secsLit(d: DDuration): Expr = {
            val s = durationSeconds(d)
            NumLit(s, s.isWhole)
          }
          (tval(l), tval(r)) match {
            // both literal (possibly via WITH-bound idents): exact fold —
            // cross-kind equality is false, cross-kind ordering null
            case (Some(va), Some(vb)) =>
              val (tl, tr) = (TemporalLit(va): Expr, TemporalLit(vb): Expr)
              op match {
                case "="  => Some(litEq(tl, tr).fold(NullLit: Expr)(b => BoolLit(b)))
                case "<>" => Some(litEq(tl, tr).fold(NullLit: Expr)(b => BoolLit(!b)))
                case _ => litCmp(tl, tr) match {
                  case Some(None) => Some(NullLit)
                  case Some(Some(k)) => Some(BoolLit(op match {
                    case "<"  => k < 0
                    case "<=" => k <= 0
                    case ">"  => k > 0
                    case _    => k >= 0
                  }))
                  case None => None
                }
              }
            case (Some(d: DDuration), None) if !litVal(r) => Some(Bin(op, secsLit(d), r))
            case (None, Some(d: DDuration)) if !litVal(l) => Some(Bin(op, l, secsLit(d)))
            case _ => None
          }
        // component access on a RUNTIME DateType / TimestampNTZ column
        // (a stored temporal property): extract with native functions
        case PropAccess(Ident(c), p) if acc != null && acc.columns.contains(c) &&
            (acc.schema(c).dataType == org.apache.spark.sql.types.DateType ||
             acc.schema(c).dataType == org.apache.spark.sql.types.TimestampNTZType) =>
          val cc = col(c)
          def iso(x: org.apache.spark.sql.Column) = Some(Resolved(x.cast("long")))
          p match {
            case "year"    => iso(year(cc))
            case "quarter" => iso(quarter(cc))
            case "month"   => iso(month(cc))
            case "week"    => iso(weekofyear(cc))
            case "weekYear" => iso(expr(s"date_part('YEAROFWEEK', $c)"))
            case "day"     => iso(dayofmonth(cc))
            case "ordinalDay" => iso(dayofyear(cc))
            case "dayOfWeek" | "weekDay" => iso(((dayofweek(cc) + 5) % 7) + 1)
            case "dayOfQuarter" | "quarterDay" =>
              iso(datediff(cc, date_trunc("quarter", cc).cast("date")) + 1)
            case "hour" if acc.schema(c).dataType != org.apache.spark.sql.types.DateType =>
              iso(hour(cc))
            case "minute" if acc.schema(c).dataType != org.apache.spark.sql.types.DateType =>
              iso(minute(cc))
            case "second" if acc.schema(c).dataType != org.apache.spark.sql.types.DateType =>
              iso(second(cc))
            case "millisecond" => iso(expr(s"date_part('MICROSECONDS', $c)") % 1000000 / 1000)
            case "microsecond" => iso(expr(s"date_part('MICROSECONDS', $c)") % 1000000)
            case "nanosecond"  => iso(expr(s"date_part('MICROSECONDS', $c)") % 1000000 * 1000)
            case _ => None
          }
        case _ => None
      } catch {
        case pe: ParseException => throw pe
        case ex: Exception =>
          throw ParseException(s"TemporalError: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
      }
    }

    def typedRec(e: Expr): Expr = {
      val e2pre = e match {
        case Bin(op, l, r)          => Bin(op, typed(l), typed(r))
        case Neg(x)                 => Neg(typed(x))
        case Not(x)                 => Not(typed(x))
        case FnCall(n, args, st)    => FnCall(n, args.map(typed), st)
        case MethodCall(t, n, args) => MethodCall(typed(t), n, args.map(typed))
        case ArrayLit(xs)           => ArrayLit(xs.map(typed))
        case StructLit(fs)          => StructLit(fs.map { case (k, x) => k -> typed(x) })
        case InList(x, es, neg)     => InList(typed(x), es.map(typed), neg)
        case Between(x, lo, hi)     => Between(typed(x), typed(lo), typed(hi))
        case IsNull(x, n)           => IsNull(typed(x), n)
        case CaseExpr(op, bs, el) =>
          CaseExpr(op.map(typed), bs.map { case (w, t) => (typed(w), typed(t)) }, el.map(typed))
        case ListComp(v2, l, w, m)    => ListComp(v2, typed(l), w.map(typed), m.map(typed))
        case Quantifier(k, v2, l, pr) => Quantifier(k, v2, typed(l), typed(pr))
        case PropAccess(t, p) if !t.isInstanceOf[Ident] => PropAccess(typed(t), p)
        case other => other
      }
      // exact temporal folding first: date('…') + duration('…') must fold
      // BEFORE the generic '+' typing below sees it
      val e2 = foldTemporal(e2pre).getOrElse(e2pre)
      e2 match {
        // openCypher rejects statically non-boolean operands to the
        // logical operators (TCK Boolean1-5 [Fail on …] scenarios);
        // '?'-tagged operands stay dynamic, Spark's cast rules apply
        case Bin(op, l, r) if Set("AND", "OR", "XOR")(op.toUpperCase) &&
            Seq(l, r).exists(x => "ifsam".contains(typeTag(x))) =>
          throw ParseException(s"SyntaxError: non-boolean operand to $op")
        case Not(x) if "ifsam".contains(typeTag(x)) =>
          throw ParseException("SyntaxError: non-boolean operand to NOT")
        // ---- dynamic-typed (variant) operand dispatch: one operand is a
        //      runtime mixed-kind value; ops dispatch per-row on its rank
        //      ([[Variant]]) ----
        case Bin(op, l, r) if Set("=", "<>", "<", "<=", ">", ">=")(op) &&
            (isVariantE(l) || isVariantE(r)) =>
          val c = op match {
            case "="  => Variant.vEq(asVariantCol(l), asVariantCol(r))
            case "<>" => !Variant.vEq(asVariantCol(l), asVariantCol(r))
            case o    => Variant.vCmp(o, asVariantCol(l), asVariantCol(r))
          }
          ColRef(c, 'b')
        case Bin("+", l, r) if isVariantE(l) || isVariantE(r) =>
          ColRef(Variant.vPlus(asVariantCol(l), asVariantCol(r)), 'v')
        case Bin(op, l, r) if Set("-", "*", "/", "%")(op) &&
            (isVariantE(l) || isVariantE(r)) =>
          ColRef(Variant.vArith(op, asVariantCol(l), asVariantCol(r)), 'v')
        case Neg(x) if isVariantE(x) =>
          ColRef(Variant.vNeg(colOfTyped(x)), 'v')
        case IsNull(x, neg) if isVariantE(x) =>
          val n = Variant.isNullV(colOfTyped(x))
          ColRef(if (neg) !n else n, 'b')
        case FnCall(n, Seq(l, r), _)
            if Set("starts_with", "ends_with")(n.toLowerCase) &&
              (isVariantE(l) || isVariantE(r)) =>
          ColRef(Variant.vStringPred(
            if (n.equalsIgnoreCase("starts_with")) "starts" else "ends",
            asVariantCol(l), asVariantCol(r)), 'b')
        case ContainsOp(l, "ONE", r) if isVariantE(l) || isVariantE(r) =>
          ColRef(Variant.vStringPred("contains", asVariantCol(l), asVariantCol(r)), 'b')
        case FnCall(n, Seq(l, r), _)
            if n.equalsIgnoreCase("str_contains") && (isVariantE(l) || isVariantE(r)) =>
          ColRef(Variant.vStringPred("contains", asVariantCol(l), asVariantCol(r)), 'b')
        case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("size") && isVariantE(a) =>
          ColRef(Variant.vSize(colOfTyped(a)), 'i')
        case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("reverse") && isVariantE(a) =>
          ColRef(Variant.vReverse(colOfTyped(a)), 'v')
        case FnCall(n, Seq(a), _) if Set("min", "max")(n.toLowerCase) && isVariantE(a) =>
          ColRef(if (n.equalsIgnoreCase("min")) Variant.vMin(colOfTyped(a))
            else Variant.vMax(colOfTyped(a)), 'v', agg = true)
        // count(x) skips openCypher nulls; a null VARIANT is a rank-8
        // struct, not a SQL null, so count it out explicitly
        case FnCall(n, Seq(a), st) if n.equalsIgnoreCase("count") && isVariantE(a) && !st =>
          ColRef(count(when(!Variant.isNullV(colOfTyped(a)), lit(1))), 'i', agg = true)
        // count(DISTINCT x) over a variant: distinct by the EQUIVALENCE
        // key (1 ≡ 1.0, deep over lists/maps), nulls skipped
        case FnCall(n, Seq(a), _)
            if n.equalsIgnoreCase("count_distinct") && isVariantE(a) =>
          val c = colOfTyped(a)
          ColRef(countDistinct(when(!Variant.isNullV(c), c.getField("_veq"))), 'i',
            agg = true)
        // maps with per-row value kinds, or a list of maps whose KEY SETS
        // differ — one struct type cannot hold them. Depth-bounded: each
        // wrap level re-projects the inner when-tree into every slot, so
        // composition is multiplicative; past depth 2 the expression tree
        // outgrows codegen (maps-in-lists-in-maps stays an expected
        // failure, now failing FAST instead of exhausting the heap)
        case StructLit(fs) if fs.exists(f => isVariantE(f._2)) =>
          // depth measured on the RAW tree (children are already typed
          // here, so their container depth is no longer visible)
          if (nestDepth(e) > 2)
            throw ParseException(
              "UnsupportedDynamicNesting: heterogeneous value nested deeper than 2 levels")
          ColRef(Variant.ofMapFields(fs.map { case (k, v) =>
            k -> Variant.asElem(asVariantCol(v)) }), 'v')
        case ArrayLit(es)
            if es.length > 1 && es.forall(_.isInstanceOf[StructLit]) &&
              es.map { case StructLit(fs) => fs.map(_._1); case _ => Nil }
                .distinct.length > 1 =>
          if (nestDepth(e) > 2)
            throw ParseException(
              "UnsupportedDynamicNesting: heterogeneous value nested deeper than 2 levels")
          ColRef(Variant.ofElems(array(es.map { e3 =>
            Variant.asElem(asVariantCol(e3))
          }: _*)), 'v')
        // (litEnv-bound idents skip the runtime dispatch: the symbolic
        // static folds below resolve them EXACTLY, including nested
        // structure the one-level element encoding cannot carry — TCK
        // Map1 [3])
        case FnCall(n, Seq(t, ix), _)
            if n.equalsIgnoreCase("list_index") && isVariantE(t) &&
              !litEnvIdent(t) =>
          ColRef(Variant.vIndex(colOfTyped(t), colOfTyped(ix)), 'v')
        case FnCall(n, Seq(t, lo, hi), _)
            if n.equalsIgnoreCase("list_slice") && isVariantE(t) =>
          ColRef(Variant.vSlice(colOfTyped(t), colOfTyped(lo), colOfTyped(hi)), 'v')
        case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("tostring") && isVariantE(a) =>
          ColRef(Variant.vToString(colOfTyped(a)), 's')
        case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("labels") && isVariantE(a) =>
          ColRef(Variant.vLabels(colOfTyped(a)), 'a')
        case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("type") && isVariantE(a) =>
          ColRef(Variant.vType(colOfTyped(a)), 's')
        case PropAccess(t, p) if isVariantE(t) && !litEnvIdent(t) =>
          ColRef(Variant.vProp(colOfTyped(t), p), 'v')
        case FnCall(n, Seq(t, k), _)
            if n.equalsIgnoreCase("map_index") && isVariantE(t) && !litEnvIdent(t) =>
          k match {
            case StrLit(kk) => ColRef(Variant.vProp(colOfTyped(t), kk), 'v')
            case _ => e2
          }
        // ---- post-recursion re-dispatch: a child fold exposed a literal
        //      list (`[3]+4` → `[3, 4]`) — re-enter typed() so the static
        //      literal rules see the folded shape (their guards replicate
        //      the pre-recursion ones exactly, so this terminates) ----
        case Bin("+", l, r) if litVal(l) && litVal(r) &&
            (l.isInstanceOf[ArrayLit] || r.isInstanceOf[ArrayLit]) =>
          typed(Bin("+", l, r))
        case FnCall(n, Seq(x, ArrayLit(es)), st)
            if n.equalsIgnoreCase("list_in") && es.forall(litVal) =>
          typed(FnCall(n, Seq(x, ArrayLit(es)), st))
        case FnCall(n, Seq(x, l), _)
            if n.equalsIgnoreCase("list_in") && isVariantE(l) =>
          ColRef(Variant.vIn(asVariantCol(x), colOfTyped(l)), 'b')
        case Quantifier(kind, v2, src, pred)
            if isVariantE(src) || isVariantArrayE(src) =>
          val predF: Column => Column = el => {
            val p = typed(Ast.mapDown(pred) {
              case Ident(`v2`) => ColRef(Variant.ofElemValue(el), 'v')
              case x => x
            })
            colOfTyped(p)
          }
          ColRef(Variant.vQuantifier(kind, variantListOf(src), predF), 'b')
        case ListComp(v2, src, w, m) if isVariantE(src) || isVariantArrayE(src) =>
          def substEl(body: Expr, el: Column): Column =
            colOfTyped(typed(Ast.mapDown(body) {
              case Ident(`v2`) => ColRef(Variant.ofElemValue(el), 'v')
              case x => x
            }))
          val filtered = w match {
            case Some(p) => Variant.vFilter(variantListOf(src), el => substEl(p, el))
            case None    => variantListOf(src)
          }
          val mapped = m match {
            case Some(mx) if mx != Ident(v2) =>
              Variant.vTransform(filtered, el => {
                val te = typed(Ast.mapDown(mx) {
                  case Ident(`v2`) => ColRef(Variant.ofElemValue(el), 'v')
                  case x => x
                })
                Variant.asElem(asVariantCol(te))
              })
            case _ => filtered
          }
          ColRef(mapped, 'v')
        case Bin("+", l, r) =>
          (typeTag(l), typeTag(r)) match {
            // list + scalar appends (TCK Precedence3 [4]: `[1]+2` = [1,2])
            case ('a', t) if "ifsb".contains(t) => FnCall("array_append", Seq(l, r))
            case ('a', _) | (_, 'a') if unifyEntityArrays(l, r).isDefined =>
              val (lc, rc) = unifyEntityArrays(l, r).get
              ColRef(concat(lc, rc), 'a', Some(unifiedElemType(l, r)))
            case ('a', _) | (_, 'a') => FnCall("concat", Seq(l, r))
            case (tl, tr) if tl == 's' || tr == 's' =>
              // ANSI concat takes strings: cast a known-numeric side
              def s(x: Expr, t: Char): Expr =
                if (t == 'i' || t == 'f') MethodCall(x, "asString", Seq.empty) else x
              FnCall("concat", Seq(s(l, tl), s(r, tr)))
            case _ => e2
          }
        case Bin("/", l, r) if typeTag(l) == 'i' && typeTag(r) == 'i' =>
          FnCall("intdiv", Seq(l, r))
        // range() argument discipline: integer arguments only, step ≠ 0
        // (TCK List11 [4][5] — the reference raises ArgumentError at
        // runtime; literal arguments let us raise at compile time)
        case FnCall(n, args, _) if n.equalsIgnoreCase("range") && args.length >= 2 =>
          def nonInt(x: Expr): Boolean = x match {
            case NumLit(_, false) | BoolLit(_) | StrLit(_) | ArrayLit(_) |
                StructLit(_) => true
            case Neg(y) => nonInt(y)
            case _ => false
          }
          if (args.exists(nonInt))
            throw ParseException("ArgumentError: InvalidArgumentType — range() takes integer arguments")
          if (args.length >= 3 && litNum(args(2)).contains(BigDecimal(0)))
            throw ParseException("ArgumentError: NumberOutOfRange — range() step must not be zero")
          e2
        // list subscript discipline: a non-integer literal index on a
        // known list is a type error (TCK List1 [8][9])
        case FnCall(n, Seq(t, ix), _)
            if n.equalsIgnoreCase("list_index") && typeTag(t) == 'a' &&
              (ix match {
                case NumLit(_, false) | BoolLit(_) | StrLit(_) => true
                case Neg(NumLit(_, false)) => true
                // statically-typed non-integer index column (a WITH-bound
                // float/string/bool — TCK List1 [8][9])
                case _ => "fsb".contains(typeTag(ix))
              }) =>
          throw ParseException("TypeError: InvalidArgumentType — list subscript must be an integer")
        // aggregates can't run inside a per-element lambda (TCK List12 [7])
        case ListComp(_, _, w, m)
            if (w.toSeq ++ m.toSeq).exists(graft.sql.Translator.containsAgg) =>
          throw ParseException("SyntaxError: InvalidAggregation — aggregation in list comprehension")
        // string predicates on a statically non-string operand are null
        // (openCypher; TCK Precedence4 [4] — `true STARTS WITH 'abc'`)
        case FnCall(n, args, _)
            if Set("starts_with", "ends_with")(n.toLowerCase) &&
              args.exists(a => "bifam".contains(typeTag(a))) =>
          NullLit
        case ContainsOp(l, "ONE", r)
            if Seq(l, r).exists(a => "bifam".contains(typeTag(a))) =>
          NullLit
        // Cypher CONTAINS is string containment (the shared ContainsOp
        // node carries the SQL dialect's collection semantics otherwise)
        case ContainsOp(l, "ONE", r) => FnCall("str_contains", Seq(l, r))
        // ---- static three-valued folds over literal operands ----
        case Bin("=", l, r) if litVal(l) && litVal(r) =>
          litEq(l, r).fold(NullLit: Expr)(b => BoolLit(b))
        case Bin("<>", l, r) if litVal(l) && litVal(r) =>
          litEq(l, r).fold(NullLit: Expr)(b => BoolLit(!b))
        case Bin(op, l, r) if Set("<", "<=", ">", ">=")(op) &&
            litVal(l) && litVal(r) =>
          litCmp(l, r) match {
            case Some(None) => NullLit
            case Some(Some(k)) => BoolLit(op match {
              case "<" => k < 0
              case "<=" => k <= 0
              case ">" => k > 0
              case _ => k >= 0
            })
            case None => e2
          }
        // ---- cross-family comparisons: equality false, ordering null ----
        case Bin("=", l, r) if crossFamily(l, r)  => BoolLit(false)
        case Bin("<>", l, r) if crossFamily(l, r) => BoolLit(true)
        case Bin(op, l, r) if Set("<", "<=", ">", ">=")(op) && crossFamily(l, r) =>
          NullLit
        // ---- IEEE float division + NaN-false comparisons ----
        case Bin("/", l, r)
            if Seq(l, r).forall(x => "if".contains(typeTag(x))) &&
              Seq(l, r).exists(x => typeTag(x) == 'f') =>
          FnCall("fdiv", Seq(l, r))
        case Bin(op, l, r)
            if Set("<", "<=", ">", ">=", "=", "<>")(op) &&
              Seq(l, r).forall(x => "if".contains(typeTag(x))) &&
              Seq(l, r).exists(x => typeTag(x) == 'f') =>
          FnCall("nancmp", Seq(l, r, StrLit(op)))
        // simple CASE branches whose when-value is statically another
        // family can never match — prune them (Spark would raise a
        // binary-op type mismatch or coerce '0' = 0 to a false match)
        case CaseExpr(Some(op2), bs, els)
            if bs.exists(b => crossFamily(op2, b._1)) =>
          val keep = bs.filterNot(b => crossFamily(op2, b._1))
          if (keep.nonEmpty) CaseExpr(Some(op2), keep, els)
          else els.getOrElse(NullLit)
        // ---- map value access & keys() ----
        case PropAccess(StructLit(fs), p) =>
          fs.find(_._1 == p).map(_._2).getOrElse(NullLit)
        // symbolically-bound literal map/list: exact static resolution
        case PropAccess(Ident(c), p)
            if litEnv.get(c).exists(_.isInstanceOf[StructLit]) =>
          val StructLit(fs) = (litEnv(c): @unchecked)
          fs.find(_._1 == p).map(f => typed(f._2)).getOrElse(NullLit)
        case FnCall(n, Seq(Ident(c), k), _)
            if Set("list_index", "map_index")(n.toLowerCase) && litEnv.contains(c) =>
          litEnv(c) match {
            case StructLit(fs) => mapAccessCase(fs.map { case (kk, v) => kk -> typed(v) }, k)
            case NullLit       => NullLit
            case ArrayLit(es) if litNum(k).isDefined =>
              val i0 = litNum(k).get.toInt
              val i = if (i0 < 0) es.length + i0 else i0
              if (i >= 0 && i < es.length) typed(es(i)) else NullLit
            case _ => e2
          }
        // conversion functions statically reject openCypher-invalid
        // operand types (TCK TypeConversion1 [5] / 2 [8] / 3 [6])
        case FnCall(n, Seq(a), _)
            if n.equalsIgnoreCase("tointeger") && "am".contains(typeTag(a)) =>
          throw ParseException("SyntaxError: InvalidArgumentValue — toInteger on collection")
        case FnCall(n, Seq(a), _)
            if n.equalsIgnoreCase("tofloat") && "bam".contains(typeTag(a)) =>
          throw ParseException("SyntaxError: InvalidArgumentValue — toFloat operand")
        case FnCall(n, Seq(a), _)
            if n.equalsIgnoreCase("toboolean") && "fam".contains(typeTag(a)) =>
          throw ParseException("SyntaxError: InvalidArgumentValue — toBoolean operand")
        case FnCall(n, Seq(a), _)
            if n.equalsIgnoreCase("tostring") && "am".contains(typeTag(a)) =>
          throw ParseException("SyntaxError: InvalidArgumentValue — toString operand")
        // a mixed-family literal list in a dynamic position (inside
        // collect(), a projection, …) materializes as a VARIANT list —
        // each element keeps its exact kind for comparison, ordering and
        // rendering ([[Variant]]; TCK Literals7 [16][17], Comparison1
        // [3]). Static accesses fold before this, so only genuinely
        // dynamic uses pay the encoding.
        case al @ ArrayLit(es)
            if es.length > 1 && litVal(al) && !sparkSafeLit(al) &&
              Variant.ofLiteral(al).isDefined =>
          ColRef(Variant.litCol(Variant.ofLiteral(al).get), 'v')
        case FnCall(n, Seq(NullLit, _), _)
            if Set("list_index", "map_index")(n.toLowerCase) => NullLit
        case FnCall(n, Seq(StructLit(fs), k), _)
            if Set("list_index", "map_index")(n.toLowerCase) =>
          mapAccessCase(fs, k)
        case FnCall(n, Seq(Ident(c), k), _)
            if Set("list_index", "map_index")(n.toLowerCase) &&
              acc != null && acc.columns.contains(c) =>
          import org.apache.spark.sql.types.{NullType, StructType}
          acc.schema(c).dataType match {
            case st: StructType =>
              val pairs = st.fields.toSeq.map { f =>
                val v: Expr = PropAccess(Ident(c), f.name)
                val tagged = tagOfDt(f.dataType)
                (f.name, if (st.fields.map(_.dataType).distinct.length > 1 && tagged != 's')
                  MethodCall(v, "asString", Seq.empty) else v)
              }
              mapAccessCase(pairs.map { case (kk, v) => kk -> v }, k)
            case NullType => NullLit
            case _        => e2
          }
        case FnCall(n, Seq(NullLit), _)
            if Set("nodes", "relationships", "keys", "labels", "properties")(n.toLowerCase) =>
          NullLit
        case FnCall(n, Seq(m), _) if n.equalsIgnoreCase("keys") =>
          m match {
            case StructLit(fs) => ArrayLit(fs.map(f => StrLit(f._1)))
            case Ident(c) if litEnv.get(c).exists(_.isInstanceOf[StructLit]) =>
              val StructLit(fs) = (litEnv(c): @unchecked)
              ArrayLit(fs.map(f => StrLit(f._1)))
            case Ident(c) if acc != null && acc.columns.contains(c) =>
              import org.apache.spark.sql.types.{NullType, StructType}
              acc.schema(c).dataType match {
                case st: StructType => ArrayLit(st.fieldNames.toSeq.map(StrLit(_)))
                case NullType       => NullLit
                case _              => FnCall("map_keys", Seq(m))
              }
            case _ => FnCall("map_keys", Seq(m))
          }
        // Cypher substring is 0-based (SQL's is 1-based ANSI)
        case FnCall(n, args, st) if n.equalsIgnoreCase("substring") =>
          FnCall("substr0", args, st)
        // Cypher size() measures strings too; Spark's size() is
        // collections-only (TCK Quantifier* `size(x) = 3` over strings)
        case FnCall(n, Seq(a), st) if n.equalsIgnoreCase("size") && typeTag(a) == 's' =>
          FnCall("length", Seq(a), st)
        case FnCall(n, Seq(a), st) if n.equalsIgnoreCase("sum") && typeTag(a) == 'i' =>
          FnCall("sum_int", Seq(a), st)
        case FnCall(n, Seq(a), st) if n.equalsIgnoreCase("sum_distinct") && typeTag(a) == 'i' =>
          FnCall("sum_int_distinct", Seq(a), st)
        case other => other
      }
    }

    /** Whole-entity struct of a bound variable (the shape finishReturn
      * renders for a top-level bare variable): every `v_*` column with
      * the prefix stripped, the whole value null when the identity is
      * null. `withFields` forces a caller-supplied unified field set —
      * heterogeneous lists mixing nodes and rels need one element type,
      * so absent fields materialize as typed nulls. */
    def entityCol(v: String,
        withFields: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty): Column = {
      val own = acc.columns.filter(_.startsWith(s"${v}_")).sorted
        .map(c => c.stripPrefix(s"${v}_") -> c).toMap
      val fields =
        if (withFields.nonEmpty)
          withFields.map { case (fn, dt) =>
            own.get(fn).map(c => col(c).as(fn)).getOrElse(lit(null).cast(dt).as(fn)) }
        else own.toSeq.sortBy(_._1).map { case (fn, c) => col(c).as(fn) }
      val idCol = if (own.contains("id")) col(own("id")) else col(s"${v}__eid")
      when(idCol.isNull, lit(null)).otherwise(struct(fields.toIndexedSeq: _*))
    }

    def entityFieldTypes(v: String): Seq[(String, org.apache.spark.sql.types.DataType)] =
      acc.columns.filter(_.startsWith(s"${v}_")).sorted
        .map(c => c.stripPrefix(s"${v}_") -> acc.schema(c).dataType)

    private def isEntity(v: String): Boolean = (nodeVars(v) || relVars(v)) && !scalars(v)

    /** openCypher keys(n) / properties(n) over a bound pattern variable:
      * the property set is a schema fact of the accumulated frame, so both
      * resolve statically — keys to a sorted literal list, properties to a
      * struct over the variable's flattened prop columns (id/label are
      * metadata, not properties, matching the reference's Result
      * property-name surface). */
    def rewriteMetaFns(e: Expr): Expr = {
      def propNames(v: String): Seq[String] =
        (acc.columns.filter(_.startsWith(s"${v}_")).map(_.stripPrefix(s"${v}_"))
          .filterNot(Set("id", "label"))
          .filterNot(_.startsWith("_")) // hidden: _eid, _uid, __plen …
          .toSeq ++
          // a user `id` prop lives in the hidden `_uid` slot
          (if (acc.columns.contains(s"${v}__uid")) Seq("id") else Nil))
          .sorted
      // horizon column carrying property `p` of variable `v` (the user
      // `id` prop reads the `_uid` slot)
      def propCol(v: String, p: String): Column =
        if (p == "id" && acc.columns.contains(s"${v}__uid")) col(s"${v}__uid")
        else col(s"${v}_$p")
      def f(x: Expr): Expr = rewriteMetaFns(x)
      e match {
        // length() is defined on paths (and, as an extension, strings and
        // lists) — a node or relationship operand is a type error (TCK
        // Path3 [2])
        case FnCall(n, Seq(Ident(v)), _)
            if (nodeVars(v) || relVars(v)) && !scalars(v) &&
              n.equalsIgnoreCase("length") =>
          throw ParseException(s"SyntaxError: InvalidArgumentType — length() on entity $v")
        // size() is defined on lists and strings, NOT paths — length() is
        // the path accessor (TCK List6 [5])
        case FnCall(n, Seq(Ident(pv)), _)
            if n.equalsIgnoreCase("size") && paths.contains(pv) =>
          throw ParseException(s"SyntaxError: InvalidArgumentType — size() on path $pv")
        case FnCall(n, Seq(Ident(v)), _)
            if (nodeVars(v) || relVars(v)) && n.equalsIgnoreCase("keys") =>
          // runtime, per-row: a property set to null no longer has the
          // key (openCypher property bags; TCK Remove1 [2][7])
          val names = propNames(v)
          if (names.isEmpty) Resolved(array().cast("array<string>"))
          else Resolved(filter(
            array(names.map(p2 => when(propCol(v, p2).isNotNull, lit(p2))): _*),
            x => x.isNotNull))
        // dynamic property access `v[keyExpr]` on an entity: CASE over
        // the entity's prop columns (TCK Merge6-8 keyValue projections)
        case FnCall(n2, Seq(Ident(v), keyE), _)
            if Set("list_index", "map_index")(n2.toLowerCase) &&
              (nodeVars(v) || relVars(v)) && !scalars(v) && acc != null =>
          val names = propNames(v)
          // heterogeneous prop types can't share one CASE result type —
          // render all branches as strings then (lossy only for the
          // already-unrepresentable mixed case)
          val mixed = names.map(p2 =>
            acc.select(propCol(v, p2)).schema.head.dataType).distinct.length > 1
          def branch(p2: String): Expr =
            if (mixed) MethodCall(PropAccess(Ident(v), p2), "asString", Seq.empty)
            else PropAccess(Ident(v), p2)
          if (names.isEmpty) NullLit
          else CaseExpr(Some(f(keyE)),
            names.map(p2 => (StrLit(p2): Expr) -> branch(p2)),
            Some(NullLit))
        case FnCall(n, Seq(Ident(v)), _)
            if (nodeVars(v) || relVars(v)) && n.equalsIgnoreCase("properties") =>
          // PropAccess (not the flat name): flatten runs after this
          // rewrite and maps v.p → v_p itself. A NULL entity (optional
          // miss) has null properties, not {} (TCK Graph9 [3]).
          // On a user-id-decoupled store (hidden `_uid` slot present) the
          // present-key SET varies per row (the user `id` prop exists on
          // only some vertices), which a fixed struct type cannot express —
          // return the engine's variant MAP value with null-valued props
          // dropped row-wise ([[Variant.ofPropBag]]); `id` reads the _uid
          // slot, not identity.
          val idCol = if (nodeVars(v)) col(s"${v}_id") else col(s"${v}__eid")
          val hasUid = nodeVars(v) && acc.columns.contains(s"${v}__uid")
          if (hasUid) {
            val bag = Variant.ofPropBag(propNames(v).map { p =>
              val c = propCol(v, p)
              val dt = acc.select(c).schema.head.dataType
              p -> Variant.asElem(Variant.ofDataType(c, dt))
            })
            Resolved(when(idCol.isNull, Variant.nullV).otherwise(bag))
          } else {
            val entries = propNames(v).map(p => p -> (PropAccess(Ident(v), p): Expr))
            CaseExpr(None, Seq((Resolved(idCol.isNull): Expr) -> NullLit),
              Some(StructLit(entries)))
          }
        // properties()/labels()/type() of a literal null are null; and
        // properties() of a map value is the map itself (TCK Graph4 [3],
        // Graph9 [3][4])
        case FnCall(n, Seq(NullLit), _)
            if Set("properties", "labels", "type")(n.toLowerCase) =>
          NullLit
        case FnCall(n, Seq(m: StructLit), _) if n.equalsIgnoreCase("properties") =>
          m
        // a property the schema has never seen is null, not an error —
        // openCypher records are schema-flexible property bags. The check
        // is case-SENSITIVE (n.aGe ≠ n.age) although Spark columns are
        // not, hence the explicit columns lookup.
        // `id` and `label` are identity metadata, not properties: `n.id`
        // reads the PROPERTY id, which the storage model cannot carry
        // (explicit {id: n} props become the identity itself) — openCypher
        // resolves an absent property to null (id()/labels()/type() are
        // the metadata accessors)
        case PropAccess(Ident(v), prop)
            if (nodeVars(v) || relVars(v)) && acc != null &&
              ((nodeVars(v) && Set("id", "label")(prop)) ||
                (relVars(v) && prop == "label") ||
                !acc.columns.contains(s"${v}_$prop")) =>
          // `n.id` is the PROPERTY id: stored in the hidden `_uid` slot
          // when the node was created with an explicit id prop (identity
          // is internal and never user-visible)
          if (prop == "id" && acc.columns.contains(s"${v}__uid"))
            Resolved(col(s"${v}__uid"))
          else NullLit
        // startNode/endNode over a merged relationship: the bind keeps the
        // endpoint identities as hidden `__src`/`__dst` columns, and the
        // store's explicit-id convention makes identity double as the
        // user-visible id prop (TCK Merge5 [11])
        case FnCall(n, Seq(Ident(rv)), _)
            if relVars(rv) && Set("startnode", "endnode")(n.toLowerCase) &&
              acc != null && acc.columns.contains(s"${rv}__src") =>
          val c0 = if (n.equalsIgnoreCase("startnode")) s"${rv}__src" else s"${rv}__dst"
          // the struct's `id` field is the USER-visible id: the endpoint's
          // user id prop (carried by the bind as `__src_uid`/`__dst_uid`)
          // when the store decouples it, else the identity (parquet graphs)
          val idC = if (acc.columns.contains(s"${c0}_uid")) s"${c0}_uid" else c0
          Resolved(struct(col(idC).as("id")))
        // type() is defined on relationships only (TCK Graph4 [7])
        case FnCall(n, Seq(Ident(v)), _)
            if n.equalsIgnoreCase("type") && nodeVars(v) && !scalars(v) =>
          throw ParseException(s"SyntaxError: InvalidArgumentType — type() on node $v")
        // graph metadata fns take the VARIABLE itself — leave their
        // argument alone for flatten's type()/id()/labels() resolution
        case fc @ FnCall(n, Seq(Ident(_)), _)
            if Set("type", "id", "labels", "nodes", "relationships", "length",
              "startnode", "endnode")(n.toLowerCase) =>
          fc
        // label test `v:Label` from the expression parser's postfix ext:
        // resolves against the bound variable's label column (null
        // variable → null, openCypher ternary logic)
        case FnCall("__labeltest", Seq(Ident(v), StrLit(l)), _)
            if nodeVars(v) || relVars(v) =>
          // null variable (optional miss) → null; unlabeled node → false
          val idCol = if (nodeVars(v)) col(s"${v}_id") else col(s"${v}__eid")
          Resolved(when(idCol.isNull, lit(null))
            .otherwise(coalesce(labelPred(col(s"${v}_label"), l), lit(false))))
        // whole entities inside containers and collect(): a bare
        // node/rel variable renders its full struct, not its identity
        // (openCypher projecting lists/maps of nodes and relationships —
        // TCK Return2 [12][13], Return6 [10]). A mixed list needs ONE
        // element type: union the fields, absent ones as typed nulls.
        case FnCall(n, Seq(Ident(v)), st)
            if Set("collect", "collect_distinct")(n.toLowerCase) &&
              isEntity(v) && acc != null =>
          FnCall(n, Seq(Resolved(entityCol(v))), st)
        // collect() of a fixed-chain PATH variable: the whole-path value
        // ({_pathn, _pathr}) materialized at MATCH time stands in for the
        // id array, so nodes()/relationships() on collected elements work
        case FnCall(n, Seq(Ident(pv)), st)
            if Set("collect", "collect_distinct")(n.toLowerCase) &&
              acc != null && acc.columns.contains(s"${pv}__pstruct") =>
          FnCall(n, Seq(Resolved(col(s"`${pv}__pstruct`"))), st)
        // entities (or paths) mixed with OTHER kinds in one list: a
        // single struct type cannot hold the union — go through the
        // variant encoding, element-wise with static kinds ([[Variant]];
        // TCK Comparison2 [3], WithOrderBy1 [21][22])
        case ArrayLit(es) if acc != null && needsVariantList(es) && es.exists {
              case Ident(v) => isEntity(v) || paths.contains(v); case _ => false } =>
          ColRef(array(es.map(variantElem): _*), 'a')
        case ArrayLit(es) if acc != null && es.exists {
              case Ident(v) => isEntity(v); case _ => false } =>
          val evs = es.collect { case Ident(v) if isEntity(v) => v }
          val unified = evs.flatMap(entityFieldTypes).distinctBy(_._1).sortBy(_._1)
          ArrayLit(es.map {
            case Ident(v) if isEntity(v) => Resolved(entityCol(v, unified))
            case x => f(x)
          })
        case StructLit(fs) if acc != null && fs.exists {
              case (_, Ident(v)) => isEntity(v); case _ => false } =>
          StructLit(fs.map { case (k, x) =>
            k -> (x match {
              case Ident(v) if isEntity(v) => Resolved(entityCol(v))
              case y => f(y)
            })
          })
        // a key absent from a WITH-bound literal map's schema is null, as
        // is any key of a null or untyped-empty map (TCK Null1/Null2 [5]
        // — openCypher maps are property bags, not fixed records)
        case pa @ PropAccess(Ident(v), p)
            if scalars(v) && acc != null && acc.columns.contains(v) =>
          import org.apache.spark.sql.types._
          // property access on a non-map literal binding is a compile-time
          // type error (TCK Map1 [6]) — including bindings whose column is
          // a null placeholder because the literal couldn't materialize
          litEnv.get(v) match {
            case Some(NullLit) | None => ()
            case Some(StructLit(_))   => ()
            // temporal values expose components via property access —
            // typed()'s foldTemporal resolves them exactly
            case Some(TemporalLit(_)) => ()
            case Some(_) =>
              throw ParseException(
                s"SyntaxError: InvalidArgumentType — property access on non-map $v")
          }
          acc.schema(v).dataType match {
            case st: StructType if !st.fieldNames.contains(p) => NullLit
            case NullType                                     => NullLit
            case MapType(NullType, _, _)                      => NullLit
            case _                                            => pa
          }
        // a bare rel variable inside an expression (s IS NULL, s = t):
        // its identity column stands in (flatten maps v._eid → v__eid)
        case Ident(v) if relVars(v) && !scalars(v) =>
          PropAccess(Ident(v), "_eid")
        // openCypher head/last are LIST accessors, not aggregates
        // (0-based `get` is null out-of-bounds — empty lists yield null
        // instead of an ANSI element_at error)
        case FnCall(n, Seq(x), _) if n.equalsIgnoreCase("head") =>
          FnCall("get", Seq(f(x), NumLit(BigDecimal(0), isIntegral = true)))
        case FnCall(n, Seq(x), _) if n.equalsIgnoreCase("last") =>
          val fx = f(x)
          FnCall("get", Seq(fx, Bin("-", FnCall("size", Seq(fx)),
            NumLit(BigDecimal(1), isIntegral = true))))
        case Bin(op, l, r)          => Bin(op, f(l), f(r))
        case Neg(x)                 => Neg(f(x))
        case Not(x)                 => Not(f(x))
        case FnCall(n, args, s)     => FnCall(n, args.map(f), s)
        case MethodCall(t, m, args) => MethodCall(f(t), m, args.map(f))
        case InList(x, es, n)       => InList(f(x), es.map(f), n)
        case ArrayLit(es)           => ArrayLit(es.map(f))
        case CaseExpr(op, bs, els)  =>
          CaseExpr(op.map(f), bs.map(b => (f(b._1), f(b._2))), els.map(f))
        case IsNull(x, neg)         => IsNull(f(x), neg)
        case StructLit(fs)          => StructLit(fs.map { case (k, x) => k -> f(x) })
        // the lambda variable shadows pattern variables inside the body
        case ListComp(v2, l, w, m)  => ListComp(v2, f(l), w.map(f), m.map(f))
        case Quantifier(k, v2, l, pr) => Quantifier(k, v2, f(l), f(pr))
        // recurse into non-variable targets (`startNode(r).id`) — the
        // variable-target PropAccess cases above matched already
        case PropAccess(t, p) if !t.isInstanceOf[Ident] => PropAccess(f(t), p)
        case other                  => other
      }
    }

    /** Resolve pattern comprehensions in `e` against the current horizon:
      * each becomes one grouped `sort_array(collect_list(map))` over the
      * pattern's join frame, left-joined back on the comprehension's
      * anchor variables (the vars it shares with the horizon) — the same
      * shape the reference's PatternComprehension step produces, as one
      * aggregation + one join instead of a per-row subquery. Elements are
      * sorted for determinism (openCypher leaves their order unspecified).
      * Mutates `acc`; returns the rewritten expression. */
    def resolvePatternComps(e: Expr): Expr = e match {
      case PatternComp(chainRef, whereE, mapE, pathVar, bare) =>
        val chain = chainRef.asInstanceOf[PatternChain]
        // a bare pattern predicate may not bind NEW named variables —
        // only comprehensions and EXISTS/COUNT blocks introduce scope
        // (TCK Pattern1 [10]: SyntaxError UndefinedVariable)
        if (bare) {
          val newNamed = (chain.nodes.flatMap(_.varName) ++ chain.rels.flatMap(_.varName))
            .filterNot(v => v.startsWith("_anon") || nodeVars(v) || relVars(v) ||
              relListVars(v) || scalars(v))
          if (newNamed.nonEmpty)
            throw ParseException(
              s"SyntaxError: UndefinedVariable — pattern predicate introduces ${newNamed.mkString(", ")}")
        }
        // a path-valued element needs the whole-rel structs carried along
        val cr = chainFrame(g, chain,
          structs = pathVar.exists(pv => mapE == Ident(pv)))
        val (pf0, pvars) = (cr.df, cr.nodeVars)
        var pf = whereE.fold(pf0)(w =>
          pf0.filter(graft.sql.Translator.toColumn(flatten(w, Set.empty))))
        val anchors = (nodeVars intersect pvars).toSeq.sorted
        if (anchors.isEmpty)
          throw ParseException("pattern comprehension must reference a bound variable")
        val tmp = freshVar()
        // `[p = <pattern> | p]`: the element is the whole path VALUE —
        // aligned whole-node structs + rel structs, the same shape a
        // returned path variable renders (TCK Pattern2). A var-length
        // hop stores interior node IDS — expand them to whole-node
        // structs with one explode → vertex join → ordered re-collect
        // (distributed: a row per (walk, position), no driver work).
        val mapCol = pathVar match {
          case Some(pv) if mapE == Ident(pv) =>
            if (cr.marks.exists(_.isList)) {
              if (chain.rels.length != 1)
                throw ParseException(
                  "variable-length path value in a multi-hop comprehension is unsupported")
              val mk = cr.marks.find(_.isList).get
              val nsCol = s"${mk.alias}__ns"
              val withRow = pf.withColumn("__pcrow", monotonically_increasing_id())
                .localCheckpoint(true) // pin row ids across the self-join
              val vcols = g.vertices.columns.sorted
              val vstruct = struct(vcols.map(c => col(c).as(c)).toIndexedSeq: _*)
              val exploded = withRow
                .select(col("__pcrow"), posexplode(col(nsCol)).as(Seq("__pos", "__nid")))
                .join(g.vertices.select(col("id").as("__vid"), vstruct.as("__vs")),
                  col("__nid") === col("__vid"))
              val recollected = exploded.groupBy(col("__pcrow"))
                .agg(transform(
                  array_sort(collect_list(struct(col("__pos").as("p"), col("__vs").as("v")))),
                  x => x.getField("v")).as("__pn0"))
              pf = withRow.join(recollected, Seq("__pcrow"))
              struct(col("__pn0").as("_pathn"), col(s"${mk.alias}__rs").as("_pathr"))
            } else {
            def nodeStruct(v: String) = {
              val fields = pf.columns.filter(_.startsWith(s"${v}_")).sorted
                .map(c => col(c).as(c.stripPrefix(s"${v}_")))
              struct(fields.toIndexedSeq: _*)
            }
            struct(
              array(cr.nodeSeq.map(nodeStruct): _*).as("_pathn"),
              array(cr.marks.map(mk => col(s"${mk.alias}__rst")): _*).as("_pathr"))
            }
          case Some(pv) =>
            var refs = false
            Ast.mapDown(mapE) { case x @ Ident(`pv`) => refs = true; x; case x => x }
            if (refs) throw ParseException(
              s"path variable $pv in a comprehension map must be the bare variable")
            graft.sql.Translator.toColumn(flatten(mapE, Set.empty))
          case None =>
            graft.sql.Translator.toColumn(flatten(mapE, Set.empty))
        }
        // collect through a 1-field struct: collect_list drops bare nulls,
        // but a map expression CAN produce null elements (TCK Pattern2
        // [4][5] expect [null])
        val grouped = pf
          .groupBy(anchors.map(v => col(s"${v}_id").as(s"__pc_${v}_id")): _*)
          .agg(transform(sort_array(collect_list(struct(mapCol.as("v")))),
            x => x.getField("v")).as(tmp))
        val elemType = grouped.schema(tmp).dataType
        val cond = anchors.map(v => acc(s"${v}_id") === grouped(s"__pc_${v}_id")).reduce(_ && _)
        acc = acc.join(grouped, cond, "left_outer")
          .drop(anchors.map(v => s"__pc_${v}_id"): _*)
          // no-match rows get an EMPTY list (openCypher), typed to match:
          // array() is ARRAY<NULL>, castable to any element type
          .withColumn(tmp, coalesce(col(tmp), array().cast(elemType)))
        scalars += tmp
        Ident(tmp)
      // multi-clause existential/count subquery: compile the body as a
      // standalone query CORRELATED on the outer node variables it
      // references — prepend `MATCH (v)` per anchor (name unification
      // binds them to the same store), project DISTINCT anchor ids, and
      // left-join the boolean/count back onto the horizon. One aggregation
      // + one join, the same set-oriented shape as pattern comprehensions
      // (reference: opencypher ExistsSubqueryStep per-row evaluation).
      case Ast.ExistsSub(body, isCount) =>
        val toks = graft.sql.Parser.lex(body).collect {
          case graft.sql.Parser.TId(s) => s }.toSet
        val anchors = nodeVars.toSeq.sorted.filter(toks.contains)
        val synth =
          if (anchors.isEmpty) body
          else s"MATCH ${anchors.map(v => s"($v)").mkString(", ")} $body"
        val q0 = parse(synth)
        if (q0.clauses.exists(_.isInstanceOf[WriteClause]))
          throw ParseException(
            "SyntaxError: InvalidClauseComposition — update clause inside an existential subquery")
        if (anchors.isEmpty) {
          val df = compile(g, q0)
          if (isCount) NumLit(BigDecimal(df.count()), isIntegral = true)
          else BoolLit(!df.isEmpty)
        } else {
          val proj = anchors.map(v =>
            ReturnItem(FnCall("id", Seq(Ident(v))), Some(s"__es_${v}_id")))
          val q2 = q0.copy(items = proj, distinct = !isCount,
            orderBy = Seq.empty, skip = None, limit = None, union = None)
          val sub = compile(g, q2)
          val tmp = freshVar()
          val subA =
            if (isCount)
              sub.groupBy(anchors.map(v => col(s"__es_${v}_id")): _*)
                .agg(count(lit(1)).as(tmp))
            else sub.withColumn(tmp, lit(true))
          val cond = anchors.map(v =>
            acc(s"${v}_id") === subA(s"__es_${v}_id")).reduce(_ && _)
          acc = acc.join(subA, cond, "left_outer")
            .drop(anchors.map(v => s"__es_${v}_id"): _*)
            .withColumn(tmp,
              coalesce(col(tmp), if (isCount) lit(0L) else lit(false)))
          scalars += tmp
          Ident(tmp)
        }
      // a pattern comprehension nested inside a LIST-comprehension
      // lambda, anchored on the lambda variable (TCK Pattern2 [7]:
      // `[x IN nodes(p) | size([(x)-->(:Y) | 1])]`): resolved
      // set-oriented — grouped inner-comprehension values keyed by the
      // anchor's OWN id, then posexplode the outer node list (row-keyed),
      // left-join, evaluate the body per element, re-collect ordered.
      // One join + two aggregations; no per-row subquery, no driver work.
      case ListComp(v2, FnCall(nn, Seq(Ident(pv)), _), None, Some(body))
          if nn.equalsIgnoreCase("nodes") && paths.contains(pv) &&
            acc != null && acc.columns.contains(s"${pv}__pnodes") && {
              var pcs = 0
              Ast.mapDown(body) {
                case pc @ PatternComp(ch, _, _, _, _) =>
                  if (ch.asInstanceOf[PatternChain].nodes.exists(_.varName.contains(v2)))
                    pcs += 1
                  pc
                case x => x
              }
              // the body may not use the lambda var OUTSIDE the inner
              // comprehension (that would need per-element struct
              // threading too — not exercised by the corpus)
              var outsideUse = false
              Ast.mapDown(body) {
                case pc: PatternComp => pc // opaque: inner uses are fine
                case x @ Ident(`v2`) => outsideUse = true; x
                case x => x
              }
              pcs == 1 && !outsideUse
            } =>
        val pcNode = {
          var found: PatternComp = null
          Ast.mapDown(body) {
            case pc @ PatternComp(ch, _, _, _, _)
                if ch.asInstanceOf[PatternChain].nodes.exists(_.varName.contains(v2)) =>
              found = pc; pc
            case x => x
          }
          found
        }
        val chain = pcNode.chain.asInstanceOf[PatternChain]
        val cr = chainFrame(g, chain)
        val pcf = pcNode.where.fold(cr.df)(w =>
          cr.df.filter(graft.sql.Translator.toColumn(flatten(w, Set.empty))))
        val inner = graft.sql.Translator.toColumn(flatten(pcNode.map, Set.empty))
        val grouped = pcf.groupBy(col(s"${v2}_id").as("__g_id"))
          .agg(transform(sort_array(collect_list(struct(inner.as("v")))),
            x => x.getField("v")).as("__g_val"))
        val valType = grouped.schema("__g_val").dataType
        val withRow = acc.withColumn("__lcrow", monotonically_increasing_id())
          .localCheckpoint(true) // pin row ids across the re-collect join
        val exploded = withRow
          .select(col("__lcrow"), posexplode(col(s"${pv}__pnodes")).as(Seq("__pos", "__nid")))
          .join(grouped, col("__nid") === col("__g_id"), "left_outer")
          .withColumn("__g_val", coalesce(col("__g_val"), array().cast(valType)))
        val bodyRewritten = Ast.mapDown(body) {
          case pc: PatternComp if pc eq pcNode => ColRef(col("__g_val"), 'a')
          case x => x
        }
        val bval = graft.sql.Translator.toColumn(
          typed(flatten(bodyRewritten, scalars, paths)))
        val tmp = freshVar()
        val recollected = exploded
          .groupBy(col("__lcrow"))
          .agg(transform(array_sort(collect_list(struct(col("__pos").as("p"),
            bval.as("v")))), x => x.getField("v")).as(tmp))
        acc = withRow.join(recollected, Seq("__lcrow")).drop("__lcrow")
        scalars += tmp
        Ident(tmp)
      case Bin(op, l, r)          => Bin(op, resolvePatternComps(l), resolvePatternComps(r))
      case Neg(x)                 => Neg(resolvePatternComps(x))
      case Not(x)                 => Not(resolvePatternComps(x))
      case FnCall(n, args, s)     => FnCall(n, args.map(resolvePatternComps), s)
      case MethodCall(t, m, args) => MethodCall(resolvePatternComps(t), m, args.map(resolvePatternComps))
      case InList(x, es, n)       => InList(resolvePatternComps(x), es.map(resolvePatternComps), n)
      case ArrayLit(es)           => ArrayLit(es.map(resolvePatternComps))
      case StructLit(fs)          => StructLit(fs.map { case (k, x) => k -> resolvePatternComps(x) })
      case CaseExpr(op, bs, els)  => CaseExpr(op.map(resolvePatternComps),
        bs.map(b => (resolvePatternComps(b._1), resolvePatternComps(b._2))),
        els.map(resolvePatternComps))
      case other                  => other
    }

    def step(clause: Clause): Unit = clause match {
      case MatchC(chains0, where0, patternPreds, pathBinds0) =>
        // inline node/rel props whose values reference earlier bindings
        // (`MATCH (y:Year {year: event.year})`, TCK Unwind1 [6]) desugar
        // to WHERE equality conjuncts — the chain frame carries no
        // horizon columns to filter on. Desugared once per distinct
        // chain so pathBinds' structural chain references stay aligned.
        var extraWhere = Vector.empty[Expr]
        val desugared: Map[PatternChain, PatternChain] = {
          def horizonRef(e: Expr): Boolean = acc != null && {
            var found = false
            Ast.mapDown(e) {
              case x @ Ident(nm) if scalars(nm) || nodeVars(nm) ||
                  relVars(nm) || relListVars(nm) => found = true; x
              case x => x }
            found
          }
          chains0.distinct.map { ch =>
            val nodes2 = ch.nodes.map { nd =>
              val (hz, plain) = nd.props.partition { case (_, e) => horizonRef(e) }
              if (hz.isEmpty) nd
              else {
                val nv = nd.varName.getOrElse(freshVar())
                hz.foreach { case (k, e2) =>
                  extraWhere :+= Bin("=", PropAccess(Ident(nv), k), e2) }
                nd.copy(varName = Some(nv), props = plain)
              }
            }
            val rels2 = ch.rels.map { rp =>
              val (hz, plain) = rp.props.partition { case (_, e) => horizonRef(e) }
              if (hz.isEmpty) rp
              else {
                val rv = rp.varName.getOrElse(freshVar())
                hz.foreach { case (k, e2) =>
                  extraWhere :+= Bin("=", PropAccess(Ident(rv), k), e2) }
                rp.copy(varName = Some(rv), props = plain)
              }
            }
            ch -> ch.copy(nodes = nodes2, rels = rels2)
          }.toMap
        }
        val chains = chains0.map(desugared)
        val pathBinds = pathBinds0.map { case (pv, ch) => pv -> desugared(ch) }
        val where = (where0.toSeq ++ extraWhere).reduceOption(Bin("AND", _, _))
        // a path name must not collide with pattern variables
        pathBinds.foreach { case (pv, _) =>
          if (nodeVars(pv) || relVars(pv) || relListVars(pv) || scalars(pv) ||
              chains.exists(ch => ch.nodes.exists(_.varName.contains(pv)) ||
                ch.rels.exists(_.varName.contains(pv))))
            throw ParseException(s"VariableAlreadyBound: path variable $pv")
        }
        val boundBefore = relVars ++ relListVars // earlier clauses: reuse = identity join
        var localRels = Set.empty[String]        // this MATCH: reuse = error
        val chainResults = Seq.newBuilder[ChainResult]
        val pathChains = pathBinds.map(_._2)
        // OPTIONAL MATCH … WHERE w: the predicate is part of the PATTERN —
        // a binding that matches the pattern but fails the predicate
        // null-extends the row instead of dropping it, so the predicate
        // must join WITH the pattern, not filter after it (TCK Match7
        // [11]; reference cy/steps/OptionalMatchStep semantics). Limited
        // to the single-chain, fixed-length, non-pattern-predicate shape;
        // other shapes keep the post-filter (their predicates only
        // reference non-optional bindings in the TCK corpus).
        def hasPatternComp(e: Expr): Boolean = {
          var f = false
          Ast.mapDown(e) { case x: PatternComp => f = true; x; case x => x }
          f
        }
        val whereIntoJoin = acc != null && chains.length == 1 &&
          chains.head.optional && chains.head.rels.forall(_.hops.isEmpty) &&
          where.isDefined && patternPreds.isEmpty && pathBinds.isEmpty &&
          !hasPatternComp(where.get)
        var whereConsumed = false
        chains.foreach { chain =>
          // openCypher variable discipline: a name is a node var XOR a rel
          // var (VariableTypeConflict); a relationship variable binds at
          // most once WITHIN one MATCH pattern (VariableAlreadyBound),
          // while a rebinding of an earlier clause's rel variable is a
          // bound-variable occurrence — the same relationship, joined on
          // its identity below (TCK Match2 [7], Match3 [24][25])
          val chainRels = chain.rels.flatMap(_.varName)
          chainRels.groupBy(identity).collect { case (rv, occ) if occ.length > 1 =>
            throw ParseException(s"VariableAlreadyBound: relationship variable $rv reused") }
          if (chainRels.exists(localRels))
            throw ParseException(
              "VariableAlreadyBound: relationship variable reused in one MATCH pattern")
          val chainNodes = chain.nodes.flatMap(_.varName).toSet
          val typeClash = (chainNodes ++ nodeVars) intersect
            (chainRels.toSet ++ relVars ++ relListVars)
          if (typeClash.nonEmpty)
            throw ParseException(s"VariableTypeConflict: ${typeClash.mkString(", ")}")
          // a scalar value can never rebind as a relationship variable
          // (TCK Match2 [13])
          chain.rels.foreach { rp =>
            rp.varName.foreach { rv =>
              if (scalars(rv) && !relListVars(rv)) {
                // a LIST-valued scalar may drive a variable-length pattern
                // (pre-bound relationship list, Match9 [7]); anything else
                // is a type conflict (TCK Match2 [13])
                val isArr = acc != null && acc.columns.contains(rv) &&
                  acc.schema(rv).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
                if (!(isArr && rp.hops.isDefined))
                  throw ParseException(
                    s"VariableTypeConflict: $rv is not a relationship variable")
              }
            }
          }
          // a WITH/UNWIND scalar re-bound as a pattern node: a node
          // REFERENCE (numeric identity, e.g. `WITH coalesce(b, c) AS x
          // MATCH (x)-->(d)`) or a whole-node struct (`UNWIND collect(b)
          // AS b2`, TCK Unwind1 [12]) re-matches by identity — null
          // matches nothing; a list, map or other non-node value is a
          // type error (TCK Match3 [30] vs Match7 [22], Match1 [11])
          val scalarRefs = (chainNodes intersect scalars).toSeq.sorted.map { v =>
            acc.schema(v).dataType match {
              case st: org.apache.spark.sql.types.StructType
                  if st.fieldNames.contains("id") && st.fieldNames.contains("label") =>
                val fresh = freshVar()
                (v, fresh)
              case _: org.apache.spark.sql.types.ArrayType |
                  _: org.apache.spark.sql.types.MapType |
                  _: org.apache.spark.sql.types.StructType |
                  org.apache.spark.sql.types.StringType |
                  org.apache.spark.sql.types.BooleanType =>
                throw ParseException(s"VariableTypeConflict: $v is not a node variable")
              case org.apache.spark.sql.types.NullType =>
                // a null scalar in node position is legal and matches
                // nothing — OPTIONAL MATCH leaves the pattern unbound
                // (TCK Path1 [1] / Path2 [3]: `WITH null AS a OPTIONAL
                // MATCH p = (a)-->()`)
                val fresh = freshVar()
                (v, fresh)
              case _ =>
                // numeric identity reference: rename + identity join —
                // legal only for entity-derived scalars
                if (!nodeRefScalars(v))
                  throw ParseException(s"VariableTypeConflict: $v is not a node variable")
                val fresh = freshVar()
                (v, fresh)
            }
          }.toMap
          val chainR =
            if (scalarRefs.isEmpty) chain
            else chain.copy(nodes = chain.nodes.map(n =>
              n.varName.flatMap(scalarRefs.get)
                .fold(n)(fresh => n.copy(varName = Some(fresh)))))
          val pathClash = (chainNodes ++ chainRels) intersect paths.keySet
          if (pathClash.nonEmpty)
            throw ParseException(
              s"VariableTypeConflict: path variable ${pathClash.mkString(", ")} reused")
          val cr = chainFrame(g, chainR, boundBefore, structs = pathChains.exists(_ == chain))
          val cf = cr.df
          if (acc == null) {
            // a leading OPTIONAL MATCH still yields one all-null row when
            // nothing matches (openCypher): left-join from the dual row
            acc =
              if (chain.optional)
                graft.OneRow(g.vertices.sparkSession).select(lit(1).as("__dual0"))
                  .join(cf, lit(true), "left_outer").drop("__dual0")
              else cf
            nodeVars = cr.nodeVars
          }
          else {
            val shared = (nodeVars intersect cr.nodeVars).toSeq.sorted
            val joinType = if (chain.optional) "left_outer" else "inner"
            // join on shared node identities plus reused-rel identities;
            // the chain frame carries its own copies of the shared columns
            // — rename them away so the condition binds unambiguously
            val dup = cf.columns.filter(c => shared.exists(v => c.startsWith(s"${v}_")))
            val renamed = cf.withColumnsRenamed(dup.map(c => c -> s"__dup_$c").toMap)
            val nodeConds = shared.map(v => acc(s"${v}_id") === renamed(s"__dup_${v}_id"))
            val reuseConds = cr.marks.filter(_.reused).map { mk =>
              acc(s"${mk.varName.get}__eid") === renamed(mk.eidCol) }
            // predicate-into-join: compile the WHERE against a schema-only
            // view of the joined frame (nothing executes), then make it
            // part of the left-outer condition
            val optWhere: Option[Column] =
              if (!whereIntoJoin) None
              else {
                nodeVars ++= cr.nodeVars
                relVars ++= cr.relVars
                relListVars ++= cr.relListVars
                val saved = acc
                acc = acc.join(renamed, lit(true), "left_outer")
                try { whereConsumed = true; Some(toCol(where.get)) }
                finally acc = saved
              }
            // identity conditions for scalar node references belong in
            // the JOIN condition (null reference === anything is null →
            // matches nothing) — as a post-join filter they would also
            // kill the all-null row an OPTIONAL chain must keep (TCK
            // Path1 [1]: `WITH null AS a OPTIONAL MATCH p = (a)-[r]->()`)
            val refConds = scalarRefs.toSeq.sortBy(_._1).map { case (v, fresh) =>
              val ref = acc.schema(v).dataType match {
                case st: org.apache.spark.sql.types.StructType
                    if st.fieldNames.contains("id") => acc(v).getField("id")
                case _ => acc(v)
              }
              renamed(s"${fresh}_id") === ref
            }
            (nodeConds ++ reuseConds ++ refConds ++ optWhere).reduceOption(_ && _) match {
              case Some(cond) =>
                acc = acc.join(renamed, cond, joinType)
                  .drop(dup.map(c => s"__dup_$c").toIndexedSeq: _*)
              case None if chain.optional =>
                // unanchored OPTIONAL: keep every horizon row even when
                // the pattern matches nothing
                acc = acc.join(renamed, lit(true), "left_outer")
              case None => acc = acc.crossJoin(renamed)
            }
            nodeVars ++= cr.nodeVars
          }
          relVars ++= cr.relVars
          relListVars ++= cr.relListVars
          localRels ++= chainRels
          // (scalar node references — `UNWIND collect(b) AS b2
          // MATCH (a)-->(b2)`, TCK Unwind1 [12] — close their identity
          // loop inside the join condition above)
          chainResults += cr
        }
        val allMarks = chainResults.result().flatMap(_.marks)
        // relationship isomorphism across the whole MATCH pattern: every
        // pair of distinct relationship occurrences binds distinct
        // relationships (null-safe: an optional miss disables the pair)
        locally {
          def eidOf(mk: RelMark): Column =
            if (mk.reused) col(s"${mk.varName.get}__eid") else col(mk.eidCol)
          def idsOf(mk: RelMark): Column =
            transform(col(mk.eidCol), x => x.getField("_eid"))
          val conds = for {
            (a, i) <- allMarks.zipWithIndex
            (b, j) <- allMarks.zipWithIndex if i < j
            if !(a.varName.isDefined && a.varName == b.varName)
          } yield (a.isList, b.isList) match {
            case (false, false) => coalesce(eidOf(a) =!= eidOf(b), lit(true))
            case (false, true)  => coalesce(!array_contains(idsOf(b), eidOf(a)), lit(true))
            case (true, false)  => coalesce(!array_contains(idsOf(a), eidOf(b)), lit(true))
            case (true, true)   => coalesce(!arrays_overlap(idsOf(a), idsOf(b)), lit(true))
          }
          conds.reduceOption(_ && _).foreach(c => acc = acc.filter(c))
        }
        // named paths: materialize length / node ids / rel structs as
        // per-row columns (dynamic for variable-length chains; uniform
        // columns either way so RETURN p can render the path value)
        pathBinds.foreach { case (pv, ch) =>
          val cr = chainResults.result()(chains.indexWhere(_ == ch))
          var len: Column = lit(0L)
          var nodesC: Column = array(col(s"${cr.nodeSeq.head}_id"))
          var relsC: Column = emptyRels(g)
          cr.marks.zip(cr.nodeSeq.tail).foreach { case (mk, nv) =>
            if (mk.isList) {
              val ns = col(s"${mk.alias}__ns"); val rs = col(s"${mk.alias}__rs")
              len = len + size(rs).cast("long")
              nodesC = concat(nodesC, slice(ns, lit(2), size(ns) - 1))
              relsC = concat(relsC, rs)
            } else {
              len = len + lit(1L)
              nodesC = concat(nodesC, array(col(s"${nv}_id")))
              relsC = concat(relsC, array(col(s"${mk.alias}__rst")))
            }
          }
          // an optional-match miss nulls the whole path, not just pieces
          // (any endpoint null — shared vars bound before the optional
          // stay non-null on a miss, so check every chain node)
          val pnull = cr.nodeSeq.map(v => col(s"${v}_id").isNull).reduce(_ || _)
          acc = acc.withColumn(s"${pv}__plen", when(pnull, lit(null)).otherwise(len))
            .withColumn(s"${pv}__pnodes", when(pnull, lit(null)).otherwise(nodesC))
            .withColumn(s"${pv}__prels", when(pnull, lit(null)).otherwise(relsC))
          // fixed chains also carry the whole-path VALUE ({_pathn, _pathr}
          // — the same shape pattern-comprehension path elements use), so
          // `collect(p)` / `nodes(x)` over collected paths resolve (TCK
          // List12 [4][5]). Node fields are unified across chain positions
          // (absent props become typed nulls) to give array() one type.
          if (!cr.marks.exists(_.isList)) {
            val unified = cr.nodeSeq.flatMap(entityFieldTypes).distinctBy(_._1).sortBy(_._1)
            val nstructs = array(cr.nodeSeq.map(v => entityCol(v, unified)): _*)
            acc = acc.withColumn(s"${pv}__pstruct", when(pnull, lit(null))
              .otherwise(struct(nstructs.as("_pathn"), relsC.as("_pathr"))))
          }
          paths += pv -> PathInfo(ch, dynamic = ch.rels.exists(_.hops.isDefined))
        }
        // publish variable-length rel variables as list columns; drop the
        // remaining bookkeeping columns
        allMarks.foreach { mk =>
          if (mk.isList) {
            mk.varName match {
              case Some(rv) =>
                acc = acc.withColumnRenamed(s"${mk.alias}__rs", rv)
                scalars += rv
              case None => acc = acc.drop(s"${mk.alias}__rs")
            }
            acc = acc.drop(s"${mk.alias}__ns")
          } else {
            if (mk.reused || mk.varName.isEmpty) acc = acc.drop(mk.eidCol)
            acc = acc.drop(s"${mk.alias}__rst")
          }
        }
        // EXISTS{}/COUNT{} blocks in WHERE arrive as pattern comprehensions
        // — resolve them FIRST (it left-joins the grouped counts onto acc;
        // the filter must run on the extended frame)
        where.filter(_ => !whereConsumed).foreach { w =>
          val cond = resolvePatternComps(w)
          acc = acc.filter(toCol(cond))
        }
        // pattern predicates → semi/anti join on the bound vars' identity
        // (the reference's ExpandInto/anti-join rewrite of WHERE patterns)
        patternPreds.foreach { case (chain, neg) =>
          // same discipline as the bare-PatternComp path: a WHERE pattern
          // may not bind new named variables (TCK Pattern1 [10])
          locally {
            val newNamed = (chain.nodes.flatMap(_.varName) ++ chain.rels.flatMap(_.varName))
              .filterNot(v => v.startsWith("_anon") || nodeVars(v) || relVars(v) ||
                relListVars(v) || scalars(v))
            if (newNamed.nonEmpty)
              throw ParseException(
                s"SyntaxError: UndefinedVariable — pattern predicate introduces ${newNamed.mkString(", ")}")
          }
          val pcr = chainFrame(g, chain)
          val (pf, pvars) = (pcr.df, pcr.nodeVars)
          val shared = (nodeVars intersect pvars).toSeq.sorted
          if (shared.isEmpty)
            throw ParseException("pattern predicate must reference a bound variable")
          val proj = pf.select(shared.map(v => col(s"${v}_id").as(s"__pp_${v}_id")): _*)
          val cond = shared.map(v => acc(s"${v}_id") === proj(s"__pp_${v}_id")).reduce(_ && _)
          acc = acc.join(proj, cond, if (neg) "left_anti" else "left_semi")
        }

      case UnwindC(e, a) =>
        // a mixed-kind list (literal elements of different families, or
        // entities/paths alongside scalars) explodes through the variant
        // encoding — each element is constructed with its STATIC kind,
        // the exploded column dispatches per-row ([[Variant]])
        val eRes = substParams(e) match {
          case Ident(c) if litEnv.contains(c) => litEnv(c)
          case x => x
        }
        eRes match {
          case ArrayLit(es) if needsVariantList(es) =>
            val elems = array(es.map(variantElem): _*)
            acc = if (acc == null)
              graft.OneRow(g.vertices.sparkSession).select(explode(elems).as(a))
            else acc.withColumn(a, explode(elems))
            scalars += a
            return
          case _ =>
            // UNWIND over a variant LIST column: explode the element
            // array, promote elements back to full variant form
            val te = try typed(flatten(rewriteMetaFns(eRes), scalars, paths))
              catch { case _: Exception => null }
            if (te != null && isVariantE(te)) {
              val src = colOfTyped(te)
              val el = explode(
                when(Variant.rank(src) === Variant.RList, src.getField("_velems"))
                  .otherwise(lit(null).cast(
                    org.apache.spark.sql.types.ArrayType(Variant.elemType))))
              acc = if (acc == null)
                graft.OneRow(g.vertices.sparkSession).select(el.as(s"${a}__ve"))
              else acc.withColumn(s"${a}__ve", el)
              acc = acc.withColumn(a, Variant.ofElemValue(col(s"${a}__ve")))
                .drop(s"${a}__ve")
              scalars += a
              return
            }
        }
        // UNWIND null produces zero rows (openCypher); a bare NULL has no
        // array type for explode, so give it one
        val listCol = substParams(e) match {
          case NullLit => lit(null).cast("array<int>")
          case _       => toCol(e)
        }
        acc =
          if (acc == null) graft.OneRow(g.vertices.sparkSession).select(explode(listCol).as(a))
          else acc.withColumn(a, explode(listCol))
        if (refsEntity(e)) {
          import org.apache.spark.sql.types.StructType
          acc.schema(a).dataType match {
            case st: StructType if st.fieldNames.contains("id") &&
                st.fieldNames.contains("label") && !st.fieldNames.contains("_eid") =>
              // UNWIND of a collected whole-NODE list: rebind the element
              // as a full node variable — its struct fields become the
              // same `${a}_<field>` columns a MATCH binding carries, so
              // SET n.prop / n.prop reads / id(n) all work on the unwound
              // entity (TCK List12 [1][2]: collect → UNWIND → SET)
              val fields = st.fieldNames.toSeq
              acc = fields.foldLeft(acc)((d, fn) =>
                d.withColumn(s"${a}_$fn", col(a).getField(fn))).drop(a)
              nodeVars += a
            case _ =>
              scalars += a
              nodeRefScalars += a
          }
        } else scalars += a

      case LoadCsvC(url, headers, alias, sep) =>
        val path = url.stripPrefix("file://")
        val raw = session.read
          .option("header", headers.toString).option("sep", sep)
          .option("inferSchema", "false") // openCypher: all cells are strings
          .csv(path)
        val rowCol =
          if (headers) struct(raw.columns.toIndexedSeq.map(col): _*)
          else array(raw.columns.toIndexedSeq.map(col): _*) // _c0.._cN, positional
        val csv = raw.select(rowCol.as(alias))
        // LOAD CSV after other clauses iterates the file per horizon row
        acc = if (acc == null) csv else acc.crossJoin(csv)
        scalars += alias

      case CallC(name, args, yields0) =>
        if (yields0 == Seq(("*", None)) && requireYield)
          throw ParseException(
            "SyntaxError: YIELD * is only valid in a standalone CALL")
        val out0 = Procedures.invoke(g, name, args)
        val yields = if (yields0 == Seq(("*", None)))
          out0.columns.toSeq.map(c => c -> (None: Option[String])) else yields0
        val out = if (yields.isEmpty) out0
          else out0.select(yields.map { case (n, al) => col(n).as(al.getOrElse(n)) }: _*)
        // a void procedure's single hidden-column row: the horizon passes
        // through unchanged (TCK Call1 [3][4])
        if (out.columns.sameElements(Array("__void"))) {
          acc = (if (acc == null) out else acc.crossJoin(out)).drop("__void")
          return
        }
        // an in-query CALL must YIELD its outputs explicitly (Call1 [12])
        if (yields.isEmpty && requireYield && out.columns.nonEmpty)
          throw ParseException(
            s"NoYieldInCallInTransaction: CALL $name outputs must be yielded")
        // a procedure frame is independent of the horizon; standalone CALL
        // starts the horizon, CALL after MATCH cross-joins (openCypher's
        // per-row procedure semantics for row-independent procedures).
        // YIELD names must not shadow columns already on the horizon —
        // fail loudly instead of producing ambiguous references (ADVICE r4)
        if (acc != null) {
          val clash = out.columns.toSet intersect acc.columns.toSet
          if (clash.nonEmpty)
            throw ParseException(
              s"CALL $name YIELD name(s) ${clash.mkString(", ")} collide with " +
                "variables already in scope; alias them with YIELD x AS y")
        }
        acc = if (acc == null) out else acc.crossJoin(out)
        scalars ++= (if (yields.isEmpty) out.columns.toSet
          else yields.map { case (n, al) => al.getOrElse(n) }.toSet)

      case WithC(items0raw, distinct, where, orderBy, skip, limit) =>
        // a leading WITH (no horizon yet) evaluates its items once — the
        // same relational dual row standalone RETURN projects from
        if (acc == null)
          acc = graft.OneRow(session).select(lit(1).as("__dual"))
        // `WITH *` carries every variable in scope
        val items0 = items0raw.flatMap {
          case ReturnItem(Ident("*"), None, _) =>
            (nodeVars ++ relVars ++ scalars ++ paths.keySet).toSeq.distinct.sorted
              .map(v => ReturnItem(Ident(v), None))
          case it => Seq(it)
        }
        items0.foreach(it => rejectBarePatterns(it.expr, "WITH"))
        val items1 = items0.map(it => it.copy(expr = resolvePatternComps(it.expr)))
        // `WITH … nodes(p) …` carries whole-node structs, exactly like the
        // RETURN path (finishReturn): attach the aligned `__pn` column and
        // rewrite the call so downstream predicates can access properties
        // of the list elements (TCK Quantifier2/3/4 [8])
        val withNodesPvs = items1.flatMap { it =>
          val found = Seq.newBuilder[String]
          Ast.mapDown(it.expr) {
            case x @ FnCall(n, Seq(Ident(pv)), _)
                if n.equalsIgnoreCase("nodes") && paths.contains(pv) =>
              found += pv; x
            case x => x
          }
          found.result()
        }.distinct
        withNodesPvs.foreach { pv => acc = attachPathNodes(graph, acc, pv) }
        val items =
          if (withNodesPvs.isEmpty) items1
          else items1.map(it => it.copy(expr = Ast.mapDown(it.expr) {
            case FnCall(n, Seq(Ident(pv)), _)
                if n.equalsIgnoreCase("nodes") && paths.contains(pv) =>
              Resolved(col(s"${pv}__pn"))
            case x => x
          }))
        // pattern/path variables — bare or re-aliased — carry all their
        // columns under the output name (a WITH alias renames the whole
        // entity binding: TCK With1 [3], With4 [1], With7 [1]); everything
        // else projects to a scalar column, which openCypher requires to
        // be explicitly aliased unless it is itself a bare variable
        val carried: Seq[(String, String)] = items.collect {
          case ReturnItem(Ident(v), al, _)
              if nodeVars(v) || relVars(v) || paths.contains(v) =>
            v -> al.getOrElse(v)
        }
        val scalarItems = items.filterNot {
          case ReturnItem(Ident(v), _, _) =>
            nodeVars(v) || relVars(v) || paths.contains(v)
          case _ => false
        }
        scalarItems.foreach {
          case ReturnItem(Ident(_), _, _) => ()
          case it if it.alias.isEmpty =>
            throw ParseException(
              s"NoExpressionAlias: WITH item ${exprLabel(it.expr)} must be aliased")
          case _ => ()
        }
        def name(it: ReturnItem): String = it.alias.getOrElse(exprLabel(it.expr))
        locally { // duplicate output names are a compile error
          val outs = carried.map(_._2) ++ scalarItems.map(name)
          outs.groupBy(identity).collect { case (nm, occ) if occ.length > 1 =>
            throw ParseException(s"ColumnNameConflict: multiple WITH columns named $nm") }
        }
        // simultaneous projection: every source column reads the PRE-WITH
        // frame, so swaps (`WITH a AS b, b AS a`) bind correctly
        val carriedCols = carried.flatMap { case (v, out) =>
          acc.columns.filter(_.startsWith(s"${v}_"))
            .map(c => col(c).as(out + c.stripPrefix(v))) }
        val hasAgg = scalarItems.exists(it => graft.sql.Translator.containsAgg(it.expr))
        if (hasAgg) validateAggScoping(items)
        // WITH…WHERE may reference variables the projection DROPS (TCK
        // WithWhere1 [3]) — with no aggregation and no SKIP/LIMIT the
        // row-wise projection and the filter commute, so evaluate the
        // predicate before projecting, substituting each WITH alias by
        // its defining expression. Two-phase marker rename keeps a
        // self-referential alias (`WITH x+1 AS x WHERE x > 2`) from
        // re-substituting inside its own replacement.
        // alias → defining-expression substitution against the PRE-WITH
        // frame, marker-staged so a self-referential alias (`WITH x+1 AS
        // x WHERE x > 2`) never re-substitutes inside its own replacement
        def substAliases(e0: Expr): Expr = {
          val subst: Map[String, Expr] =
            carried.collect { case (v, out) if out != v => out -> Ident(v) }.toMap ++
              scalarItems.collect { case ReturnItem(e2, Some(al), _) => al -> e2 }.toMap
          val marker = "\u0000with:"
          val marked = Ast.mapDown(e0) {
            case Ident(n) if subst.contains(n) => Ident(marker + n)
            case x => x }
          Ast.mapDown(marked) {
            case Ident(n) if n.startsWith(marker) => subst(n.stripPrefix(marker))
            case x => x }
        }
        val preWhere = where.filter(_ => !hasAgg && skip.isEmpty && limit.isEmpty)
        preWhere.foreach { w =>
          // WITH…WHERE may reference variables the projection DROPS (TCK
          // WithWhere1 [3]) — with no aggregation the row-wise projection
          // and the filter commute, so filter before projecting.
          // resolvePatternComps mutates acc (joins comprehension frames) —
          // resolve FIRST so the filter runs on the extended frame
          val cond = resolvePatternComps(substAliases(w))
          acc = acc.filter(toCol(cond))
        }
        // the same commuting argument covers ORDER BY (+ its SKIP/LIMIT):
        // with no aggregation and no DISTINCT, sort the PRE-projection
        // frame so the sort key may reference dropped variables and
        // aliases alike (TCK WithOrderBy4)
        val preSort = orderBy.nonEmpty && !hasAgg && !distinct
        if (preSort) {
          acc = acc.orderBy(orderBy.map { o =>
            // an aggregate in WITH…ORDER BY must itself be projected — a
            // non-projected aggregation has no grouping to run under
            // (TCK WithOrderBy4 [13][14])
            if (graft.sql.Translator.containsAgg(o.expr))
              throw ParseException(
                "InvalidAggregation: non-projected aggregation in WITH ORDER BY")
            val sorted = substAliases(o.expr)
            // every free variable of the sort key must be in scope —
            // openCypher UndefinedVariable is a compile error, not an
            // empty sort (TCK WithOrderBy1 [46])
            locally {
              def check(x: Expr, bound: Set[String]): Unit = x match {
                case Ident(n) =>
                  if (!n.startsWith("$") && !bound(n) && !nodeVars(n) && !relVars(n) &&
                      !relListVars(n) && !scalars(n) && !paths.contains(n))
                    throw ParseException(s"UndefinedVariable: $n in WITH ORDER BY")
                case ListComp(v, l, w2, m) =>
                  check(l, bound); (w2.toSeq ++ m.toSeq).foreach(check(_, bound + v))
                case Quantifier(_, v, l, pr) => check(l, bound); check(pr, bound + v)
                case PropAccess(t, _)        => check(t, bound)
                case Bin(_, l, r)            => check(l, bound); check(r, bound)
                case Neg(y)                  => check(y, bound)
                case Not(y)                  => check(y, bound)
                case FnCall(_, args, _)      => args.foreach(check(_, bound))
                // temporal namespace tokens are not variables
                case MethodCall(Ident(ns), _, args)
                    if Set("date", "datetime", "duration", "time", "localtime",
                      "localdatetime")(ns.toLowerCase) =>
                  args.foreach(check(_, bound))
                case MethodCall(t, _, args)  => check(t, bound); args.foreach(check(_, bound))
                case ArrayLit(xs)            => xs.foreach(check(_, bound))
                case StructLit(fs)           => fs.foreach(kv => check(kv._2, bound))
                case InList(y, es, _)        => check(y, bound); es.foreach(check(_, bound))
                case Between(a2, b2, c2)     => Seq(a2, b2, c2).foreach(check(_, bound))
                case IsNull(y, _)            => check(y, bound)
                case CaseExpr(op, bsx, el) =>
                  op.foreach(check(_, bound))
                  bsx.foreach { case (w2, t2) => check(w2, bound); check(t2, bound) }
                  el.foreach(check(_, bound))
                case _ => ()
              }
              check(sorted, Set.empty)
            }
            val c = sortColOf(sorted)
            if (o.asc) c.asc else c.desc
          }: _*)
          skip.foreach(e2 => acc = acc.offset(evalRowCount(e2, "SKIP").toInt))
          limit.foreach(e2 => acc = acc.limit(evalRowCount(e2, "LIMIT").toInt))
        }
        acc =
          if (hasAgg) { // implicit grouping: non-aggregates are the keys
            val keys = carriedCols ++ scalarItems.collect {
              case it if !graft.sql.Translator.containsAgg(it.expr) => toCol(it.expr).as(name(it)) }
            val aggs = scalarItems.collect {
              case it if graft.sql.Translator.containsAgg(it.expr) => toCol(it.expr).as(name(it)) }
            if (keys.isEmpty) acc.agg(aggs.head, aggs.tail: _*)
            else acc.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
          } else acc.select(carriedCols ++ scalarItems.map { it =>
            val se = substParams(it.expr)
            // a literal Spark cannot type (heterogeneous list) projects as
            // a VARIANT struct (render/sort/compare all work); the symbolic
            // binding below still carries the exact value for static folds
            if (litVal(se) && !sparkSafeLit(se))
              Variant.ofLiteral(se).map(vl => Variant.litCol(vl).as(name(it)))
                .getOrElse(lit(null).as(name(it)))
            else toCol(it.expr).as(name(it))
          }: _*)
        // republish variable scopes under the output names
        val aliasedScalars = scalarItems.collect {
          case ReturnItem(Ident(v), al, _) => v -> al.getOrElse(v) }
        relListVars = aliasedScalars.collect {
          case (v, out) if relListVars(v) => out }.toSet
        val newNodeRefs = scalarItems.collect {
          case it if refsEntity(it.expr) => name(it) }.toSet
        val prevNode = nodeVars; val prevRel = relVars; val prevPaths = paths
        nodeVars = carried.collect { case (v, out) if prevNode(v) => out }.toSet
        relVars = carried.collect { case (v, out) if prevRel(v) => out }.toSet
        paths = carried.collect {
          case (v, out) if prevPaths.contains(v) => out -> prevPaths(v) }.toMap
        litEnv = {
          val fromItems = scalarItems.flatMap { it =>
            val se = substParams(it.expr)
            if (litVal(se)) Some(name(it) -> se)
            else se match {
              case Ident(v) => litEnv.get(v).map(name(it) -> _)
              case _ =>
                // `WITH date({…}) AS d`: the constructor folds to an exact
                // temporal literal — carry it so downstream truncate/
                // between/component expressions keep folding
                (try typed(se) catch { case _: Exception => se }) match {
                  case t @ TemporalLit(_) => Some(name(it) -> t)
                  case _                  => None
                }
            }
          }
          val fromCarried = carried.collect {
            case (v, out) if litEnv.contains(v) => out -> litEnv(v) }
          (fromCarried ++ fromItems).toMap
        }
        scalars = scalarItems.map(name).toSet
        nodeRefScalars = newNodeRefs
        if (distinct) acc = acc.distinct()
        if (orderBy.nonEmpty && !preSort) {
          // post-aggregation sort: a sort item may repeat a projected
          // expression textually (`ORDER BY x + count(*)` with count(*)
          // projected) — rewrite such sub-expressions to their output
          // aliases before resolving (TCK WithOrderBy4 [16][17][18])
          val byExpr: Map[Expr, String] =
            scalarItems.map(it => (it.expr: Expr) -> name(it)).toMap
          val aliasKeys: Set[Expr] =
            (scalarItems.map(it => Ident(name(it)): Expr) ++
              carried.map(cv => Ident(cv._2): Expr)).toSet
          acc = acc.orderBy(orderBy.map { o =>
            // same scoping rules as an agg-bearing projection item
            // (TCK WithOrderBy4 [19][20])
            if (graft.sql.Translator.containsAgg(o.expr))
              validateAggScoping(items :+ ReturnItem(o.expr, None), aliasKeys)
            val rewritten = Ast.mapDown(o.expr) {
              case x if byExpr.contains(x) => Ident(byExpr(x))
              case x => x }
            if (graft.sql.Translator.containsAgg(rewritten))
              throw ParseException(
                "InvalidAggregation: non-projected aggregation in WITH ORDER BY")
            val c = rewritten match {
              case Ident(n) if acc.columns.contains(n) &&
                  Variant.isVariantType(acc.schema(n).dataType) =>
                Variant.sortKey(col(n))
              case Ident(n) if acc.columns.contains(n) => col(n)
              case other => sortColOf(other)
            }
            if (o.asc) c.asc else c.desc
          }: _*)
        }
        if (!preSort) {
          skip.foreach(e2 => acc = acc.offset(evalRowCount(e2, "SKIP").toInt))
          limit.foreach(e2 => acc = acc.limit(evalRowCount(e2, "LIMIT").toInt))
        }
        where.filter(_ => preWhere.isEmpty).foreach { w =>
          val cond = resolvePatternComps(w)
          acc = acc.filter(toCol(cond))
        }
        // an entity-derived scalar that materialized as a whole-NODE
        // struct (nodeList[i] AS n1) re-expands into a full node binding
        // — the same `${v}_<field>` columns a MATCH binding carries — so
        // a later CREATE/MATCH/SET wires the EXISTING node instead of
        // minting a new one (TCK Match4 [4]'s setup pipeline)
        locally {
          import org.apache.spark.sql.types.StructType
          scalarItems.map(name).filter(newNodeRefs).foreach { nm =>
            if (acc.columns.contains(nm)) acc.schema(nm).dataType match {
              case st: StructType
                  if st.fieldNames.contains("id") && st.fieldNames.contains("label") &&
                    !st.fieldNames.contains("_eid") && !st.fieldNames.contains("_vrank") &&
                    !st.fieldNames.contains("_pathn") =>
                st.fieldNames.foreach(fn =>
                  acc = acc.withColumn(s"${nm}_$fn", col(nm).getField(fn)))
                acc = acc.drop(nm)
                scalars -= nm
                nodeRefScalars -= nm
                nodeVars += nm
              case _ => ()
            }
          }
        }

      case ShortestPathC(pv, chain) =>
        if (chain.nodes.length != 2 || chain.rels.length != 1)
          throw ParseException("shortestPath needs exactly (a)-[*lo..hi]-(b)")
        val rel = chain.rels.head
        val (lo, hi) = rel.hops.getOrElse((1, 3))
        def filtered(n: NodePat): DataFrame = {
          val labeled = n.label.fold(g.vertices)(l => g.vertices.filter(col("label") === l))
          n.props.foldLeft(labeled) { case (d, (k, lv)) =>
            if (d.columns.contains(k)) d.filter(col(k) === graft.sql.Translator.toColumn(lv))
            else d.filter(lit(false))
          }
        }
        // min reach depth IS the shortest path length (BFS invariant)
        val reach = g.traverse(filtered(chain.nodes.head).select(col("id")),
            hi, rel.direction, rel.relType)
          .filter(col("depth") >= lo)
        val bv = chain.nodes(1).varName.getOrElse(freshVar())
        val bf = filtered(chain.nodes(1))
        val bRenamed = bf.columns.foldLeft(bf)((d, c) => d.withColumnRenamed(c, s"${bv}_$c"))
        val sp = reach.join(bRenamed, col("id") === col(s"${bv}_id"))
          .drop("id").withColumnRenamed("depth", s"${pv}_length")
        acc = if (acc == null) sp else acc.crossJoin(sp)
        nodeVars += bv

      case _: WriteClause =>
        throw ParseException("write clause in a read query — use Cypher.execute")
    }
  }

  def compile(g: PropertyGraph, q: CypherQuery): DataFrame = {
    // UNION chain: branches combine by column name; one plain UNION
    // anywhere dedups the whole result (set semantics); the LAST branch's
    // ORDER BY/SKIP/LIMIT modify the combined result (openCypher allows
    // them only at the end of a union query).
    val branches = Seq.newBuilder[(CypherQuery, Boolean)]
    var cur = q
    branches += ((cur, true))
    while (cur.union.isDefined) {
      val (all, nxt) = cur.union.get
      branches += ((nxt, all))
      cur = nxt
    }
    val bs = branches.result()
    if (bs.length == 1) return compileSingle(g, q)
    // openCypher forbids mixing UNION and UNION ALL in one query
    // (TCK Union3 [1][2])
    locally {
      val kinds = bs.tail.map(_._2).distinct
      if (kinds.length > 1)
        throw ParseException(
          "InvalidClauseComposition: cannot mix UNION and UNION ALL")
    }
    val last = bs.last._1
    val dfs = bs.map { case (b, _) =>
      val stripped = if (b eq last)
        b.copy(orderBy = Seq.empty, skip = None, limit = None, union = None)
      else b.copy(union = None)
      compileSingle(g, stripped)
    }
    var out = dfs.reduce(_ unionByName _)
    if (bs.tail.exists(!_._2)) out = out.distinct()
    if (last.orderBy.nonEmpty)
      out = out.orderBy(last.orderBy.map { o =>
        val c = o.expr match {
          case Ident(n) if out.columns.contains(n) => col(n)
          case other => graft.sql.Translator.toColumn(flatten(other, out.columns.toSet))
        }
        if (o.asc) c.asc else c.desc
      }: _*)
    last.skip.foreach(e => out = out.offset(evalRowCount(e, "SKIP").toInt))
    last.limit.foreach(e => out = out.limit(evalRowCount(e, "LIMIT").toInt))
    out
  }

  private def compileSingle(g: PropertyGraph, q: CypherQuery): DataFrame = {
    val pl = new Pipeline(g)
    pl.requireYield = !(q.clauses.length == 1 && q.items.isEmpty &&
      q.clauses.head.isInstanceOf[CallC])
    q.clauses.foreach(pl.step)
    if (q.items.isEmpty) {
      // standalone procedure call: the yield surface IS the result
      // (openCypher `CALL proc` without RETURN; a void procedure or a
      // YIELD-consumed horizon yields the empty result)
      if (q.clauses.lastOption.exists(_.isInstanceOf[CallC])) {
        val out = pl.acc
        return if (out == null || out.columns.isEmpty)
          g.vertices.sparkSession.emptyDataFrame
        else out
      }
      throw ParseException("read query requires a RETURN clause")
    }
    finishReturn(pl, q)
  }

  /** Attach `${pv}__pn`: whole-node structs aligned with the path's
    * `${pv}__pnodes` id array (explode with position → join vertices →
    * re-collect in position order). A null path stays null. */
  private def attachPathNodes(g: PropertyGraph, df: DataFrame, pv: String): DataFrame = {
    val vstruct = struct(g.vertices.columns.sorted.map(c => col(c).as(c)).toIndexedSeq: _*)
    val verts = g.vertices.select(col("id").as("__nid2"), vstruct.as("__nstruct"))
    // the row id is nondeterministic — pin it so the exploded branch and
    // the join branch see the SAME ids (recomputation under different
    // partitioning would silently mis-join and null out paths)
    val withId = df.withColumn("__prow", monotonically_increasing_id())
      .localCheckpoint(true)
    val exploded = withId.select(col("__prow"),
      posexplode(col(s"${pv}__pnodes")).as(Seq("__pos", "__nid")))
    val collected = exploded.join(verts, col("__nid") === col("__nid2"))
      .groupBy(col("__prow"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__nstruct")))),
        x => x.getField("__nstruct")).as(s"${pv}__pn"))
    withId.join(collected, Seq("__prow"), "left_outer").drop("__prow")
  }

  /** Final RETURN projection over the accumulated pipeline frame. */
  private def finishReturn(pl: Pipeline, q: CypherQuery): DataFrame = {
    // `RETURN *` expands to every variable in scope, alphabetically
    val srcItems = q.items.flatMap {
      case ReturnItem(Ident("*"), None, _) =>
        // anonymous pattern nodes (`_anonN`) are not user variables
        val inScope =
          (pl.nodeVars ++ pl.relVars ++ pl.scalars ++ pl.paths.keySet)
            .filterNot(_.startsWith("_anon")).toSeq.distinct.sorted
        if (inScope.isEmpty)
          throw ParseException("NoVariablesInScope: RETURN * requires at least one variable")
        inScope.map(v => ReturnItem(Ident(v), None))
      case it => Seq(it)
    }
    // property/label access on an entity a DELETE of this statement
    // removed raises (openCypher DeletedEntityAccess; returning the
    // whole deleted entity itself stays legal — snapshot view)
    if (pl.deletedVars.nonEmpty) srcItems.foreach { it =>
      Ast.mapDown(it.expr) {
        case x @ PropAccess(Ident(v), p) if pl.deletedVars(v) =>
          throw ParseException(
            s"EntityNotFound: DeletedEntityAccess — property $p of deleted $v")
        // type() of a deleted relationship stays readable (TCK Return2
        // [14]) — only property/label access is a DeletedEntityAccess
        case x @ FnCall(n, Seq(Ident(v)), _)
            if pl.deletedVars(v) &&
              Set("labels", "keys", "properties")(n.toLowerCase) =>
          throw ParseException(
            s"EntityNotFound: DeletedEntityAccess — $n() on deleted $v")
        case x => x
      }
    }
    // pattern comprehensions first: they extend the horizon frame
    srcItems.foreach(it => rejectBarePatterns(it.expr, "RETURN"))
    val resolved0 = srcItems.map(it => it.copy(expr = pl.resolvePatternComps(it.expr)))
    // `RETURN nodes(p)` renders whole-node structs, not the id array the
    // generic path resolution carries (TCK With6 [4]): collect the paths
    // it names so attachPathNodes below also covers them, and rewrite the
    // call to the aligned `__pn` struct column (Resolved keeps it opaque
    // to flatten's name mangling)
    val nodesFnPvs = resolved0.flatMap { it =>
      val found = Seq.newBuilder[String]
      Ast.mapDown(it.expr) {
        case x @ FnCall(n, Seq(Ident(pv)), _)
            if n.equalsIgnoreCase("nodes") && pl.paths.contains(pv) =>
          found += pv; x
        case x => x
      }
      found.result()
    }.distinct
    val resolved =
      if (nodesFnPvs.isEmpty) resolved0
      else resolved0.map(it => it.copy(expr = Ast.mapDown(it.expr) {
        case FnCall(n, Seq(Ident(pv)), _)
            if n.equalsIgnoreCase("nodes") && pl.paths.contains(pv) =>
          Resolved(col(s"${pv}__pn"))
        case x => x
      }))
    // standalone RETURN (no MATCH/UNWIND horizon): openCypher evaluates
    // the items once — a literal one-row frame, the relational dual table
    var acc =
      if (pl.acc != null) pl.acc
      else graft.OneRow(pl.session).select(lit(1).as("__dual"))
    // returned path variables need whole-node structs along the path —
    // attach them (one explode + vertex join + positional re-collect per
    // returned path; queries that never return a path pay nothing)
    (resolved.collect { case ReturnItem(Ident(pv), _, _) if pl.paths.contains(pv) => pv }
      ++ nodesFnPvs)
      .distinct.foreach { pv => acc = attachPathNodes(pl.graph, acc, pv) }
    val scalars = pl.scalars
    val items = resolved.map(it =>
      it.copy(expr = pl.typed(flatten(pl.rewriteMetaFns(substParams(it.expr)), scalars, pl.paths))))
    val hasAgg = items.exists(it => graft.sql.Translator.containsAgg(it.expr))
    def name(it: ReturnItem, i: Int): String =
      it.alias.orElse(srcItems(i).raw).getOrElse(exprLabel(srcItems(i).expr))
    // openCypher rejects a projection with two identically-named columns
    locally {
      val names = srcItems.zipWithIndex.map { case (it, i) => name(it, i) }
      names.groupBy(identity).collect { case (nm, occ) if occ.length > 1 =>
        throw ParseException(s"ColumnNameConflict: multiple return columns named $nm") }
    }
    // a bare node/rel variable returns the whole entity: a struct of its
    // flattened columns (id/label metadata + properties), the DataFrame
    // shape of the reference's whole-record Result rows. Matched on the
    // PRE-flatten expression — flatten resolves a bare var to its id.
    def itemCol(i: Int): Column = resolved(i).expr match {
      case Ident(v) if (pl.nodeVars(v) || pl.relVars(v)) && !scalars(v) =>
        val fields = acc.columns.filter(_.startsWith(s"${v}_")).sorted
          .map(c => col(c).as(c.stripPrefix(s"${v}_")))
        // an optional-match miss leaves the identity null: the entity IS
        // null then, not a struct of nulls
        val idCol =
          if (acc.columns.contains(s"${v}_id")) col(s"${v}_id") else col(s"${v}__eid")
        when(idCol.isNull, lit(null)).otherwise(struct(fields.toIndexedSeq: _*))
      // a bare path variable returns the whole path value: aligned node
      // structs + rel structs (direction recoverable from _src/_dst)
      case Ident(pv) if pl.paths.contains(pv) =>
        when(col(s"${pv}__pnodes").isNull, lit(null)).otherwise(
          struct(col(s"${pv}__pn").as("_pathn"), col(s"${pv}__prels").as("_pathr")))
      case _ => graft.sql.Translator.toColumn(items(i).expr)
    }
    var out =
      if (hasAgg) {
        validateAggScoping(resolved)
        // Cypher implicit grouping: non-aggregate items are the keys
        val keys = items.zipWithIndex.collect { case (it, i) if !graft.sql.Translator.containsAgg(it.expr) =>
          itemCol(i).as(name(it, i)) }
        val aggs = items.zipWithIndex.collect { case (it, i) if graft.sql.Translator.containsAgg(it.expr) =>
          graft.sql.Translator.toColumn(it.expr).as(name(it, i)) }
        val grouped =
          if (keys.isEmpty) acc.agg(aggs.head, aggs.tail: _*)
          else acc.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        // groupBy puts keys first — restore the RETURN item order
        grouped.select(items.zipWithIndex.map { case (it, i) =>
          col(s"`${name(it, i)}`") }: _*)
      } else
        acc.select(items.zipWithIndex.map { case (it, i) =>
          itemCol(i).as(name(it, i)) }: _*)

    if (q.distinct) out = out.distinct()
    if (q.orderBy.nonEmpty) {
      // a sort item may repeat a projected expression textually
      // (`RETURN a, count(*) ORDER BY count(*)`) — after aggregation only
      // the output column exists, so rewrite such sub-expressions to
      // their output aliases first (TCK ReturnOrderBy2 [3], ReturnOrderBy6)
      val byExpr: Map[Expr, String] =
        srcItems.zipWithIndex.map { case (it, i) => (it.expr: Expr) -> name(it, i) }.toMap
      val aliasKeys: Set[Expr] =
        srcItems.zipWithIndex.map { case (it, i) => Ident(name(it, i)): Expr }.toSet
      out = out.orderBy(q.orderBy.map { o =>
        // an agg-bearing sort item follows the same scoping rules as an
        // agg-bearing projection: outside the aggregate calls only
        // projected simple keys/aliases may appear (TCK ReturnOrderBy6
        // [4][5]), and the aggregate itself must be projected
        if (graft.sql.Translator.containsAgg(o.expr))
          validateAggScoping(resolved :+ ReturnItem(o.expr, None), aliasKeys)
        val rewritten = Ast.mapDown(o.expr) {
          case x if byExpr.contains(x) => Ident(byExpr(x))
          case x => x }
        if (graft.sql.Translator.containsAgg(rewritten))
          throw ParseException(
            "InvalidAggregation: non-projected aggregation in ORDER BY")
        // DISTINCT seals the sort scope: only returned columns remain
        // (TCK ReturnOrderBy2 [13])
        if (q.distinct) {
          def checkOut(x: Expr): Unit = x match {
            case Ident(n) =>
              if (!n.startsWith("$") && !out.columns.contains(n))
                throw ParseException(
                  s"UndefinedVariable: $n not available after RETURN DISTINCT")
            case PropAccess(t, _)       => checkOut(t)
            case Bin(_, l, r)           => checkOut(l); checkOut(r)
            case Neg(y)                 => checkOut(y)
            case Not(y)                 => checkOut(y)
            case FnCall(_, args, _)     => args.foreach(checkOut)
            case MethodCall(t, _, args) => checkOut(t); args.foreach(checkOut)
            case ArrayLit(xs)           => xs.foreach(checkOut)
            case InList(y, es, _)       => checkOut(y); es.foreach(checkOut)
            case IsNull(y, _)           => checkOut(y)
            case CaseExpr(op, bsx, el) =>
              op.foreach(checkOut)
              bsx.foreach { case (w2, t2) => checkOut(w2); checkOut(t2) }
              el.foreach(checkOut)
            case _ => ()
          }
          checkOut(rewritten)
        }
        val c = rewritten match {
          case Ident(n) if out.columns.contains(n) &&
              Variant.isVariantType(out.schema(n).dataType) =>
            Variant.sortKey(col(s"`$n`"))
          case Ident(n) if out.columns.contains(n) => col(s"`$n`")
          // `ORDER BY alias.prop` where the alias is a returned whole
          // entity: read the struct's field — an absent field is null,
          // Cypher property-bag semantics (TCK With3 [1], ReturnOrderBy2
          // [5])
          case PropAccess(Ident(n), p) if out.columns.contains(n) &&
              out.schema(n).dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
            val st = out.schema(n).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
            if (st.fieldNames.contains(p)) col(s"`$n`").getField(p) else lit(null)
          case other =>
            // projected aliases shadow pipeline variables in the sort
            // scope (ReturnOrderBy5 [1]); the rest resolves like a RETURN
            // item — params substituted, absent properties null, Spark's
            // missing-reference resolution reaching pruned child columns
            val withOut = Ast.mapDown(other) {
              case Ident(nm) if out.columns.contains(nm) => Resolved(col(s"`$nm`"))
              case x => x }
            graft.sql.Translator.toColumn(
              pl.typed(flatten(pl.rewriteMetaFns(substParams(withOut)), scalars, pl.paths)))
        }
        if (o.asc) c.asc else c.desc
      }: _*)
    }
    q.skip.foreach(e => out = out.offset(evalRowCount(e, "SKIP").toInt))
    q.limit.foreach(e => out = out.limit(evalRowCount(e, "LIMIT").toInt))
    out
  }

  /** openCypher: inside an aggregate-bearing projection item, a reference
    * outside the aggregate calls must itself BE a grouping item and a
    * simple variable/property form — anything else is ambiguous (which
    * group's value?) and a compile-time error (TCK Return6 [20][21],
    * With6 [8][9]; Neo4j AmbiguousAggregationExpression). Validated on
    * the PRE-flatten AST: flatten resolves absent properties to null,
    * which would hide the offending reference. Shared by RETURN and WITH
    * implicit grouping. */
  private def validateAggScoping(resolved: Seq[ReturnItem],
      extraKeys: Set[Expr] = Set.empty): Unit = {
    val keyForms = resolved.collect {
      case it if !graft.sql.Translator.containsAgg(it.expr) => it.expr
    }.collect { case e @ (Ident(_) | PropAccess(_, _) | Resolved(_)) => e }.toSet ++ extraKeys
    def validate(e: Expr): Unit = e match {
      case _ if keyForms(e) => ()
      case FnCall(n, _, _) if graft.sql.Translator.isAggFn(n) => ()
      case Ident(n) if n.startsWith("$") => () // parameter = constant
      case Ident(_) | PropAccess(_, _) =>
        throw ParseException(
          "AmbiguousAggregationExpression: non-grouped variable inside " +
            "an expression containing an aggregation")
      case Bin(_, l, r)           => validate(l); validate(r)
      case Neg(x)                 => validate(x)
      case Not(x)                 => validate(x)
      case FnCall(_, args, _)     => args.foreach(validate)
      case MethodCall(t, _, args) => validate(t); args.foreach(validate)
      case ArrayLit(xs)           => xs.foreach(validate)
      case StructLit(fs)          => fs.foreach(kv => validate(kv._2))
      case InList(x, es, _)       => validate(x); es.foreach(validate)
      case Between(a, b, c)       => Seq(a, b, c).foreach(validate)
      case IsNull(x, _)           => validate(x)
      case CaseExpr(op, bs, el) =>
        op.foreach(validate)
        bs.foreach { case (w, t) => validate(w); validate(t) }
        el.foreach(validate)
      case _ => ()
    }
    resolved.filter(it => graft.sql.Translator.containsAgg(it.expr))
      .foreach(it => validate(it.expr))
  }

  /** Default output column name for an unaliased item: the openCypher
    * convention is the expression's source text (`n.name`, `count(*)`,
    * `sum(r1.times)`), reconstructed best-effort from the AST. */
  private def exprLabel(e: Expr): String = e match {
    case PropAccess(t, p)     => s"${exprLabel(t)}.$p"
    case Ident(v)             => v
    case NumLit(v, true)      => v.toBigInt.toString
    case NumLit(v, false)     => v.toString
    case StrLit(s)            => s"'$s'"
    case BoolLit(b)           => b.toString
    case NullLit              => "null"
    case FnCall(n, _, true)   => s"$n(*)"
    case FnCall(n, args, _)   => s"$n(${args.map(exprLabel).mkString(", ")})"
    case Bin(op, l, r)        => s"${exprLabel(l)} $op ${exprLabel(r)}"
    case Neg(x)               => s"-${exprLabel(x)}"
    case Not(x)               => s"NOT ${exprLabel(x)}"
    case ArrayLit(xs)         => s"[${xs.map(exprLabel).mkString(", ")}]"
    case _                    => "expr"
  }

  // ---------------- write execution ----------------

  /** Rewrite `v.prop` → the vertex table's own `prop` column for SET
    * expressions applied to variable `v`; any other variable reference is
    * an error (a SET value may depend only on the target row — per-row
    * cross-variable values would need the full binding table carried into
    * the rewrite join; restriction documented in the operator contract). */
  private def flattenTarget(e: Expr, v: String): Expr = {
    def f(x: Expr): Expr = flattenTarget(x, v)
    e match {
      case PropAccess(Ident(`v`), prop) => Ident(prop)
      case PropAccess(Ident(other), _) =>
        throw ParseException(s"SET value may reference only $v's own properties, found $other")
      case Ident(`v`)                 => Ident("id")
      case PropAccess(t, prop)        => PropAccess(f(t), prop)
      case Bin(op, l, r)              => Bin(op, f(l), f(r))
      case Neg(x)                     => Neg(f(x))
      case Not(x)                     => Not(f(x))
      case FnCall(n, args, s)         => FnCall(n, args.map(f), s)
      case MethodCall(t, m, args)     => MethodCall(f(t), m, args.map(f))
      case InList(x, es, n)           => InList(f(x), es.map(f), n)
      case Between(x, lo, hi)         => Between(f(x), f(lo), f(hi))
      case LikeOp(x, pat, ci)         => LikeOp(f(x), pat, ci)
      case IsNull(x, n)               => IsNull(f(x), n)
      case CaseExpr(op, bs, els)      => CaseExpr(op.map(f), bs.map(b => (f(b._1), f(b._2))), els.map(f))
      case other                      => other
    }
  }

  /** DELETE of an entity-valued expression: a struct with `_eid` is a
    * relationship, a struct with id+label a node, an array recurses per
    * element (TCK Delete5 nested map/list forms). Returns the edge-eid
    * and node-id frames WITHOUT executing — openCypher DELETE applies
    * all of a clause's targets together, relationships before nodes, so
    * two path targets sharing endpoints don't trip the dangling-edge
    * constraint between each other (Delete5 [7]). */
  private def deleteByValue(dt: org.apache.spark.sql.types.DataType,
      frame: DataFrame): (Seq[DataFrame], Seq[DataFrame]) = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType
          if st.fieldNames.contains("_pathn") && st.fieldNames.contains("_pathr") =>
        (Seq(frame.filter(col("__del").isNotNull)
          .select(explode(col("__del").getField("_pathr")).as("__r"))
          .select(col("__r").getField("_eid").as("eid"))),
          Seq(frame.filter(col("__del").isNotNull)
            .select(explode(col("__del").getField("_pathn")).as("__n"))
            .select(col("__n").getField("id").as("id"))))
      case st: StructType if st.fieldNames.contains("_eid") =>
        (Seq(frame.filter(col("__del").isNotNull)
          .select(col("__del").getField("_eid").as("eid"))), Seq.empty)
      case st: StructType if st.fieldNames.contains("id") =>
        (Seq.empty, Seq(frame.filter(col("__del").isNotNull)
          .select(col("__del").getField("id").as("id"))))
      case at: ArrayType =>
        deleteByValue(at.elementType,
          frame.filter(col("__del").isNotNull)
            .select(explode(col("__del")).as("__del")))
      case other =>
        throw ParseException(s"DELETE target must be a node, relationship or path, got $other")
    }
  }

  /** Join the horizon to the (post-write) edge store for a merged
    * relationship pattern: `${rv}__eid` plus `${rv}_*` label/prop
    * columns, one output row per (horizon row × matching edge).
    * `onlyEids` restricts the bind to a subset (the ON CREATE / ON MATCH
    * application frames). */
  private def bindMergedRel(mg: graft.graph.MutableGraph, pl: Pipeline, rv: String,
      t: String, props: Seq[(String, Expr)], srcV: String, dstV: String,
      undirected: Boolean, onlyEids: Option[DataFrame]): DataFrame = {
    var e = mg.edges.filter(col("label") === t)
    onlyEids.foreach { ids =>
      val keyed = ids.select(col(ids.columns.head).as("__only_eid"))
        .localCheckpoint(true)
      e = e.join(broadcast(keyed), col("_eid") === col("__only_eid"), "left_semi")
    }
    val renamed = e.columns.foldLeft(e)((d, c) => d.withColumnRenamed(c, s"${rv}_$c"))
    val fwd = col(s"${rv}_src") === col(s"${srcV}_id") &&
      col(s"${rv}_dst") === col(s"${dstV}_id")
    // pattern props compare INSIDE the join condition so their values may
    // be per-horizon-row expressions (`MERGE (a)-[r:FB {foobar: roles}]->
    // (b)` after WITH — TCK Merge5 [14]), not just literals
    val propCond = props.map { case (k, e2) =>
      if (e.columns.contains(k)) col(s"${rv}_$k") === pl.toCol(e2)
      else lit(false) }
    val orientCond =
      if (undirected) fwd || (col(s"${rv}_src") === col(s"${dstV}_id") &&
        col(s"${rv}_dst") === col(s"${srcV}_id"))
      else fwd
    val cond = (orientCond +: propCond).reduce(_ && _)
    // keep the endpoints as hidden `__src`/`__dst` columns — startNode()/
    // endNode() resolve from them (TCK Merge5 [11]); when the store
    // decouples user ids from identity, carry the endpoints' user ids too
    // so startNode(r).id reads the property, not the internal identity
    val joined = pl.acc.join(renamed, cond, "inner")
      .withColumnRenamed(s"${rv}_src", s"${rv}__src")
      .withColumnRenamed(s"${rv}_dst", s"${rv}__dst")
    def uidOf(nv: String): Option[Column] =
      if (pl.acc.columns.contains(s"${nv}__uid")) Some(col(s"${nv}__uid")) else None
    (uidOf(srcV), uidOf(dstV)) match {
      case (None, None) => joined
      case (su, du) =>
        val s0 = su.getOrElse(lit(null))
        val d0 = du.getOrElse(lit(null))
        joined
          .withColumn(s"${rv}__src_uid",
            when(col(s"${rv}__src") === col(s"${srcV}_id"), s0).otherwise(d0))
          .withColumn(s"${rv}__dst_uid",
            when(col(s"${rv}__dst") === col(s"${dstV}_id"), d0).otherwise(s0))
    }
  }

  /** Apply a MERGE ON CREATE / ON MATCH SET clause to the relationship
    * variable over an already-bound frame (values may reference the
    * endpoints, the rel's own props, or copy whole property maps). */
  private def applyRelSets(mg: graft.graph.MutableGraph, pl: Pipeline,
      bound: DataFrame, rv: String, sc: SetC): Unit = {
    if (sc.labelItems.nonEmpty)
      throw ParseException("SemanticError: relationships have a type, not labels")
    val saved = pl.acc
    val savedRel = pl.relVars
    pl.acc = bound
    pl.relVars += rv
    try {
      if (sc.items.nonEmpty) {
        val upd = bound.select(col(s"${rv}__eid").as("__set_eid") +:
          sc.items.map(it => pl.toCol(it.value).as(it.prop)): _*)
        mg.setEdgePropsValues(upd)
      }
      sc.allItems.foreach { sa =>
        val fields: Seq[(String, Expr)] = substParams(sa.value) match {
          case StructLit(fs) => fs
          case Ident(src) if pl.nodeVars(src) =>
            // copying node props onto a REL: a rel's `id` IS an ordinary
            // prop column, so the node's user id (_uid slot) copies as `id`
            bound.columns.filter(_.startsWith(s"${src}_")).toSeq
              .map(_.stripPrefix(s"${src}_"))
              .filterNot(c => Set("id", "label")(c) || c.startsWith("_"))
              .map(k => k -> (PropAccess(Ident(src), k): Expr)) ++
              (if (bound.columns.contains(s"${src}__uid"))
                Seq("id" -> (PropAccess(Ident(src), "id"): Expr))
              else Nil)
          case other =>
            throw ParseException(s"SET $rv = <value> requires a map, got $other")
        }
        val newKeys = fields.map(_._1)
        val cleared: Seq[(String, Expr)] =
          if (sa.additive) Seq.empty
          else mg.edges.columns.toSeq
            .filterNot(c => Set("src", "dst", "label", "_eid")(c))
            .filterNot(newKeys.contains).map(_ -> (NullLit: Expr))
        if (fields.nonEmpty || cleared.nonEmpty) {
          val upd = bound.select(col(s"${rv}__eid").as("__set_eid") +:
            (fields ++ cleared).map { case (k, e2) => pl.toCol(e2).as(k) }: _*)
          mg.setEdgePropsValues(upd)
        }
      }
    } finally { pl.acc = saved; pl.relVars = savedRel }
  }

  private def applyWrite(mg: graft.graph.MutableGraph, pl: Pipeline, w: WriteClause): Unit = {
    def litCols(props: Seq[(String, Expr)]): Seq[Column] =
      props.map { case (k, e) =>
        graft.sql.Translator.toColumn(pl.typed(substParams(e))).as(k) }
    // User-id decoupling applies only to stores BORN with the hidden
    // `_uid` column (MutableGraph.empty — the openCypher write path);
    // graphs copied from data tables keep the legacy convention where an
    // explicit integral `id` prop doubles as the identity/data column.
    lazy val uidStore = mg.vertices.columns.contains(graft.graph.MutableGraph.UserId)
    w match {
      case CreateC(chains) =>
        // pattern validation (TCK Create1 [13]-[17], Create2 [21][22]):
        // a CREATE relationship has exactly one type and fixed length; a
        // bound node variable may only appear as a bare endpoint of a NEW
        // relationship — re-creating it, or constraining it with labels/
        // props, is an error
        chains.foreach { ch =>
          ch.rels.foreach { r =>
            if (r.relType.exists(_.contains('|')))
              throw ParseException("InvalidSyntax: CREATE relationship with more than one type")
            if (r.hops.isDefined)
              throw ParseException("InvalidSyntax: variable-length CREATE relationship")
          }
          ch.nodes.foreach { nd =>
            nd.varName.filter(v => pl.nodeVars(v) || pl.scalars(v)).foreach { v =>
              if (ch.rels.isEmpty)
                throw ParseException(s"VariableAlreadyBound: CREATE ($v) rebinds $v")
              if (nd.label.isDefined || nd.props.nonEmpty || nd.bracedProps)
                throw ParseException(
                  s"VariableAlreadyBound: CREATE adds predicates to bound variable $v")
            }
          }
        }
        // A chain whose endpoints are bound by a preceding MATCH creates
        // edges per binding row (distributed). A chain of inline node
        // patterns is a LITERAL create: the whole pattern — nodes, their
        // props, the connecting rels — is written in one batch with
        // driver-assigned ids (a scalar max-id fetch; id allocation on a
        // write path is inherently coordinated, cf. the reference's
        // bucket position allocator).
        val (boundChains, literalChains) =
          if (pl.acc == null) (Seq.empty[PatternChain], chains)
          else (chains, Seq.empty[PatternChain])

        if (literalChains.nonEmpty) {
          var idBase: Long = Option(mg.vertices.agg(max(col("id"))).head.get(0))
            .map(_.toString.toLong).getOrElse(-1L) + 1
          val created = pl.createdIds // statement-scoped: CREATE...CREATE chains share vars
          // a later pattern may reference an earlier created node's
          // literal property (`CREATE (a {id: 0}), (b {num: a.id})`,
          // TCK With2 [1]) — substitute the recorded literal; an absent
          // property is null (openCypher property bags)
          def resolveCreatedRefs(e: Expr): Expr = Ast.mapDown(e) {
            case PropAccess(Ident(v), p) if pl.createdProps.contains(v) =>
              pl.createdProps(v).getOrElse(p, NullLit)
            case x => x
          }
          def createLitPairs(props: Seq[(String, Expr)]): Seq[(String, Column)] =
            props.map { case (k, e) =>
              k -> graft.sql.Translator.toColumn(
                pl.typed(substParams(resolveCreatedRefs(e)))) }
          // One (name, Column) spec per node/edge row. The specs evaluate
          // in a SINGLE one-row select (one tiny job for the whole
          // statement) and materialize as local rows; consecutive
          // same-schema runs become one LocalRelation each, so a fused
          // many-CREATE statement (TCK Create4: ~970 clauses) costs a
          // handful of frames instead of a 400-deep nested union whose
          // per-step re-analysis was quadratic. Run-length grouping keeps
          // the store's row order identical to creation order.
          val vSpecs = scala.collection.mutable.Buffer.empty[Seq[(String, Column)]]
          val eSpecs = scala.collection.mutable.Buffer.empty[Seq[(String, Column)]]
          def localBatch(specs: Seq[Seq[(String, Column)]]): DataFrame = {
            import org.apache.spark.sql.types.{StructField, StructType}
            val flat = specs.zipWithIndex.flatMap { case (cs, i) =>
              cs.map { case (n, c) => c.as(s"__b${i}__$n") } }
            val wide = graft.OneRow(mg.spark).select(flat.toIndexedSeq: _*)
            val row = wide.head()
            val fieldTypes = wide.schema.fields.map(_.dataType)
            var off = 0
            val perSpec = specs.map { cs =>
              val schema = StructType(cs.zipWithIndex.map { case ((n, _), j) =>
                StructField(n, fieldTypes(off + j), nullable = true) })
              val values = cs.indices.map(j => row.get(off + j))
              off += cs.length
              (schema, values)
            }
            // runs of identical schemas → one local frame per run
            val runs = scala.collection.mutable.Buffer.empty[(StructType,
              scala.collection.mutable.Buffer[org.apache.spark.sql.Row])]
            perSpec.foreach { case (schema, values) =>
              if (runs.nonEmpty && runs.last._1 == schema)
                runs.last._2 += org.apache.spark.sql.Row.fromSeq(values)
              else runs += ((schema,
                scala.collection.mutable.Buffer(org.apache.spark.sql.Row.fromSeq(values))))
            }
            runs.map { case (schema, rows) =>
              import scala.jdk.CollectionConverters._
              mg.spark.createDataFrame(rows.toSeq.asJava, schema)
            }.reduce(graft.graph.MutableGraph.evolvedUnion)
          }
          def nodeId(n: NodePat): Long = n.varName.flatMap(created.get).map { prior =>
            // a second occurrence of a created variable may not add
            // labels or props (TCK Create1 [15][16])
            if (n.label.isDefined || n.props.nonEmpty || n.bracedProps)
              throw ParseException(
                s"VariableAlreadyBound: CREATE adds predicates to ${n.varName.get}")
            prior
          }.getOrElse {
            // uid store: identity is ALWAYS freshly allocated; an explicit
            // `id` prop is an ordinary user property in the hidden `_uid`
            // column — two distinct vertices may carry the same user id
            // (TCK Merge5 [13]). Legacy (copied-from-data) store: an
            // explicit integral `id` prop doubles as the identity.
            val explicit = n.props.collectFirst { case ("id", NumLit(x, true)) => x.toLong }
            val id =
              if (!uidStore && explicit.isDefined) explicit.get
              else { val i = idBase; idBase += 1; i }
            val idProp = n.props.collectFirst { case ("id", e) => e }
            vSpecs += ("id" -> lit(id)) +:
              ("label" -> lit(n.label.orNull).cast("string")) +:
              (createLitPairs(n.props.filterNot(_._1 == "id")) ++
                (if (uidStore) idProp.map(e => graft.graph.MutableGraph.UserId ->
                  createLitPairs(Seq("id" -> e)).head._2).toSeq
                else Nil))
            n.varName.foreach { v =>
              created(v) = id
              pl.createdProps(v) = n.props.map { case (k, e) =>
                k -> resolveCreatedRefs(e) }.toMap
            }
            id
          }
          var eidBase: Long =
            (if (mg.edges.columns.contains("_eid"))
              Option(mg.edges.agg(max(col("_eid"))).head.get(0))
                .map(_.toString.toLong + 1)
            else None).getOrElse(0L)
          // named rel vars bind into the horizon after the write
          val createdRels =
            scala.collection.mutable.Buffer.empty[(String, Long, String, Seq[(String, Expr)])]
          literalChains.foreach { ch =>
            var prev = nodeId(ch.nodes.head)
            ch.rels.zip(ch.nodes.tail).foreach { case (r, n) =>
              val t = r.relType.getOrElse(throw ParseException("CREATE edge needs a :type"))
              if (r.direction == "both")
                throw ParseException("CREATE relationship must be directed")
              val cur = nodeId(n)
              val (s0, d0) = if (r.direction == "in") (cur, prev) else (prev, cur)
              val eid = { val e = eidBase; eidBase += 1; e }
              eSpecs += ("src" -> lit(s0)) +: ("dst" -> lit(d0)) +:
                ("label" -> lit(t)) +: ("_eid" -> lit(eid)) +:
                createLitPairs(r.props)
              r.varName.foreach(rv => createdRels +=
                ((rv, eid, t, r.props.map { case (k, e2) => k -> resolveCreatedRefs(e2) })))
              prev = cur
            }
          }
          // evolvedUnion across runs, not raw unionByName: a property key
          // may hold different types across the nodes of ONE create
          // statement (`{var: 'text'}` and `{var: 0}`, TCK MatchWhere5)
          if (vSpecs.nonEmpty) mg.createVertices(localBatch(vSpecs.toSeq))
          if (eSpecs.nonEmpty) mg.createEdges(localBatch(eSpecs.toSeq))

          // bind the created node variables into the horizon so read
          // clauses (WITH/UNWIND/RETURN) can follow a literal CREATE in
          // the same statement — one seed row carrying v_id/v_label/props
          val namedPats: Seq[(String, NodePat)] = literalChains
            .flatMap(_.nodes).flatMap(n => n.varName.map(_ -> n))
            .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
          if (createdRels.nonEmpty) {
            val relCols = createdRels.toSeq.flatMap { case (rv, eid, t, props) =>
              lit(eid).as(s"${rv}__eid") +: lit(t).as(s"${rv}_label") +:
                props.map { case (k, e2) =>
                  graft.sql.Translator.toColumn(pl.typed(e2)).as(s"${rv}_$k") }
            }
            pl.acc = (if (pl.acc == null) graft.OneRow(mg.spark).select(relCols: _*)
                      else pl.acc.select(col("*") +: relCols: _*))
            pl.relVars ++= createdRels.map(_._1)
          }
          if (namedPats.nonEmpty) {
            val cols = namedPats.flatMap { case (v, n) =>
              Seq(lit(created(v)).as(s"${v}_id"),
                lit(n.label.orNull).cast("string").as(s"${v}_label")) ++
                // explicit `{id: …}` prop: a USER property in the hidden
                // `_uid` slot so a later `v.id` reads the property value,
                // not metadata-null (TCK With4 [7])
                n.props.collectFirst { case ("id", e) =>
                  graft.sql.Translator.toColumn(resolveCreatedRefs(e))
                    .as(s"${v}__uid") }.toSeq ++
                n.props.filterNot(_._1 == "id").map { case (k, e) =>
                  graft.sql.Translator.toColumn(resolveCreatedRefs(e)).as(s"${v}_$k") }
            }
            pl.acc = (if (pl.acc == null) graft.OneRow(mg.spark).select(cols: _*)
                      else pl.acc.select(col("*") +: cols: _*))
            pl.nodeVars ++= namedPats.map(_._1)
          }
        }

        // per-row creates: openCypher CREATE after MATCH/UNWIND runs once
        // PER BINDING ROW — new node variables allocate one id per row
        // (distributed: base offset + monotonic id), their props evaluate
        // against the row, and the created bindings join the horizon so
        // later chains/clauses can wire edges to them
        boundChains.foreach { ch =>
          var acc2 = pl.acc
          val names = ch.nodes.map(n => n.varName.getOrElse(freshVar()))
          ch.nodes.zip(names).foreach { case (n, v) =>
            if (!pl.nodeVars(v)) {
              val base = Option(mg.vertices.agg(max(col("id"))).head.get(0))
                .map(_.toString.toLong + 1).getOrElse(0L)
              acc2 = acc2.withColumn(s"${v}_id", lit(base) + monotonically_increasing_id())
                .withColumn(s"${v}_label", lit(n.label.orNull).cast("string"))
              // an explicit `id` prop is a user property → `_uid` slot
              // (identity stays the fresh allocation above); legacy
              // stores keep `id` as a plain column
              def storeK(k: String) =
                if (k == "id" && uidStore) graft.graph.MutableGraph.UserId else k
              n.props.foreach { case (k, e) =>
                acc2 = acc2.withColumn(s"${v}_${storeK(k)}", pl.toCol(e)) }
              // pin the allocated ids BEFORE writing so the store and the
              // horizon agree on them
              acc2 = acc2.localCheckpoint(true)
              mg.createVertices(acc2.select(
                (col(s"${v}_id").as("id") +: col(s"${v}_label").as("label") +:
                  n.props.map { case (k, _) =>
                    col(s"${v}_${storeK(k)}").as(storeK(k)) }).toIndexedSeq: _*))
              pl.nodeVars += v
            } else {
              // bound endpoint: label/prop constraints on it are CREATE
              // pattern errors, not filters — leave as-is
            }
          }
          var prevV = names.head
          ch.rels.zip(ch.nodes.tail).zip(names.tail).foreach { case ((r, _), curV) =>
            val t = r.relType.getOrElse(throw ParseException("CREATE edge needs a :type"))
            if (r.direction == "both")
              throw ParseException("CREATE relationship must be directed")
            val (srcV, dstV) = if (r.direction == "in") (curV, prevV) else (prevV, curV)
            // per-row edge identity, pinned BEFORE the write so a named
            // rel variable binds into the horizon (TCK Create6)
            val eidBase =
              (if (mg.edges.columns.contains("_eid"))
                Option(mg.edges.agg(max(col("_eid"))).head.get(0))
                  .map(_.toString.toLong + 1)
              else None).getOrElse(0L)
            val ra = r.varName.getOrElse(freshVar())
            acc2 = acc2.withColumn(s"${ra}__eid",
              lit(eidBase) + monotonically_increasing_id())
            r.props.foreach { case (k, e) =>
              acc2 = acc2.withColumn(s"${ra}_$k", pl.toCol(e)) }
            acc2 = acc2.withColumn(s"${ra}_label", lit(t)).localCheckpoint(true)
            val rows = acc2.select(
              (col(s"${srcV}_id").as("src") +: col(s"${dstV}_id").as("dst") +:
                lit(t).as("label") +: col(s"${ra}__eid").as("_eid") +:
                r.props.map { case (k, _) => col(s"${ra}_$k").as(k) }).toIndexedSeq: _*)
            mg.createEdges(rows)
            if (r.varName.isDefined) pl.relVars += ra
            else acc2 = acc2.drop(s"${ra}__eid", s"${ra}_label")
            prevV = curV
          }
          pl.acc = acc2
        }

      case MergeC(ch, onCreate, onMatch, mPathVar)
          if ch.rels.length == 1 && pl.acc != null &&
            ch.nodes.forall(nd => nd.varName.exists(pl.nodeVars)) =>
        // relationship MERGE between two bound endpoints: per horizon row,
        // bind every matching edge if one exists, create one otherwise —
        // one distinct projection + anti-join + append + re-bind join, no
        // driver loop (TCK Unwind1 [6], Merge5-8; reference MergeStep
        // edge path)
        val rel = ch.rels.head
        if (rel.hops.isDefined)
          throw ParseException("InvalidSyntax: variable-length relationship in MERGE")
        val t = rel.relType.getOrElse(throw ParseException("MERGE edge needs a :type"))
        if (t.contains('|'))
          throw ParseException("InvalidSyntax: MERGE relationship with more than one type")
        rel.props.foreach { case (k, e2) =>
          if (e2 == NullLit)
            throw ParseException(s"SemanticError: MERGE with null property $k") }
        // bound rel var would re-bind: predicates on it are an error
        rel.varName.filter(v => pl.relVars(v) || pl.scalars(v)).foreach(v =>
          throw ParseException(s"VariableAlreadyBound: MERGE rebinds relationship $v"))
        ch.nodes.foreach { nd =>
          if (nd.label.isDefined || nd.props.nonEmpty)
            throw ParseException(
              s"VariableAlreadyBound: MERGE adds predicates to bound variable ${nd.varName.get}")
        }
        val rv = rel.varName.getOrElse(freshVar())
        // eager ON CREATE/ON MATCH target validation (TCK Merge3 [5])
        (onCreate.items ++ onMatch.items ++ (onCreate.allItems ++ onMatch.allItems)
          .map(sa => SetItem(sa.varName, "", sa.value))).foreach { it =>
          if (it.varName != rv && !ch.nodes.exists(_.varName.contains(it.varName)))
            throw ParseException(s"UndefinedVariable: SET target ${it.varName}") }
        def scNonEmpty(sc: SetC): Boolean =
          sc.items.nonEmpty || sc.labelItems.nonEmpty || sc.allItems.nonEmpty
        val undirected = rel.direction == "both" // match either, create ->
        val (srcV, dstV) =
          if (rel.direction == "in") (ch.nodes(1).varName.get, ch.nodes.head.varName.get)
          else (ch.nodes.head.varName.get, ch.nodes(1).varName.get)
        // pattern props evaluate PER HORIZON ROW (they may reference WITH/
        // UNWIND bindings, TCK Merge5 [14]) — carried through `pairs` as
        // `__mp_*` so match, anti-join and create all see the same values
        val pairs = pl.acc.select(
          (col(s"${srcV}_id").as("__m_src") +: col(s"${dstV}_id").as("__m_dst") +:
            rel.props.map { case (k, e2) => pl.toCol(e2).as(s"__mp_$k") }): _*)
          .distinct().localCheckpoint(true)
        def edgesT = mg.edges.filter(col("label") === t)
        def orientCond(e: DataFrame): Column = {
          val fwd = e("src") === col("__m_src") && e("dst") === col("__m_dst")
          val orient =
            if (undirected) fwd || (e("src") === col("__m_dst") && e("dst") === col("__m_src"))
            else fwd
          (orient +: rel.props.map { case (k, _) =>
            if (e.columns.contains(k)) e(k) === col(s"__mp_$k") else lit(false) })
            .reduce(_ && _)
        }
        val missing = { val e = edgesT
          pairs.join(e, orientCond(e), "left_anti").localCheckpoint(true) }
        if (!missing.isEmpty) {
          val eidBase =
            (if (mg.edges.columns.contains("_eid"))
              Option(mg.edges.agg(max(col("_eid"))).head.get(0))
                .map(_.toString.toLong + 1)
            else None).getOrElse(0L)
          val createRows = missing.select(
            (col("__m_src").as("src") +: col("__m_dst").as("dst") +:
              lit(t).as("label") +:
              (lit(eidBase) + monotonically_increasing_id()).as("_eid") +:
              rel.props.map { case (k, _) => col(s"__mp_$k").as(k) }): _*)
            .localCheckpoint(true)
          mg.createEdges(createRows)
          // ON CREATE SET folds into the created edges
          if (scNonEmpty(onCreate)) {
            val accC = bindMergedRel(mg, pl, rv, t, rel.props, srcV, dstV, undirected,
              onlyEids = Some(createRows.select(col("_eid"))))
            applyRelSets(mg, pl, accC, rv, onCreate)
          }
        }
        if (scNonEmpty(onMatch)) {
          val matchedEids = { val e = edgesT
            pairs.join(e, orientCond(e), "inner").select(e("_eid")) }
          if (!matchedEids.isEmpty) {
            val accM = bindMergedRel(mg, pl, rv, t, rel.props, srcV, dstV, undirected,
              onlyEids = Some(matchedEids))
            applyRelSets(mg, pl, accM, rv, onMatch)
          }
        }
        // re-bind: each horizon row continues with every merged edge
        pl.acc = bindMergedRel(mg, pl, rv, t, rel.props, srcV, dstV, undirected, None)
        pl.relVars += rv
        // `MERGE p = (a)-[:R]->(b)`: one-hop path over the merged edge.
        // The rel struct mirrors the match compiler's `__rst` shape
        // (_src/_dst/_eid + sorted label/props) so RETURN p renders the
        // same path value (TCK Merge5 [10]).
        mPathVar.foreach { pv =>
          val rProps = pl.acc.columns.filter(_.startsWith(s"${rv}_"))
            .map(_.stripPrefix(s"${rv}_"))
            .filterNot(c0 => c0 == "_eid" || c0.startsWith("_")).sorted
          val rStruct = struct((col(s"${srcV}_id").as("_src") +:
            col(s"${dstV}_id").as("_dst") +:
            col(s"${rv}__eid").as("_eid") +:
            rProps.map(c0 => col(s"${rv}_$c0").as(c0))).toIndexedSeq: _*)
          val n0 = ch.nodes.head.varName.get
          val n1 = ch.nodes(1).varName.get
          pl.acc = pl.acc.withColumn(s"${pv}__plen", lit(1L))
            .withColumn(s"${pv}__pnodes",
              array(col(s"${n0}_id"), col(s"${n1}_id")))
            .withColumn(s"${pv}__prels", array(rStruct))
          pl.paths += pv -> PathInfo(ch, dynamic = false)
        }

      case MergeC(ch, onCreate, onMatch, mPathVar)
          if ch.rels.isEmpty && pl.acc != null && {
            def refs(e: Expr): Boolean = {
              var found = false
              Ast.mapDown(e) {
                case x @ Ident(nm) if pl.scalars(nm) || pl.nodeVars(nm) ||
                    pl.relVars(nm) || pl.relListVars(nm) => found = true; x
                case x => x }
              found
            }
            // horizon-dependent pattern props — or horizon-dependent ON
            // CREATE/ON MATCH set VALUES on a per-row merge (TCK Merge2
            // [5], Merge4 [2]: `MERGE (city:City) ON CREATE SET city.name
            // = person.bornIn`); label/whole-entity set items stay on the
            // plain path, which is the only one that applies them
            ch.nodes.head.props.exists { case (_, e) => refs(e) } ||
            ((onCreate.items ++ onMatch.items).exists(it => refs(it.value)) &&
              onCreate.labelItems.isEmpty && onMatch.labelItems.isEmpty &&
              onCreate.allItems.isEmpty && onMatch.allItems.isEmpty)
          } =>
        // per-row node MERGE: the pattern's property values come from the
        // horizon (`UNWIND $props AS p MERGE (x:L {k: p.k})`, TCK Unwind1
        // [14]) — match-or-create once per DISTINCT key, then re-bind the
        // variable by joining the horizon to the post-merge store. All set
        // operations: distinct + anti-join + append + join, no driver loop.
        val n = ch.nodes.head
        n.varName.filter(nm => pl.nodeVars(nm) || pl.scalars(nm)).foreach(nm =>
          throw ParseException(s"VariableAlreadyBound: MERGE ($nm) rebinds $nm"))
        n.props.foreach { case (k, e2) =>
          if (substParams(e2) == NullLit)
            throw ParseException(s"SemanticError: MERGE with null property $k") }
        val v = n.varName.getOrElse(freshVar())
        val propKeys = n.props.map(_._1)
        // a prop-less pattern still needs one want-row per statement (the
        // per-row MERGE collapses to a single match-or-create then)
        val want = (if (n.props.isEmpty) pl.acc.select(lit(1).as("__mg__any"))
                    else pl.acc.select(n.props.map { case (k, e) =>
                      pl.toCol(e).as(s"__mg_$k") }: _*))
          .distinct().localCheckpoint(true)
        val vtx0 = mg.vertices
        // a pattern `id` prop matches the USER id slot (_uid) on uid
        // stores; legacy stores match the identity/data column
        def storeK(k: String) =
          if (k == "id" && uidStore) graft.graph.MutableGraph.UserId else k
        val matchCond = (n.props.map { case (k0, _) =>
          val k = storeK(k0)
          if (vtx0.columns.contains(k)) {
            // a schema-evolved variant prop column matches by dispatch,
            // not coercion (same rule as the inline pattern predicate)
            if (Variant.isVariantType(vtx0.schema(k).dataType))
              coalesce(Variant.vEq(vtx0(k), Variant.ofDataType(
                col(s"__mg_$k0"), want.schema(s"__mg_$k0").dataType)), lit(false))
            else col(s"__mg_$k0") === vtx0(k)
          } else lit(false) } ++
          n.label.map(l => labelPred(vtx0("label"), l)))
          .reduceOption(_ && _).getOrElse(lit(true))
        val missing = want.join(vtx0, matchCond, "left_anti").localCheckpoint(true)
        // eager ON CREATE/ON MATCH target validation (TCK Merge3 [5]):
        // targets must be the merge variable or an in-scope binding
        (onCreate.items ++ onMatch.items).foreach { it =>
          if (it.varName != v && !pl.nodeVars(it.varName) && !pl.relVars(it.varName) &&
              !pl.scalars(it.varName))
            throw ParseException(s"UndefinedVariable: SET target ${it.varName}")
        }
        val matchedIds0 =
          if (onMatch.items.nonEmpty)
            Some(want.join(vtx0, matchCond, "inner").select(vtx0("id")).localCheckpoint(true))
          else None
        var createdIds0: Option[DataFrame] = None
        if (!missing.isEmpty) {
          val base = Option(mg.vertices.agg(max(col("id"))).head.get(0))
            .map(_.toString.toLong + 1).getOrElse(0L)
          // uid store: identity freshly allocated, explicit `id` prop in
          // the user-id slot (same convention as literal CREATE); legacy
          // store: an explicit `id` prop doubles as the identity
          val idCol =
            if (!uidStore && propKeys.contains("id")) col("__mg_id").cast("long").as("id")
            else (lit(base) + monotonically_increasing_id()).as("id")
          val createRows = missing.select(
            (idCol +:
              lit(n.label.orNull).cast("string").as("label") +:
              (if (uidStore) propKeys.map(k => col(s"__mg_$k").as(storeK(k)))
               else propKeys.filterNot(_ == "id").map(k => col(s"__mg_$k").as(k)))): _*)
            .localCheckpoint(true)
          mg.createVertices(createRows)
          createdIds0 = Some(createRows.select(col("id")))
        }
        // bind, then apply ON CREATE / ON MATCH over the bound frame so
        // the set values may reference the horizon (TCK Merge2 [5],
        // Merge4 [2]); re-bind afterwards so the horizon sees the result
        val accBase = pl.acc
        def bindNode(): DataFrame = {
          val vtx = mg.vertices
          val renamed = vtx.columns.foldLeft(vtx)((d, c) =>
            d.withColumnRenamed(c, s"${v}_$c"))
          val cond = (n.props.map { case (k0, e) =>
            val k = storeK(k0)
            // a schema-evolved variant prop column re-binds by dispatch
            if (vtx.columns.contains(k) &&
                Variant.isVariantType(vtx.schema(k).dataType)) {
              val c = pl.toCol(e)
              val dt2 = accBase.select(c).schema.head.dataType
              coalesce(Variant.vEq(col(s"${v}_$k"), Variant.ofDataType(c, dt2)),
                lit(false))
            } else pl.toCol(e) <=> col(s"${v}_$k") } ++
            n.label.map(l => labelPred(col(s"${v}_label"), l)))
            .reduceOption(_ && _).getOrElse(lit(true))
          accBase.join(renamed, cond, "inner")
        }
        pl.acc = bindNode()
        pl.nodeVars += v
        def applyOnSets(ids: Option[DataFrame], items: Seq[SetItem]): Boolean =
          ids.filter(_ => items.nonEmpty).exists { idf =>
            val keyed = idf.select(col(idf.columns.head).as("__on_id"))
            val sub = pl.acc.join(broadcast(keyed),
              col(s"${v}_id") === col("__on_id"), "left_semi")
            val upd = sub.select(col(s"${v}_id").as("__set_id") +:
              items.map(it => pl.toCol(it.value).as(it.prop)): _*)
            mg.setVertexPropsValues(upd)
            true
          }
        val wroteC = applyOnSets(createdIds0, onCreate.items)
        val wroteM = applyOnSets(matchedIds0, onMatch.items)
        if (wroteC || wroteM) pl.acc = bindNode() // refresh bound props
        mPathVar.foreach { pv =>
          pl.acc = pl.acc.withColumn(s"${pv}__plen", lit(0L))
            .withColumn(s"${pv}__pnodes", array(col(s"${v}_id")))
            .withColumn(s"${pv}__prels", emptyRels(mg.graph))
          pl.paths += pv -> PathInfo(ch, dynamic = false)
        }

      case MergeC(ch, onCreate, onMatch, mPathVar) =>
        if (ch.rels.nonEmpty)
          throw ParseException("MERGE needs every endpoint bound for a relationship pattern")
        val n = ch.nodes.head
        // a single-node MERGE on an already-bound variable is an error
        // (TCK Merge1 [15]); so is a null-valued pattern property ([17])
        n.varName.filter(nm => pl.nodeVars(nm) || pl.scalars(nm)).foreach(nm =>
          throw ParseException(s"VariableAlreadyBound: MERGE ($nm) rebinds $nm"))
        n.props.foreach { case (k, e2) =>
          if (substParams(e2) == NullLit)
            throw ParseException(s"SemanticError: MERGE with null property $k") }
        val v = n.varName.getOrElse("n")
        // a pattern `id` prop matches the USER id slot (_uid) on uid
        // stores; legacy stores match the identity/data column
        def storeK(k: String) =
          if (k == "id" && uidStore) graft.graph.MutableGraph.UserId else k
        // `MERGE (n)` with no label/props matches any node (creates one
        // only into an empty graph)
        val pred = (n.label.map(l => labelPred(col("label"), l)).toSeq ++
          n.props.map { case (k0, e) =>
            val k = storeK(k0)
            if (mg.vertices.columns.contains(k))
              col(k) === graft.sql.Translator.toColumn(e)
            else lit(false) })
          .reduceOption(_ && _)
          .getOrElse(lit(true))
        // EAGER target validation: an undefined SET target is a compile
        // error even on the branch that never applies it (TCK Merge3 [5]:
        // `MERGE (n) ON MATCH SET x.num = 1` into an empty graph)
        (onCreate.items ++ onMatch.items).foreach { it =>
          if (it.varName != v && !pl.nodeVars(it.varName) && !pl.scalars(it.varName))
            throw ParseException(s"UndefinedVariable: SET target ${it.varName}")
        }
        def sets(items: Seq[SetItem]): Seq[(String, Column)] = items.map { it =>
          if (it.varName != v)
            throw ParseException(s"ON CREATE/MATCH SET target ${it.varName} is not the MERGE variable $v")
          storeK(it.prop) ->
            graft.sql.Translator.toColumn(pl.typed(flattenTarget(it.value, v)))
        }
        val matched = mg.vertices.filter(pred)
        if (matched.isEmpty) {
          // fold ON CREATE SET into the created row (reference MergeStep's
          // create path applies them before insert). uid store: identity
          // is a fresh allocation, an explicit `id` prop is a user
          // property; legacy store: an explicit `id` prop IS the identity
          val base0 = litCols(n.props.map { case (k, e) => storeK(k) -> e }) ++
            n.label.map(l => lit(l).as("label"))
          val base =
            if (!uidStore && n.props.exists(_._1 == "id")) base0
            else {
              val nextId = Option(mg.vertices.agg(max(col("id"))).head.get(0))
                .map(_.toString.toLong + 1).getOrElse(0L)
              lit(nextId).as("id") +: base0
            }
          val row0 = graft.OneRow(mg.spark).select(base: _*)
          val row = sets(onCreate.items).foldLeft(row0) { case (d, (p2, c)) => d.withColumn(p2, c) }
          val rowL =
            if (onCreate.labelItems.isEmpty) row
            else {
              val withLbl =
                if (row.columns.contains("label")) row
                else row.withColumn("label", lit(null).cast("string"))
              onCreate.labelItems.foldLeft(withLbl) { (d, li) =>
                d.withColumn("label",
                  graft.graph.MutableGraph.labelSetCol(col("label"),
                    if (li.remove) Seq.empty else li.labels,
                    if (li.remove) li.labels else Seq.empty)) }
            }
          mg.createVertices(rowL)
        } else {
          if (onMatch.items.nonEmpty)
            mg.setVertexProps(matched.select(col("id")), sets(onMatch.items))
          if (onMatch.labelItems.nonEmpty)
            mg.setVertexLabels(matched.select(col("id")),
              onMatch.labelItems.filterNot(_.remove).flatMap(_.labels),
              onMatch.labelItems.filter(_.remove).flatMap(_.labels))
        }
        // bind the merge variable: each row continues with every matching
        // node — after a create, the created node (openCypher MERGE
        // continues the horizon like a MATCH; TCK Match8 [2]). A path-
        // bound anonymous node (`MERGE p = ({…})`) binds under a fresh
        // name so the path columns have an identity to reference.
        n.varName.orElse(mPathVar.map(_ => freshVar()))
          .filterNot(pl.nodeVars).foreach { mv =>
          // recompute the predicate against the POST-write store: a
          // create that introduced the prop column evolves the schema,
          // and the pre-write pred pinned those props to lit(false)
          // (`MERGE p = (a {num: 1}) RETURN p` on an empty store)
          val vtxNow = mg.vertices
          val predNow = (n.label.map(l => labelPred(col("label"), l)).toSeq ++
            n.props.map { case (k0, e) =>
              val k = storeK(k0)
              if (vtxNow.columns.contains(k))
                col(k) === graft.sql.Translator.toColumn(e)
              else lit(false) })
            .reduceOption(_ && _).getOrElse(lit(true))
          val bound = vtxNow.filter(predNow)
          val renamed = bound.columns.foldLeft(bound)((d, c) =>
            d.withColumnRenamed(c, s"${mv}_$c"))
          pl.acc = if (pl.acc == null) renamed else pl.acc.crossJoin(renamed)
          pl.nodeVars += mv
          mPathVar.foreach { pv =>
            pl.acc = pl.acc.withColumn(s"${pv}__plen", lit(0L))
              .withColumn(s"${pv}__pnodes", array(col(s"${mv}_id")))
              .withColumn(s"${pv}__prels", emptyRels(mg.graph))
            pl.paths += pv -> PathInfo(ch, dynamic = false)
          }
        }

      case SetC(items, labelItems, allItems) =>
        // on a uid store a vertex `id` prop lives in the user-id slot
        // (_uid) — the `id` column is internal identity and is never SET;
        // rel `id` props are ordinary columns (rel identity is _eid)
        def storeK(k: String) =
          if (k == "id" && uidStore) graft.graph.MutableGraph.UserId else k
        items.groupBy(_.varName).toSeq.sortBy(_._1).foreach { case (v, its) =>
          // property values are primitives or lists of primitives —
          // a list of maps is a type error (TCK Set1 [10])
          its.foreach { it =>
            val dt = pl.acc.select(pl.toCol(it.value).as("__probe"))
              .schema.head.dataType
            dt match {
              case org.apache.spark.sql.types.ArrayType(
                  _: org.apache.spark.sql.types.StructType |
                  _: org.apache.spark.sql.types.MapType, _) =>
                throw ParseException(
                  s"SemanticError: maps are not allowed as elements of a property list")
              case _ => ()
            }
          }
          if (pl.relVars(v)) {
            // relationship property SET: per-row values keyed on the
            // edge identity (TCK clauses/set rel scenarios)
            val upd = pl.acc.select(col(s"${v}__eid").as("__set_eid") +:
              its.map(it => pl.toCol(it.value).as(it.prop)): _*)
            mg.setEdgePropsValues(upd)
            its.foreach(it =>
              pl.acc = pl.acc.withColumn(s"${v}_${it.prop}", pl.toCol(it.value)))
          } else {
            if (!pl.nodeVars(v))
              throw ParseException(s"SET target $v is not a bound node variable")
            // a value referencing OTHER horizon bindings (`SET p.name =
            // prop.name` after UNWIND, TCK Unwind1 [14]) evaluates per
            // horizon row and updates by id; a value over the target's own
            // properties stays a one-pass store rewrite
            def refsOther(e: Expr): Boolean = {
              var found = false
              Ast.mapDown(e) {
                case x @ Ident(nm) if nm != v && (pl.scalars(nm) || pl.nodeVars(nm) ||
                    pl.relVars(nm) || pl.relListVars(nm)) => found = true; x
                case x @ PropAccess(Ident(nm), _) if nm != v && (pl.scalars(nm) ||
                    pl.nodeVars(nm) || pl.relVars(nm)) => found = true; x
                case x => x }
              found
            }
            if (its.exists(it => refsOther(it.value))) {
              val upd = pl.acc.select(col(s"${v}_id").as("__set_id") +:
                its.map(it => pl.toCol(it.value).as(storeK(it.prop))): _*)
              mg.setVertexPropsValues(upd)
            } else {
              val ids = pl.acc.select(col(s"${v}_id").as("id"))
              val sets = its.map(it => storeK(it.prop) ->
                graft.sql.Translator.toColumn(pl.typed(flattenTarget(it.value, v))))
              mg.setVertexProps(ids, sets)
            }
            // the horizon sees the post-SET record through the variable
            its.foreach(it =>
              pl.acc = pl.acc.withColumn(s"${v}_${storeK(it.prop)}", pl.toCol(it.value)))
          }
        }
        labelItems.groupBy(_.varName).toSeq.sortBy(_._1).foreach { case (v, its) =>
          if (!pl.nodeVars(v))
            throw ParseException(s"SET/REMOVE label target $v is not a bound node variable")
          val ids = pl.acc.select(col(s"${v}_id").as("id"))
          val add = its.filterNot(_.remove).flatMap(_.labels).distinct
          val rem = its.filter(_.remove).flatMap(_.labels).distinct
          mg.setVertexLabels(ids, add, rem)
          // refresh the horizon's label column the same way
          pl.acc = pl.acc.withColumn(s"${v}_label",
            graft.graph.MutableGraph.labelSetCol(col(s"${v}_label"), add, rem))
        }
        allItems.foreach { sa =>
          val v = sa.varName
          if (!pl.nodeVars(v))
            throw ParseException(s"SET target $v is not a bound node variable")
          // `v = {…}` / `v += {…}`: the map's keys become property
          // columns; non-additive form nulls every other property
          val fields: Seq[(String, Expr)] = substParams(sa.value) match {
            case StructLit(fs) => fs
            case Ident(src) if pl.nodeVars(src) =>
              // copying another node's properties: every src_* prop
              // column, plus its user `id` prop when present (_uid slot)
              pl.acc.columns.filter(_.startsWith(s"${src}_")).toSeq
                .map(_.stripPrefix(s"${src}_"))
                .filterNot(c => Set("id", "label")(c) || c.startsWith("_"))
                .map(k => k -> (PropAccess(Ident(src), k): Expr)) ++
                (if (pl.acc.columns.contains(s"${src}__uid"))
                  Seq("id" -> (PropAccess(Ident(src), "id"): Expr))
                else Nil)
            case other =>
              throw ParseException(s"SET $v = <value> requires a map, got $other")
          }
          val newKeys = fields.map(f => storeK(f._1))
          val cleared: Seq[(String, Expr)] =
            if (sa.additive) Seq.empty
            else mg.vertices.columns.toSeq
              .filterNot(c => Set("id", "label")(c))
              .filterNot(newKeys.contains).map(_ -> (NullLit: Expr))
          if (fields.nonEmpty || cleared.nonEmpty) {
            // `fields` carry USER names (mapped through storeK at the
            // store boundary); `cleared` are already store column names
            val upd = pl.acc.select(col(s"${v}_id").as("__set_id") +:
              (fields.map { case (k, e2) => pl.toCol(e2).as(storeK(k)) } ++
                cleared.map { case (k, e2) => pl.toCol(e2).as(k) }): _*)
            mg.setVertexPropsValues(upd)
            (fields.map { case (k, e2) => storeK(k) -> e2 } ++ cleared).foreach {
              case (k, e2) => pl.acc = pl.acc.withColumn(s"${v}_$k", pl.toCol(e2)) }
          }
        }

      case DeleteC(targets, detach) =>
        // DELETE accepts node variables (vertices go, with incident edges
        // under DETACH), relationship variables (edges go by identity),
        // path variables (all their nodes and relationships), and
        // entity-valued EXPRESSIONS — struct/array values holding whole
        // nodes or rels, e.g. `DELETE nodes[0]` (TCK Delete3, Delete5)
        val varTargets = targets.collect { case Ident(v)
          if pl.relVars(v) || pl.relListVars(v) || pl.nodeVars(v) ||
            pl.paths.contains(v) => v }
        val exprTargets = targets.filter {
          case Ident(v) => !varTargets.contains(v)
          case _        => true
        }
        pl.deletedVars ++= varTargets
        val (relTargets, rest) = varTargets.partition(v =>
          pl.relVars(v) || pl.relListVars(v))
        val (pathTargets, nodeTargets) = rest.partition(pl.paths.contains)
        relTargets.foreach { v =>
          val eids =
            if (pl.relListVars(v))
              pl.acc.select(explode(col(v)).as("__r"))
                .select(col("__r").getField("_eid").as("eid"))
            else pl.acc.select(col(s"${v}__eid").as("eid"))
          mg.deleteEdges(eids)
        }
        pathTargets.foreach { pv =>
          // a null path (optional miss) deletes nothing
          mg.deleteEdges(pl.acc
            .filter(col(s"${pv}__prels").isNotNull)
            .select(explode(col(s"${pv}__prels")).as("__r"))
            .select(col("__r").getField("_eid").as("eid")))
          mg.deleteVertices(pl.acc
            .filter(col(s"${pv}__pnodes").isNotNull)
            .select(explode(col(s"${pv}__pnodes")).as("id")), detach)
        }
        if (nodeTargets.nonEmpty) {
          val ids = nodeTargets.map { v =>
            if (!pl.nodeVars(v))
              throw ParseException(s"DELETE target $v is not a bound node variable")
            pl.acc.select(col(s"${v}_id").as("id"))
          }.reduce(_ union _)
          mg.deleteVertices(ids, detach)
        }
        locally {
          val parts = exprTargets.map { te =>
            val c = pl.toCol(te)
            val frame = pl.acc.select(c.as("__del"))
            deleteByValue(frame.schema("__del").dataType, frame)
          }
          // all edge deletes across the clause's targets BEFORE any node
          parts.flatMap(_._1).foreach(mg.deleteEdges)
          parts.flatMap(_._2).foreach(f => mg.deleteVertices(f, detach))
        }

      case ForeachC(x, list, body) =>
        // one distributed frame of elements; each body clause is a bulk
        // write over it (SET/DELETE need the elements to be node ids —
        // the shape nodes(p) and collect(v) produce)
        val base =
          if (pl.acc != null) pl.acc
          else graft.OneRow(mg.spark).select(lit(1).as("__dual"))
        val elems = base.select(explode(pl.toCol(list)).as(x)).localCheckpoint(true)
        body.foreach {
          case SetC(items, _, _) =>
            items.groupBy(_.varName).toSeq.sortBy(_._1).foreach { case (v, its) =>
              if (v != x)
                throw ParseException(s"FOREACH SET target $v is not the loop variable $x")
              val sets = its.map(it =>
                (if (it.prop == "id" && uidStore) graft.graph.MutableGraph.UserId
                 else it.prop) ->
                  graft.sql.Translator.toColumn(flattenTarget(it.value, x)))
              mg.setVertexProps(elems.select(col(x).cast("long").as("id")), sets)
            }
          case CreateC(chains) => chains.foreach { ch =>
            if (ch.rels.nonEmpty)
              throw ParseException("FOREACH CREATE supports node patterns only")
            val n = ch.nodes.head
            // props may reference the loop variable — evaluated per
            // element; identity is freshly allocated per row (an explicit
            // id prop is a user property in the _uid slot on uid stores)
            val propCols = n.props.map { case (k, e) =>
              graft.sql.Translator.toColumn(e)
                .as(if (k == "id" && uidStore) graft.graph.MutableGraph.UserId else k) } ++
              n.label.map(l => lit(l).as("label"))
            if (propCols.isEmpty)
              throw ParseException("CREATE node needs a label or properties")
            // legacy store with an explicit id prop: the prop column IS
            // the identity (no separate allocation — matches the old
            // convention and avoids a duplicate `id` column)
            val cols =
              if (!uidStore && n.props.exists(_._1 == "id")) propCols
              else {
                val idBase = Option(mg.vertices.agg(max(col("id"))).head.get(0))
                  .map(_.toString.toLong + 1).getOrElse(0L)
                (lit(idBase) + monotonically_increasing_id()).as("id") +: propCols
              }
            mg.createVertices(elems.select(cols.toIndexedSeq: _*))
          }
          case DeleteC(ts, detach) =>
            ts.foreach {
              case Ident(v) if v == x => ()
              case other => throw ParseException(
                s"FOREACH DELETE target $other is not the loop variable $x")
            }
            mg.deleteVertices(elems.select(col(x).cast("long").as("id")), detach)
          case other =>
            throw ParseException(s"unsupported clause in FOREACH body: $other")
        }
    }
  }

  // ---- query parameters ($name — reference Cypher25Parser.g4 parameter
  //      rule; the reference binds them per-execution in the statement
  //      cache's context). Parse results stay parameter-FREE (the
  //      statement cache is keyed by text alone); bindings resolve at
  //      compile time, thread-scoped around one query/execute call. ----
  private val paramsTL = new ThreadLocal[Map[String, Any]] {
    override def initialValue: Map[String, Any] = Map.empty
  }

  private def paramLit(v: Any): Expr = v match {
    case null          => NullLit
    case b: Boolean    => BoolLit(b)
    case i: Int        => NumLit(BigDecimal(i), isIntegral = true)
    case l: Long       => NumLit(BigDecimal(l), isIntegral = true)
    case d: Double     => NumLit(BigDecimal(d), isIntegral = false)
    case bd: BigDecimal => NumLit(bd, isIntegral = bd.isWhole && bd.scale <= 0)
    case s: String     => StrLit(s)
    case xs: Seq[_]    => ArrayLit(xs.map(paramLit))
    case m: Map[_, _]  => StructLit(m.toSeq.map { case (k, x) => k.toString -> paramLit(x) })
    case other => throw ParseException(s"unsupported parameter value: $other")
  }

  /** SKIP/LIMIT accept any constant expression — literals, `$params`,
    * arithmetic, `toInteger`/`ceil`/`floor` — folded to a non-negative
    * row count at compile time (openCypher forbids variable references
    * in these positions; TCK WithSkipLimit3 [2], ReturnSkipLimit). */
  private def evalRowCount(e: Expr, what: String): Long = {
    def fold(x: Expr): BigDecimal = x match {
      case NumLit(v, _)   => v
      case StrLit(s)      => BigDecimal(s)
      case Neg(y)         => -fold(y)
      case Bin("+", l, r) => fold(l) + fold(r)
      case Bin("-", l, r) => fold(l) - fold(r)
      case Bin("*", l, r) => fold(l) * fold(r)
      case Bin("/", l, r) => fold(l) / fold(r)
      case Bin("%", l, r) => fold(l) % fold(r)
      case FnCall(n, Seq(a), _) if Set("tointeger", "toint")(n.toLowerCase) =>
        fold(a).setScale(0, BigDecimal.RoundingMode.DOWN)
      case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("ceil") =>
        fold(a).setScale(0, BigDecimal.RoundingMode.CEILING)
      case FnCall(n, Seq(a), _) if n.equalsIgnoreCase("floor") =>
        fold(a).setScale(0, BigDecimal.RoundingMode.FLOOR)
      // variable-free but non-deterministic: evaluated once, driver-side
      // (`SKIP toInteger(rand()*9)`, TCK ReturnSkipLimit1 [3])
      case FnCall(n, Seq(), _) if n.equalsIgnoreCase("rand") =>
        BigDecimal(java.util.concurrent.ThreadLocalRandom.current().nextDouble())
      case other =>
        throw ParseException(s"$what must be a constant expression, got $other")
    }
    val v = fold(substParams(e))
    if (!v.isWhole || v < 0)
      throw ParseException(s"$what must be a non-negative integer, got $v")
    v.toLong
  }

  /** Substitute `$name` references from the thread's parameter bindings. */
  private[cypher] def substParams(e: Expr): Expr =
    Ast.mapDown(e) {
      case Ident(n) if n.startsWith("$") =>
        paramLit(paramsTL.get().getOrElse(n.drop(1),
          throw ParseException(s"parameter not provided: $n")))
      case x => x
    }

  /** Entry point: run a Cypher query against a property graph. */
  def query(g: PropertyGraph, text: String): DataFrame = compile(g, parse(text))

  /** Run a Cypher query with named parameter bindings (`$name`). */
  def query(g: PropertyGraph, text: String, params: Map[String, Any]): DataFrame = {
    paramsTL.set(params)
    try query(g, text) finally paramsTL.remove()
  }

  /** [[execute]] with named parameter bindings (`$name`). */
  def execute(mg: graft.graph.MutableGraph, text: String,
      params: Map[String, Any]): DataFrame = {
    paramsTL.set(params)
    try execute(mg, text) finally paramsTL.remove()
  }

  /** Entry point for write statements (CREATE / MERGE / SET / DELETE,
    * optionally preceded by MATCH/WITH/UNWIND read clauses and followed by
    * RETURN). Bindings established before a write are pinned
    * (localCheckpoint) so the mutation's overwrite cannot invalidate them;
    * a MATCH issued after a write reads the post-mutation graph. */
  def execute(mg: graft.graph.MutableGraph, text: String): DataFrame = {
    val q = parse(text)
    val pl = new Pipeline(mg.graph) // by-name: re-read after each write
    // A LEADING run of CREATE clauses fuses into one clause: each pattern
    // still sees the variables of the ones before it (openCypher makes
    // `CREATE (a) CREATE (b)` ≡ `CREATE (a), (b)`), but the whole run now
    // takes the literal batch path — one id-allocation scan and one store
    // append TOTAL. Without this, clause 2..n each bind the growing
    // horizon and pay a per-clause max-id action plus a full store
    // rewrite: the TCK movie-graph fixture (~970 clauses, Create4) ran
    // thousands of single-row jobs and never finished. Only the leading
    // run is safe to fuse mechanically — after MATCH/UNWIND, CREATE runs
    // once per binding row through the bound path.
    val leadingCreates = q.clauses.takeWhile(_.isInstanceOf[CreateC])
    val clauses =
      if (leadingCreates.length > 1)
        CreateC(leadingCreates.collect { case CreateC(ch) => ch }.flatten) +:
          q.clauses.drop(leadingCreates.length)
      else q.clauses
    clauses.foreach {
      case wc: WriteClause =>
        if (pl.acc != null) pl.acc = pl.acc.localCheckpoint(true)
        applyWrite(mg, pl, wc)
      case c => pl.step(c)
    }
    if (q.items.nonEmpty) finishReturn(pl, q)
    else graft.OneRow(mg.spark).select(lit(1).as("ok"))
  }
}
