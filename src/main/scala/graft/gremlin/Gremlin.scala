package graft.gremlin

import graft.graph.{Fixpoint, PropertyGraph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gremlin traversal front-end — the Spark re-expression of the reference's
  * TinkerPop integration (reference gremlin/src/main/java/com/arcadedb/gremlin/
  * ArcadeGraph.java, ArcadeVertex.java, step rewrites ArcadeTraversalStrategy.java,
  * ArcadeFilterByTypeStep.java, ArcadeCountGlobalStep.java).
  *
  * The reference wraps its record iterators in TinkerPop's pull-based step
  * machinery; here a traversal compiles to ONE declarative DataFrame plan —
  * each out()/in() hop is a join against the edges relation, filters push
  * into the scan, and the terminal aggregation is a Spark aggregate, so
  * Catalyst sees the whole pipeline (and e.g. prunes vertex-property columns
  * the traversal never reads).
  *
  * Supported step surface (the analytics-relevant subset of TinkerPop):
  *   g.V() / g.E()                       — full scans
  *   hasLabel('l'), has('k', v|pred)    — filters; preds: eq/neq/gt/gte/lt/
  *                                         lte/within/without/between/
  *                                         containing/startingWith/endingWith
  *   and(...), or(...), not(...)        — boolean composition of has/hasLabel
  *   where(eq('a')|neq('a'))            — current element vs an as() capture
  *   out/in/both('l'?)                  — vertex hops (bag semantics: one
  *                                         traverser per edge, like TinkerPop)
  *   outE/inE('l'?), outV()/inV()       — edge-object hops
  *   repeat(body).times(n)              — body = chain of hop/filter steps,
  *                                         unrolled n times into the one plan
  *   repeat(body).until(cond)           — do-while: after each body pass,
  *                                         traversers satisfying cond emit,
  *                                         the rest loop until none is
  *                                         left (a graph.Fixpoint run,
  *                                         at most MaxRepeatLoops passes)
  *   path().by('k'?)                    — per-traverser visited-element list
  *                                         (vertex hops; value = by-key or id),
  *                                         accumulated AT HOP TIME into an
  *                                         array column — no join-back, no
  *                                         traverser ids, scale-free
  *   as('x'), select('a','b').by('k')   — path-step capture / projection
  *   simplePath()                       — drop traversers that revisit a
  *                                         vertex (cycle filter over the
  *                                         hop-time id array — no join-back)
  *   values('k')                        — property projection (column `value`)
  *   valueMap('k'*)                     — property map projection: map of
  *                                         key → [values-as-strings] (the
  *                                         rendered TinkerPop Map<String,
  *                                         List> — traversers are
  *                                         dynamically typed, a Spark map
  *                                         value is not); no args = all props
  *   project('a','b').by('k'|values(k)) — named multi-column projection of
  *                                         the CURRENT element (modulators
  *                                         round-robin; default id)
  *   union(t1, t2, …)                   — branch traversals from the current
  *                                         frontier, results bag-unioned
  *   choose(pred, a, b) / coalesce(a,b) — per-element conditional value /
  *                                         first non-null projection (value
  *                                         chains only)
  *   dedup(), order().by('k', desc?), limit(n)
  *   count() / sum() / min() / max()    — terminal aggregates (column `value`;
  *                                         sums are decimal-exact per the
  *                                         library-wide parity rule)
  *   groupCount().by('k')               — grouped count (rows (k, cnt),
  *                                         sorted by key — the rendered form
  *                                         of TinkerPop's result map)
  *   group().by('k').by(agg)            — grouped aggregation; agg = count()
  *                                         or values('p').sum/mean/min/max(),
  *                                         default collect (sorted list)
  *
  * Traverser multiplicity is preserved exactly as TinkerPop defines it:
  * no implicit distinct — `out()` emits one traverser per matching edge, so
  * count()/groupCount() agree with the reference's bag semantics.
  */
object Gremlin {

  /** Pass bound of the until()/emit() loops. Gremlin repeats in analytic
    * queries are shallow (the reference's TinkerPop tests stay ≤ 5); a
    * frontier still live at the bound fails loudly. */
  private val MaxRepeatLoops = 12

  // ---------- token model ----------

  /** One chained call: name + raw argument source + attached .by(...) modulators. */
  private final case class Step(name: String, args: List[Arg], by: List[List[Arg]])

  private sealed trait Arg
  private final case class SArg(s: String) extends Arg                  // 'str'
  private final case class NArg(d: Double) extends Arg                  // number
  private final case class IdArg(s: String) extends Arg                 // bare identifier (asc/desc)
  private final case class PArg(name: String, args: List[Arg]) extends Arg // pred/step call gt(5)
  private final case class CArg(calls: List[(String, List[Arg])]) extends Arg // chained calls a().b()

  /** Split `s` on `sep` at paren/quote depth zero. */
  private def splitTop(s: String, sep: Char): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var depth = 0; var q: Char = 0
    for (c <- s) {
      if (q != 0) { cur += c; if (c == q) q = 0 }
      else if (c == '\'' || c == '"') { q = c; cur += c }
      else if (c == '(') { depth += 1; cur += c }
      else if (c == ')') { depth -= 1; cur += c }
      else if (c == sep && depth == 0) { out += cur.toString; cur.clear() }
      else cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.toList
  }

  private def parseCall(c: String): (String, List[Arg]) = {
    val t = c.trim
    val p = t.indexOf('(')
    require(p > 0 && t.endsWith(")"), s"malformed call: $t")
    val inner = t.substring(p + 1, t.length - 1).trim
    (t.substring(0, p).trim,
      if (inner.isEmpty) Nil else splitTop(inner, ',').map(parseArg))
  }

  private def parseArg(raw: String): Arg = {
    val t = raw.trim
    if (t.isEmpty) throw new IllegalArgumentException("empty argument")
    else if (t.head == '\'' || t.head == '"') SArg(t.substring(1, t.length - 1))
    else if (t.matches("[-+]?[0-9.]+([eE][-+]?[0-9]+)?")) NArg(t.toDouble)
    else {
      // `__.out('x').has(...)`: TinkerPop anonymous traversals are chains —
      // split on top-level '.', dropping the `__` start token
      val pieces = splitTop(t, '.').filterNot(p => p.trim == "__")
      if (pieces.length > 1) CArg(pieces.map(parseCall))
      else if (t.last == ')') { val (n, as) = parseCall(pieces.head); PArg(n, as) }
      else IdArg(t)
    }
  }

  /** Calls of an argument that may be a single call or a chain. */
  private def callsOf(a: Arg): List[(String, List[Arg])] = a match {
    case PArg(n, as) => List((n, as))
    case CArg(cs)    => cs
    case other => throw new IllegalArgumentException(s"expected step(s), got $other")
  }

  /** Parse `g.V().has(...)...` into steps with .by() modulators attached. */
  private def parse(text: String): List[Step] =
    graft.StatementCache.cached("gremlin", text)(parseImpl(text))

  private def parseImpl(text: String): List[Step] = {
    val body = text.trim.stripPrefix("g").stripPrefix(".")
    val calls = splitTop(body, '.').map(parseCall)
    // attach by() modulators to the preceding step (TinkerPop modulator rule)
    calls.foldLeft(List.empty[Step]) {
      case (acc, ("by", args)) =>
        require(acc.nonEmpty, ".by() with no step to modulate")
        acc.init :+ acc.last.copy(by = acc.last.by :+ args)
      case (acc, (name, args)) => acc :+ Step(name, args, Nil)
    }
  }

  // ---------- predicate compilation ----------

  private def litOf(a: Arg): Column = a match {
    case SArg(s) => lit(s)
    case NArg(d) => if (d == d.floor && math.abs(d) < 1e15) lit(d.toLong) else lit(d)
    case other   => throw new IllegalArgumentException(s"expected literal, got $other")
  }

  /** has('k', X) where X is a literal (equality) or a P predicate. */
  private def predicate(c: Column, a: Arg): Column = a match {
    case PArg("eq", List(v))          => c === litOf(v)
    case PArg("neq", List(v))         => c =!= litOf(v)
    case PArg("gt", List(v))          => c > litOf(v)
    case PArg("gte", List(v))         => c >= litOf(v)
    case PArg("lt", List(v))          => c < litOf(v)
    case PArg("lte", List(v))         => c <= litOf(v)
    case PArg("within", vs)           => c.isin(vs.map(litOf): _*)
    case PArg("without", vs)          => !c.isin(vs.map(litOf): _*)
    case PArg("between", List(a1, a2)) => c >= litOf(a1) && c < litOf(a2) // [a, b)
    case PArg("containing", List(SArg(s)))   => c.contains(s)
    case PArg("startingWith", List(SArg(s))) => c.startsWith(s)
    case PArg("endingWith", List(SArg(s)))   => c.endsWith(s)
    case v @ (SArg(_) | NArg(_))      => c === litOf(v)
    case other => throw new IllegalArgumentException(s"unsupported predicate: $other")
  }

  /** A pure-filter call (has/hasLabel/and/or/not) as a row predicate over
    * the current element — shared by inline filters, repeat bodies,
    * until() conditions and and()/or() composition. */
  private def filterPred(call: (String, List[Arg])): Column = call match {
    case ("hasLabel", List(SArg(l))) => col("label") === l
    case ("has", List(SArg(k)))      => col(k).isNotNull
    case ("has", List(SArg(k), p))   => predicate(col(k), p)
    case ("and", args) if args.nonEmpty => args.map(argPred).reduce(_ && _)
    case ("or", args) if args.nonEmpty  => args.map(argPred).reduce(_ || _)
    case ("not", List(a))            => !argPred(a)
    case (n, as) => throw new IllegalArgumentException(s"unsupported filter step: $n(${as.mkString(",")})")
  }

  private def argPred(a: Arg): Column = callsOf(a).map(filterPred).reduce(_ && _)

  // ---------- traverser state ----------

  /** `df` carries the current element's own columns plus `<alias>__<prop>`
    * columns for every as()-captured step (and `__path`, the accumulated
    * path values, when a path() step is present downstream). `vertexLike`
    * distinguishes the vertex schema (id/label/props) from the edge schema
    * (src/dst/label/props). `valueCol` is set once a values()/aggregate
    * step collapses to a scalar. */
  private final case class State(df: DataFrame, vertexLike: Boolean, valueCol: Option[String])

  /** Columns that belong to the current element (not alias captures). */
  private def ownCols(df: DataFrame): Seq[String] = df.columns.toSeq.filterNot(_.contains("__"))
  private def aliasCols(df: DataFrame): Seq[String] = df.columns.toSeq.filter(_.contains("__"))

  // ---------- steps ----------

  def query(g0: PropertyGraph, text: String): DataFrame = {
    val steps = parse(text)
    require(steps.nonEmpty, "empty traversal")

    // Iterative traversals (repeat/until/emit) reference the edge
    // relation once per pass AND once per emitted branch of the final
    // union — with a derived edge table (fromTpch's `contains` carries a
    // full groupBy over lineitem) that shuffle re-ran 4-6× per query.
    // Materialize the edges ONCE for the loop forms; single-pass chains
    // keep the lazy relation (one evaluation either way, and the scan
    // prunes better inside the full plan). The check recurses into
    // sub-traversal arguments: a repeat nested inside union(repeat(...))
    // needs the materialization too.
    def argHasRepeat(a: Arg): Boolean = a match {
      case PArg(n, as) => n == "repeat" || as.exists(argHasRepeat)
      case CArg(cs)    => cs.exists { case (n, as) => n == "repeat" || as.exists(argHasRepeat) }
      case _           => false
    }
    val g = if (steps.exists(s => s.name == "repeat" || s.args.exists(argHasRepeat)))
      g0.copy(edges = graft.Materialize.once(g0.edges))
    else g0

    // path() pre-scan: when present, every vertex landing appends its
    // by-value (default: id) to a `__path` array column — accumulation at
    // hop time keeps path() a narrow projection (no join-back, no
    // traverser ids). One .by() modulator applies to every position.
    val pathKey: Option[String] = steps.collectFirst {
      case Step("path", _, bys) => bys match {
        case Nil                 => "id"
        case List(List(SArg(k))) => k
        case o => throw new IllegalArgumentException(s"path().by: at most one by('k') supported, got $o")
      }
    }

    // simplePath() pre-scan: cycle filtering needs the visited VERTEX IDS
    // (path().by(k) values may collide across labels — ids never do), so a
    // separate `__sp` id-array accumulates at hop time when present
    val needSimple = steps.exists(_.name == "simplePath")

    /** Append the landed element's path value (vertex hops only). */
    def tracked(df0: DataFrame): DataFrame = {
      val df = pathKey match {
        case Some(k) if df0.columns.contains("__path") =>
          df0.withColumn("__path", array_append(col("__path"), col(k)))
        case _ => df0
      }
      if (needSimple && df.columns.contains("__sp"))
        df.withColumn("__sp", array_append(col("__sp"), col("id")))
      else df
    }

    /** Vertex hop: join edges (optionally label-filtered), land on far vertex. */
    def hop(s0: State, dirOut: Boolean, label: Option[String]): State = {
      val e = label.fold(g.edges)(l => g.edges.filter(col("label") === l))
      val (near, far) = if (dirOut) ("src", "dst") else ("dst", "src")
      val carried = aliasCols(s0.df).map(col) :+ col(s"e.$far").as("__hop_id")
      val expanded = s0.df.alias("t")
        .join(e.alias("e"), col("t.id") === col(s"e.$near"))
        .select(carried: _*)
      State(
        tracked(expanded.join(g.vertices.alias("v"), col("__hop_id") === col("v.id"))
          .drop("__hop_id")),
        vertexLike = true, None)
    }

    def bothHop(s0: State, label: Option[String]): State =
      State(hop(s0, dirOut = true, label).df
        .unionByName(hop(s0, dirOut = false, label).df), vertexLike = true, None)

    /** Vertex → incident edge objects. */
    def hopE(s0: State, dirOut: Boolean, label: Option[String]): State = {
      val e = label.fold(g.edges)(l => g.edges.filter(col("label") === l))
      val near = if (dirOut) "src" else "dst"
      val carried = aliasCols(s0.df).map(c => col(s"t.$c")) ++
        e.columns.map(c => col(s"e.$c"))
      State(
        s0.df.alias("t").join(e.alias("e"), col("t.id") === col(s"e.$near"))
          .select(carried: _*),
        vertexLike = false, None)
    }

    /** Edge object → endpoint vertex. */
    def endV(s0: State, end: String): State = {
      val carried = aliasCols(s0.df).map(col) :+ col(end).as("__hop_id")
      State(
        tracked(s0.df.select(carried: _*)
          .join(g.vertices.alias("v"), col("__hop_id") === col("v.id"))
          .drop("__hop_id")),
        vertexLike = true, None)
    }

    def labelOf(args: List[Arg]): Option[String] = args match {
      case Nil           => None
      case List(SArg(l)) => Some(l)
      case o => throw new IllegalArgumentException(s"expected edge label, got $o")
    }

    /** Apply an anonymous body chain (repeat bodies): hops + filters. */
    def applyCalls(s0: State, calls: List[(String, List[Arg])]): State =
      calls.foldLeft(s0) { (s, call) =>
        call match {
          case ("out", args)  => hop(s, dirOut = true, labelOf(args))
          case ("in", args)   => hop(s, dirOut = false, labelOf(args))
          case ("both", args) => bothHop(s, labelOf(args))
          case ("outE", args) => hopE(s, dirOut = true, labelOf(args))
          case ("inE", args)  => hopE(s, dirOut = false, labelOf(args))
          case ("outV", Nil)  => endV(s, "src")
          case ("inV", Nil)   => endV(s, "dst")
          case f @ (("has" | "hasLabel" | "and" | "or" | "not"), _) =>
            s.copy(df = s.df.filter(filterPred(f)))
          case (n, _) => throw new IllegalArgumentException(s"unsupported step in traversal body: $n")
        }
      }

    var st = steps.head match {
      case Step("V", Nil, _) =>
        val v1 = pathKey.fold(g.vertices)(k => g.vertices.withColumn("__path", array(col(k))))
        val v0 = if (needSimple) v1.withColumn("__sp", array(col("id"))) else v1
        State(v0, vertexLike = true, None)
      case Step("E", Nil, _) =>
        require(pathKey.isEmpty, "path() is supported for vertex traversals (g.V()...)")
        State(g.edges, vertexLike = false, None)
      case s => throw new IllegalArgumentException(s"traversal must start with V()/E(), got ${s.name}")
    }

    // repeat(body) binds at the FOLLOWING times(n)/until(cond) modulator
    var pendingRepeat: Option[List[(String, List[Arg])]] = None
    var pendingEmit = false
    def takeRepeat(stepName: String): List[(String, List[Arg])] = {
      val b = pendingRepeat.getOrElse(
        throw new IllegalArgumentException(s"$stepName() without a preceding repeat()"))
      pendingRepeat = None
      b
    }
    /** `repeat(body)` closed by until(cond) and/or emit(): a do-while over
      * the frontier. After each pass the traversers satisfying `until`
      * emit and leave, the rest loop; with `emitAll` every post-pass
      * traverser emits (TinkerPop emit+until composition). Without
      * `until` (a trailing emit()) the loop runs until the frontier
      * drains. A frontier still live after MaxRepeatLoops passes fails
      * loudly rather than return an incomplete answer (TinkerPop loops
      * until satisfied; times(n) on the same bound fails loudly too —
      * TRAVERSE's MAXDEPTH error behavior). */
    def repeatUntil(s0: State, body: List[(String, List[Arg])], until: Option[Column],
        emitAll: Boolean): State = {
      val stop = until.getOrElse(lit(false))
      val loop = Fixpoint(s0.df, MaxRepeatLoops, !stop,
          Some(Fixpoint.Merge(None, pass => if (emitAll) pass else pass.filter(stop)))) { r =>
        applyCalls(s0.copy(df = if (r.n == 1) r.prev else r.prev.filter(!stop)), body).df
      }
      if (loop.cutOff)
        throw new IllegalStateException(until.fold(
          s"repeat().emit() exceeded $MaxRepeatLoops passes with a non-empty frontier")(_ =>
          s"until() exceeded $MaxRepeatLoops passes with a non-empty frontier; " +
            "deepen the traversal with times(n) over explicit hops or reshape the predicate"))
      State(loop.out, vertexLike = true, None)
    }
    /** Any step other than times/until arriving while repeat().emit() is
      * pending closes the unbounded-emit loop first. */
    def flushPendingEmit(): Unit =
      if (pendingRepeat.isDefined && pendingEmit) {
        st = repeatUntil(st, takeRepeat("emit"), None, emitAll = true)
        pendingEmit = false
      }

    for (s <- steps.tail) {
    if (!Set("times", "until", "emit").contains(s.name)) flushPendingEmit()
    s match {
      case Step("hasLabel", List(SArg(l)), _) =>
        st = st.copy(df = st.df.filter(col("label") === l))
      case Step("has", List(SArg(k), p), _) =>
        st = st.copy(df = st.df.filter(predicate(col(k), p)))
      case Step(n @ ("and" | "or" | "not"), args, _) =>
        st = st.copy(df = st.df.filter(filterPred((n, args))))

      // where(eq('a')/neq('a')): compare the CURRENT element's identity
      // against an as()-captured step (TinkerPop WherePredicateStep)
      case Step("where", List(PArg(op, List(SArg(a)))), _) if op == "eq" || op == "neq" =>
        val cap = col(s"${a}__id")
        val cur = if (st.vertexLike) col("id")
          else throw new IllegalArgumentException("where(eq/neq) needs a vertex traverser")
        st = st.copy(df = st.df.filter(if (op == "eq") cur === cap else cur =!= cap))

      case Step("out", args, _)  => st = hop(st, dirOut = true,  labelOf(args))
      case Step("in", args, _)   => st = hop(st, dirOut = false, labelOf(args))
      case Step("both", args, _) => st = bothHop(st, labelOf(args))
      case Step("outE", args, _) => st = hopE(st, dirOut = true,  labelOf(args))
      case Step("inE", args, _)  => st = hopE(st, dirOut = false, labelOf(args))
      case Step("outV", Nil, _)  => st = endV(st, "src")
      case Step("inV", Nil, _)   => st = endV(st, "dst")

      case Step("repeat", List(body), _) =>
        require(pendingRepeat.isEmpty, "nested repeat() not supported")
        pendingRepeat = Some(callsOf(body))

      // repeat(body).times(n): emit after exactly n passes — unrolled into
      // the one lazy plan (bounded small, like TRAVERSE … MAXDEPTH)
      // emit() between repeat() and its terminator (or trailing): every
      // post-pass frontier joins the output, TinkerPop bag semantics
      case Step("emit", Nil, _) =>
        require(pendingRepeat.isDefined, "emit() without a pending repeat()")
        pendingEmit = true

      case Step("times", List(NArg(n)), _) =>
        val body = takeRepeat("times")
        require(n >= 1 && n <= MaxRepeatLoops, s"times($n) out of range 1..$MaxRepeatLoops")
        if (pendingEmit) {
          // repeat(body).emit().times(n): union of the frontiers after
          // each of the n passes
          pendingEmit = false
          var frontier = st
          var emitted: Option[DataFrame] = None
          for (_ <- 1 to n.toInt) {
            frontier = applyCalls(frontier, body)
            emitted = Some(emitted.fold(frontier.df)(_.unionByName(frontier.df)))
          }
          st = frontier.copy(df = emitted.get)
        } else
          st = (1 to n.toInt).foldLeft(st)((s, _) => applyCalls(s, body))

      // repeat(body).until(cond), with emit(): every post-pass frontier
      // joins the output, not just the until-satisfiers
      case Step("until", List(cond), _) =>
        val body = takeRepeat("until")
        st = repeatUntil(st, body, Some(argPred(cond)), emitAll = pendingEmit)
        pendingEmit = false

      case Step("path", Nil, _) =>
        st = State(st.df.select(col("__path").as("path")), vertexLike = false, Some("path"))

      case Step("as", List(SArg(a)), _) =>
        // capture the current element's columns under an alias prefix
        val own = ownCols(st.df)
        val withAlias = own.foldLeft(st.df)((d, c) => d.withColumn(s"${a}__$c", col(c)))
        st = st.copy(df = withAlias)

      case Step("select", sels, bys) =>
        require(sels.nonEmpty, "select() needs step labels")
        val names = sels.map { case SArg(v) => v; case o => throw new IllegalArgumentException(s"select: $o") }
        // .by('k') modulators apply round-robin (TinkerPop rule); default id
        val keys: List[String] =
          if (bys.isEmpty) List.fill(names.size)("id")
          else names.indices.map(i => bys(i % bys.size) match {
            case List(SArg(k)) => k
            case o             => throw new IllegalArgumentException(s"select.by: $o")
          }).toList
        val proj = names.zip(keys).map { case (n, k) => col(s"${n}__$k").as(n) }
        st = State(st.df.select(proj: _*), vertexLike = false, None)

      case Step("values", List(SArg(k)), _) =>
        st = State(st.df.select(col(k).as("value")), st.vertexLike, Some("value"))

      // simplePath(): keep only traversers whose visited-id path has no
      // repeats (TinkerPop SimplePathStep) — a narrow filter over the
      // hop-time `__sp` array, never a join-back
      case Step("simplePath", Nil, _) =>
        require(st.df.columns.contains("__sp"), "simplePath() needs a vertex traversal")
        st = st.copy(df =
          st.df.filter(size(array_distinct(col("__sp"))) === size(col("__sp"))))

      // valueMap('k'*): rendered TinkerPop Map<String, List<Object>> — one
      // map column; values render as string lists (traversers are
      // dynamically typed, one Spark map value type is not). No args = all
      // of the element's own property columns (id/label excluded, like
      // TinkerPop's default valueMap())
      case Step("valueMap", args, _) =>
        val keys = args match {
          case Nil => ownCols(st.df).filterNot(c => c == "id" || c == "label")
          case as  => as.map { case SArg(k) => k
            case o => throw new IllegalArgumentException(s"valueMap: $o") }
        }
        require(keys.nonEmpty, "valueMap(): element has no properties")
        val entries = keys.flatMap(k =>
          Seq(lit(k), array(col(k).cast("string"))))
        st = State(st.df.select(map(entries: _*).as("valueMap")),
          vertexLike = false, Some("valueMap"))

      // project('a','b').by(...): named multi-column projection of the
      // CURRENT element (TinkerPop ProjectStep); by() modulators apply
      // round-robin — by('k') or by(values('k')) project the property,
      // no by() projects the id
      case Step("project", names0, bys) =>
        require(names0.nonEmpty, "project() needs at least one name")
        val names = names0.map { case SArg(n) => n
          case o => throw new IllegalArgumentException(s"project: $o") }
        def byCol(a: List[Arg]): Column = a match {
          case List(SArg(k))  => col(k)
          case List(one) => callsOf(one) match {
            case List(("values", List(SArg(k)))) => col(k)
            case o => throw new IllegalArgumentException(s"project.by: $o")
          }
          case Nil => col("id")
          case o   => throw new IllegalArgumentException(s"project.by: $o")
        }
        val proj = names.zipWithIndex.map { case (n, i) =>
          (if (bys.isEmpty) col("id") else byCol(bys(i % bys.size))).as(n)
        }
        st = State(st.df.select(proj: _*), vertexLike = false, None)

      // union(t1, t2, …): each branch traverses from the CURRENT frontier;
      // results bag-union (TinkerPop UnionStep — no implicit dedup)
      case Step("union", branches, _) if branches.nonEmpty =>
        val parts = branches.map(b => applyCalls(st, callsOf(b)))
        require(parts.forall(_.vertexLike == parts.head.vertexLike),
          "union(): branches must land on the same element kind")
        st = State(parts.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true)),
          parts.head.vertexLike, None)

      // choose(has-pred, 'a', 'b'): per-element conditional property
      // projection (TinkerPop ChooseStep, value form)
      case Step("choose", List(p, SArg(a), SArg(b)), _) =>
        val pred = argPred(p)
        // heterogeneous branch types render as strings (TinkerPop traversers
        // are dynamically typed; a Spark column is not)
        val sch = st.df.schema
        val (ca, cb) =
          if (sch(a).dataType == sch(b).dataType) (col(a), col(b))
          else (col(a).cast("string"), col(b).cast("string"))
        st = State(st.df.select(when(pred, ca).otherwise(cb).as("value")),
          vertexLike = false, Some("value"))

      // coalesce(values('a'), values('b')): first non-null projection
      case Step("coalesce", args, _) if args.nonEmpty =>
        val cols = args.map(a => callsOf(a) match {
          case List(("values", List(SArg(k)))) => col(k)
          case o => throw new IllegalArgumentException(s"coalesce: only values('k') branches, got $o")
        })
        st = State(st.df.select(coalesce(cols: _*).as("value")), vertexLike = false, Some("value"))

      case Step("dedup", Nil, _)  => st = st.copy(df = st.df.distinct())
      case Step("limit", List(NArg(n)), _) => st = st.copy(df = st.df.limit(n.toInt))
      // sample(n): n traversers; deterministic md5-ordered pick (the
      // engine's reproducible-sampling convention, SamplingOps) rather
      // than TinkerPop's nondeterministic draw — same contract (size n,
      // uniform-ish), stable under re-runs so results stay oracle-able
      case Step("sample", List(NArg(n)), _) =>
        val key = md5(concat_ws("", st.df.columns.map(c => col(c).cast("string")): _*))
        st = st.copy(df = st.df.orderBy(key).limit(n.toInt))

      case Step("order", Nil, bys) =>
        val sorts: Seq[Column] =
          if (bys.isEmpty) Seq(col(st.valueCol.getOrElse("id")).asc)
          else bys.map {
            case List(SArg(k))                => col(k).asc
            case List(SArg(k), IdArg("desc")) => col(k).desc
            case List(SArg(k), IdArg("asc"))  => col(k).asc
            case List(IdArg("desc"))          => col(st.valueCol.getOrElse("id")).desc
            case o => throw new IllegalArgumentException(s"order.by: $o")
          }
        st = st.copy(df = st.df.orderBy(sorts: _*))

      case Step("count", Nil, _) =>
        st = State(st.df.select(count(lit(1)).as("value")), vertexLike = false, Some("value"))
      case Step("sum", Nil, _) =>
        val v = st.valueCol.getOrElse(throw new IllegalArgumentException("sum() needs values()"))
        // decimal-exact: double sums are summation-order-dependent
        st = State(
          st.df.select(sum(col(v).cast("decimal(28,4)")).cast("double").as("value")),
          vertexLike = false, Some("value"))
      case Step("min", Nil, _) =>
        val v = st.valueCol.getOrElse(throw new IllegalArgumentException("min() needs values()"))
        st = State(st.df.select(min(col(v)).as("value")), vertexLike = false, Some("value"))
      case Step("max", Nil, _) =>
        val v = st.valueCol.getOrElse(throw new IllegalArgumentException("max() needs values()"))
        st = State(st.df.select(max(col(v)).as("value")), vertexLike = false, Some("value"))

      case Step("groupCount", Nil, bys) =>
        val key = bys match {
          case List(List(SArg(k))) => k
          case Nil                 => st.valueCol.getOrElse("id")
          case o                   => throw new IllegalArgumentException(s"groupCount.by: $o")
        }
        // rendered form of TinkerPop's result map, sorted by key for determinism
        st = State(
          st.df.groupBy(col(key)).agg(count(lit(1)).as("cnt")).orderBy(col(key)),
          vertexLike = false, None)

      // group().by('k').by(agg): rendered TinkerPop group map — one row per
      // key, aggregate per the second by(); default collects the elements'
      // ids as a sorted list (TinkerPop's default fold)
      case Step("group", Nil, bys) =>
        val (key, aggBy) = bys match {
          case List(List(SArg(k)))      => (k, None)
          case List(List(SArg(k)), agg) => (k, Some(agg))
          case o => throw new IllegalArgumentException(s"group needs by('k')[.by(agg)], got $o")
        }
        val aggCol: Column = aggBy.map(a => callsOf(a.head)).getOrElse(Nil) match {
          case Nil if aggBy.isEmpty => sort_array(collect_list(col(st.valueCol.getOrElse("id"))))
          case List(("count", Nil)) => count(lit(1))
          case List(("values", List(SArg(p)))) => sort_array(collect_list(col(p)))
          case List(("values", List(SArg(p))), (f, Nil)) => f match {
            case "sum"  => sum(col(p).cast("decimal(28,4)")).cast("double")
            case "mean" => (sum(col(p).cast("decimal(28,4)")) / count(col(p))).cast("double")
            case "min"  => min(col(p))
            case "max"  => max(col(p))
            case other  => throw new IllegalArgumentException(s"group.by aggregate: $other")
          }
          case o => throw new IllegalArgumentException(s"group.by aggregate: $o")
        }
        st = State(
          st.df.groupBy(col(key)).agg(aggCol.as("value")).orderBy(col(key)),
          vertexLike = false, None)

      case other => throw new IllegalArgumentException(s"unsupported step: ${other.name}")
    }
    }
    // a trailing repeat().emit() (no times/until) closes at traversal end
    flushPendingEmit()
    // a pathological `repeat()` with no times/until/emit is a user error
    require(pendingRepeat.isEmpty, "repeat() without a following times()/until()/emit()")
    st.df
  }
}
