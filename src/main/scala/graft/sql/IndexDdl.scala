package graft.sql

import graft.schema.{IndexDef, TypeCatalog}
import graft.sources.StatsStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index DDL statements + the index-driven scan path (reference
  * query/sql/parser/CreateIndexStatement.java, DropIndexStatement.java,
  * RebuildIndexStatement.java; exec/FetchFromIndexStep.java picks the
  * index when the WHERE matches its key).
  *
  * Spark mapping: an index IS a physical layout — the type's parquet
  * storage re-clustered on the key (range partitioning for one column,
  * Z-order for two) plus the [[StatsStore]] min/max manifest. A SELECT
  * whose WHERE carries a range/equality on the indexed column reads only
  * the manifest-hit files; everything else about the plan is unchanged
  * (the full WHERE still applies as a residual filter). At 100 TB this is
  * exactly Delta/Iceberg data skipping: as in their logs, the manifest is
  * one entry per file, the size of the file list the driver plans the
  * scan from anyway, and part of the table's state: [[StatsStore]] keeps
  * it as a file inside the type's directory, reads it on the driver and
  * picks the files there, with no Spark job. DROP INDEX deletes that file.
  */
object IndexDdl {

  /** Parse + execute CREATE/DROP/REBUILD INDEX. Returns a one-row status
    * frame (name, type, props, uniqueness, status). */
  def statement(spark: SparkSession, dir: String, cat: TypeCatalog,
      p: Parser.P): DataFrame = {
    import spark.implicits._
    def row(ix: IndexDef, status: String): DataFrame =
      Seq((ix.name, ix.typeName, ix.cols.mkString(","),
        if (ix.unique) "UNIQUE" else "NOTUNIQUE", status))
        .toDF("name", "type", "props", "uniqueness", "status")

    if (p.kw("CREATE")) {
      p.expectKw("INDEX")
      // optional explicit name; the reference auto-names `type[props]`
      val explicit = if (!p.peekKw("ON")) Some(Parser.ident(p)) else None
      p.expectKw("ON")
      val t = Parser.ident(p)
      p.expectOp("(")
      val cols = Seq.newBuilder[String]
      cols += Parser.ident(p)
      while (p.op(",")) cols += Parser.ident(p)
      p.expectOp(")")
      // trailing index type (reference Schema.INDEX_TYPE selection in
      // CreateIndexStatement.java:168-199): UNIQUE|NOTUNIQUE → clustered
      // range layout; LSM_VECTOR (HNSW accepted as an alias) → the
      // partitioned-HNSW ANN tier (vector.neighbors picks it up)
      val (unique, kind) =
        if (p.kw("UNIQUE")) (true, "")
        else if (p.kw("LSM_VECTOR") || p.kw("HNSW")) (false, "HNSW")
        else { p.kw("NOTUNIQUE"); (false, "") }
      val cs = cols.result()
      require(kind == "HNSW" || cs.length <= 2,
        "CREATE INDEX supports 1 (range) or 2 (Z-order) columns")
      require(kind != "HNSW" || cs.length == 1, "LSM_VECTOR indexes take one column")
      val ix = IndexDef(explicit.getOrElse(s"$t[${cs.mkString(",")}]"), t, cs, unique, kind)
      cat.registerIndex(ix)
      try build(spark, dir, cat, ix)
      catch { case e: Throwable => cat.dropIndex(ix.name); throw e }
      row(ix, "CREATED")
    } else if (p.kw("DROP")) {
      p.expectKw("INDEX")
      val ix = cat.dropIndex(indexName(p))
      // the manifest goes when this index built it; the clustered layout
      // is harmless to keep (it's just well-sorted data)
      StatsStore.dropManifest(spark, storagePath(dir, cat, ix), ix.cols)
      row(ix, "DROPPED")
    } else if (p.kw("REBUILD")) {
      p.expectKw("INDEX")
      val ix = cat.indexByName(indexName(p))
      build(spark, dir, cat, ix)
      row(ix, "REBUILT")
    } else throw Parser.ParseException("expected CREATE/DROP/REBUILD INDEX")
  }

  /** An index name: a plain identifier or the reference's auto-name form
    * `type[prop,prop]` (reassembled from the bracket tokens). */
  private def indexName(p: Parser.P): String = {
    val base = Parser.ident(p)
    if (p.op("[")) {
      val cols = Seq.newBuilder[String]
      cols += Parser.ident(p)
      while (p.op(",")) cols += Parser.ident(p)
      p.expectOp("]")
      s"$base[${cols.result().mkString(",")}]"
    } else base
  }

  private def storagePath(dir: String, cat: TypeCatalog, ix: IndexDef): String =
    cat(ix.typeName).path.getOrElse(throw new IllegalArgumentException(
      s"type ${ix.typeName} is abstract (no storage to index)"))(dir)

  /** Physically (re)build: cluster the storage on the key column(s) and
    * write the min/max manifest. UNIQUE verifies the constraint first
    * (reference LSMTreeIndexUnique duplicate-key error). */
  def build(spark: SparkSession, dir: String, cat: TypeCatalog, ix: IndexDef): Unit = {
    val path = storagePath(dir, cat, ix)
    val df = spark.read.parquet(path)
    if (ix.kindOrDefault == "HNSW") {
      // the partitioned-HNSW tier builds its per-partition graphs inside
      // the search job (operators/Hnsw.scala — nothing index-shaped
      // crosses a shuffle), so declaration only validates the column
      val f = df.schema.fields.find(_.name == ix.cols.head).getOrElse(
        throw new IllegalArgumentException(s"unknown column ${ix.cols.head}"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
        s"LSM_VECTOR index needs an array column, ${ix.cols.head} is ${f.dataType.simpleString}")
      return
    }
    if (ix.unique) {
      val dup = df.groupBy(ix.cols.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalArgumentException(
          s"UNIQUE index ${ix.name}: duplicate key ${dup(0).toSeq.init.mkString(",")}")
    }
    // `df` reads `path` itself without a checkpoint: StatsStore writes the
    // clustered copy to a staging directory and swaps it in, so the
    // rewrite reads the still-intact source files
    val numFiles = math.max(8, df.inputFiles.length)
    ix.cols match {
      case Seq(k)    => StatsStore.write(df, path, k, numFiles)
      case Seq(a, b) => StatsStore.writeZOrdered(df, path, a, b, numFiles)
      case o => throw new IllegalArgumentException(s"unsupported index arity ${o.length}")
    }
  }

  // ---------------- index-driven scan selection ----------------

  import Ast._

  /** Key bounds the WHERE implies for `k`, from top-level AND conjuncts
    * only (a disjunction can't narrow the scan). Strict bounds keep the
    * literal — looser pruning reads extra files but never misses rows. */
  private def keyBounds(where: Expr, k: String): Option[(Long, Long)] = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def longOf(e: Expr): Option[Long] = e match {
      case NumLit(v, true) => Some(v.toLong)
      case _ => None
    }
    var lo = Option.empty[Long]; var hi = Option.empty[Long]
    def tLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    conjuncts(where).foreach {
      case Between(Ident(c), l, h) if c == k =>
        longOf(l).foreach(tLo); longOf(h).foreach(tHi)
      case Bin("=", Ident(c), v) if c == k => longOf(v).foreach { x => tLo(x); tHi(x) }
      case Bin("=", v, Ident(c)) if c == k => longOf(v).foreach { x => tLo(x); tHi(x) }
      case Bin(">=" | ">", Ident(c), v) if c == k => longOf(v).foreach(tLo)
      case Bin("<=" | "<", Ident(c), v) if c == k => longOf(v).foreach(tHi)
      case Bin(">=" | ">", v, Ident(c)) if c == k => longOf(v).foreach(tHi)
      case Bin("<=" | "<", v, Ident(c)) if c == k => longOf(v).foreach(tLo)
      case _ =>
    }
    if (lo.isEmpty && hi.isEmpty) None
    else Some((lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue)))
  }

  /** The FROM scan for `sel`: when a registered single-column index's key
    * is bounded by the WHERE, read only the manifest-hit files (residual
    * WHERE still applies downstream); otherwise the plain type scan. */
  def scanFor(spark: SparkSession, dir: String, cat: TypeCatalog, sel: Select): DataFrame = {
    val hit = for {
      w  <- sel.where.toSeq
      ix <- cat.indexesOf(sel.from) if ix.cols.length == 1
      b  <- keyBounds(w, ix.cols.head)
    } yield (ix, b)
    hit.headOption match {
      case Some((ix, (lo, hi))) =>
        val path = storagePath(dir, cat, ix)
        val (pruned, _, _) = StatsStore.rangeScan(spark, path, ix.cols.head, lo, hi)
        cat.decorate(spark, dir, sel.from, pruned)
      case None => cat.scan(spark, dir, sel.from)
    }
  }
}
