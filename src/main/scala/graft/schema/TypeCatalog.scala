package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Schema catalog: the Spark-native re-expression of the reference's
  * runtime schema system (SURVEY.md §1.4 — schema/LocalSchema.java:91,
  * DocumentType.java:44 with type inheritance and polymorphic scans,
  * Select.java:57 `polymorphic = true` default; dynamic undeclared
  * properties as a `_props` map column).
  *
  * A [[TypeDef]] maps a logical type to its parquet table, declared
  * columns (read from parquet metadata — one footer read, no scan), an
  * optional parent type (inheritance), and an optional JSON property-bag
  * column surfaced as `_props: map<string,string>`.
  *
  * Scans:
  *   - `scan(type)` — the type's own table, with `@type` discriminator and
  *     `_props` attached (FetchFromTypeExecutionStep.java:42 analog).
  *   - `polymorphicScan(type)` — the type plus all transitive subtypes
  *     unioned by common columns (the reference's subtype-bucket union).
  *
  * Introspection (`schema:types` / `schema:properties` — reference
  * exec/FetchFromSchemaTypesStep.java): DataFrames over the catalog
  * itself, so `SELECT FROM schema:types` is an ordinary query.
  *
  * At 100 TB nothing changes: the catalog is driver-side metadata; scans
  * stay partition-pruned parquet reads, and a polymorphic scan is a union
  * of independently-pruned scans.
  */
final case class TypeDef(
    name: String,
    kind: String, // DOCUMENT | VERTEX | EDGE | TIMESERIES
    path: Option[String => String], // sfDir → parquet path; None = abstract type
    parent: Option[String] = None,
    propsColumn: Option[String] = None,
    // declared-property name → physical column: the inherited property
    // surface subtypes share with their supertype (DocumentType declared
    // Property analog) — what makes a polymorphic scan line up.
    aliases: Map[String, String] = Map.empty)

/** A registered index (reference CreateIndexStatement.java / the schema's
  * index registry): `cols` drive the physical layout — one column =
  * range-clustered files (LSM sorted-run analog), two = Z-order — both
  * materialized by [[graft.sources.StatsStore]] with a min/max manifest
  * the scans consult for file-level pruning. */
final case class IndexDef(name: String, typeName: String, cols: Seq[String],
    unique: Boolean, kind: String = "") {
  /** RANGE (1 clustered col) / ZORDER (2) unless explicitly declared
    * (HNSW for LSM_VECTOR — reference Schema.INDEX_TYPE). */
  def kindOrDefault: String =
    if (kind.nonEmpty) kind else if (cols.length == 1) "RANGE" else "ZORDER"
}

/** A registered trigger (reference CreateTriggerStatement.java +
  * schema/trigger/TriggerImpl.java): `timing` BEFORE|AFTER, `event`
  * CREATE|UPDATE|DELETE, `actionSql` runs through the statement front-end
  * when the event fires on `typeName`'s writable storage. */
final case class TriggerDef(name: String, typeName: String, timing: String,
    event: String, actionSql: String)

/** A registered materialized view / continuous aggregate (reference
  * CreateMaterializedViewStatement.java / CreateContinuousAggregateStatement
  * .java + schema/MaterializedViewImpl.java, ContinuousAggregate.java).
  * `select` is the parsed definition (opaque here — graft.sql.Ast.Select —
  * to keep the schema package front-end-agnostic); `bucketCol`/`tsCol`
  * drive the cagg's delete-first watermark refresh. */
final case class ViewDef(name: String, kind: String, mode: String,
    select: AnyRef, backingDir: String,
    bucketCol: Option[String] = None, tsCol: Option[String] = None)

final class TypeCatalog(initial: Seq[TypeDef]) {

  // DDL mutates the registry at runtime, like the reference's persisted,
  // runtime-mutable LocalSchema (CREATE/ALTER/DROP TYPE, CREATE PROPERTY —
  // parser files query/sql/parser/Create*TypeStatement.java,
  // AlterTypeStatement.java). Declared properties beyond the physical
  // parquet columns live in `declaredProps`.
  private var types: Seq[TypeDef] = initial
  private var declaredProps: Map[String, Seq[(String, String)]] =
    Map.empty.withDefaultValue(Seq.empty)

  private def byName = types.map(t => t.name -> t).toMap

  def apply(name: String): TypeDef = byName(name)
  def typeNames: Seq[String] = types.map(_.name)

  // ---- DDL surface ----
  def createType(name: String, kind: String, parent: Option[String] = None,
      path: Option[String => String] = None): Unit = synchronized {
    require(!byName.contains(name), s"type $name already exists")
    types = types :+ TypeDef(name, kind, path, parent)
  }

  def createProperty(typeName: String, prop: String, dtype: String): Unit = synchronized {
    require(byName.contains(typeName), s"unknown type $typeName")
    declaredProps += typeName -> (declaredProps(typeName) :+ (prop -> dtype))
  }

  def alterType(name: String, newParent: Option[String]): Unit = synchronized {
    require(byName.contains(name), s"unknown type $name")
    types = types.map(t => if (t.name == name) t.copy(parent = newParent) else t)
  }

  def dropType(name: String): Unit = synchronized {
    require(byName.contains(name), s"unknown type $name")
    require(!types.exists(_.parent.contains(name)), s"type $name has subtypes")
    types = types.filterNot(_.name == name)
    declaredProps -= name
  }

  // ---- index registry (CREATE/DROP/REBUILD INDEX; schema:indexes) ----
  private var indexDefs: Seq[IndexDef] = Seq.empty

  def registerIndex(ix: IndexDef): Unit = synchronized {
    require(byName.contains(ix.typeName), s"unknown type ${ix.typeName}")
    require(!indexDefs.exists(_.name == ix.name), s"index ${ix.name} already exists")
    indexDefs = indexDefs :+ ix
  }

  def dropIndex(name: String): IndexDef = synchronized {
    val ix = indexDefs.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown index $name"))
    indexDefs = indexDefs.filterNot(_.name == name)
    ix
  }

  def indexByName(name: String): IndexDef =
    indexDefs.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown index $name"))

  def indexesOf(typeName: String): Seq[IndexDef] =
    indexDefs.filter(_.typeName == typeName)

  /** The key of the stats manifest a write to `typeName` must keep in step:
    * the column of its single-column range index. A Z-order index writes
    * the manifest in its own two-key form, so a type with one has none. */
  def manifestKey(typeName: String): Option[String] =
    indexesOf(typeName).filter(_.kindOrDefault != "HNSW") match {
      case Seq(ix) if ix.kindOrDefault == "RANGE" => Some(ix.cols.head)
      case _ => None
    }

  /** `SELECT FROM schema:indexes` (FetchFromSchemaIndexesStep analog). */
  def schemaIndexes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    indexDefs.map(ix => (ix.name, ix.typeName, ix.cols.mkString(","),
      if (ix.unique) "UNIQUE" else "NOTUNIQUE", ix.kindOrDefault))
      .toDF("name", "type", "props", "uniqueness", "kind")
  }

  // ---- trigger registry (CREATE/DROP TRIGGER) ----
  private var triggerDefs: Seq[TriggerDef] = Seq.empty

  def registerTrigger(t: TriggerDef): Unit = synchronized {
    require(byName.contains(t.typeName), s"unknown type ${t.typeName}")
    require(!triggerDefs.exists(_.name == t.name), s"trigger ${t.name} already exists")
    triggerDefs = triggerDefs :+ t
  }

  def dropTrigger(name: String): Unit = synchronized {
    require(triggerDefs.exists(_.name == name), s"unknown trigger $name")
    triggerDefs = triggerDefs.filterNot(_.name == name)
  }

  def triggersOf(typeName: String): Seq[TriggerDef] =
    triggerDefs.filter(_.typeName == typeName)

  // ---- materialized view / continuous aggregate registry ----
  private var viewDefs: Map[String, ViewDef] = Map.empty
  private var viewWatermarks: Map[String, java.sql.Timestamp] = Map.empty

  def registerView(v: ViewDef): Unit = synchronized {
    require(!viewDefs.contains(v.name), s"view ${v.name} already exists")
    viewDefs += v.name -> v
  }

  def dropView(name: String): ViewDef = synchronized {
    val v = viewDefs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown view $name"))
    viewDefs -= name
    viewWatermarks -= name
    v
  }

  def viewByName(name: String): ViewDef =
    viewDefs.getOrElse(name, throw new IllegalArgumentException(s"unknown view $name"))

  def viewWatermark(name: String): Option[java.sql.Timestamp] = viewWatermarks.get(name)
  def setViewWatermark(name: String, w: java.sql.Timestamp): Unit =
    synchronized { viewWatermarks += name -> w }

  def subtypesOf(name: String): Seq[TypeDef] =
    types.filter(_.parent.contains(name))
      .flatMap(t => t +: subtypesOf(t.name))

  /** Raw table read (no decoration). `events.ts` layouts drifted across
    * testdata generations, so a `ts` column in a RECOGNIZED event-time
    * layout is normalized through the shared probe
    * ([[graft.Tables.normalizeTs]]). Other `ts` types (string, date,
    * decimal … on user-registered types) pass through unchanged — the
    * ns/µs contract applies to event-time layouts only, and a hard throw
    * here would break createType'd tables that happen to name a column
    * `ts`. */
  private def raw(spark: SparkSession, dir: String, t: TypeDef): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}
    val p = t.path.getOrElse(
      throw new IllegalArgumentException(s"type ${t.name} is abstract (no storage)"))
    val df = graft.Tables.readCached(spark, p(dir))
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType | IntegerType | TimestampType | TimestampNTZType) =>
        graft.Tables.normalizeTs(df)
      case _ => df
    }
  }

  /** Type scan with `@type` discriminator and `_props` dynamic map.
    * `schema:*` pseudo-types resolve to the introspection relations
    * (reference FetchFromSchema{Types,Properties,Indexes}Step). */
  def scan(spark: SparkSession, dir: String, name: String): DataFrame = {
    name.toLowerCase match {
      case "schema:types"      => return schemaTypes(spark, dir)
      case "schema:properties" => return schemaProperties(spark, dir)
      case "schema:indexes"    => return schemaIndexes(spark)
      case _ =>
    }
    decorate(spark, dir, name, raw(spark, dir, byName(name)))
  }

  /** Apply the type's scan decoration (property aliases, `@type`,
    * `_props`) to an arbitrary base frame — lets an index-pruned read
    * (see [[graft.sql.IndexDdl]]) look exactly like a plain type scan. */
  def decorate(spark: SparkSession, dir: String, name: String, rawDf: DataFrame): DataFrame = {
    val t = byName(name)
    val aliased = t.aliases.foldLeft(rawDf) {
      case (df, (decl, phys)) => df.withColumn(decl, col(phys))
    }
    val base = aliased.withColumn("@type", lit(t.name))
    t.propsColumn match {
      case Some(c) =>
        base.withColumn("_props", from_json(col(c), MapType(StringType, StringType))).drop(c)
      case None => base
    }
  }

  /** Polymorphic scan: the type ∪ all subtypes, aligned on the common
    * column set (reference polymorphic bucket union; `@type` tells rows
    * apart — INSTANCEOF is a filter on it). */
  def polymorphicScan(spark: SparkSession, dir: String, name: String): DataFrame = {
    val scans = (byName(name) +: subtypesOf(name))
      .filter(_.path.isDefined).map(t => scan(spark, dir, t.name))
    val common = scans.map(_.columns.toSet).reduce(_ intersect _).toSeq.sorted
    scans.map(_.select(common.map(col): _*)).reduce(_ unionByName _)
  }

  /** `SELECT FROM schema:types` (FetchFromSchemaTypesStep analog). */
  def schemaTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    types.map { t =>
      (t.name, t.kind, t.parent.getOrElse(""),
        t.path.map(p => graft.Tables.readCached(spark, p(dir)).schema.fields.length).getOrElse(0)
          + declaredProps(t.name).length)
    }.toDF("name", "kind", "parent", "n_props")
  }

  /** `SELECT FROM schema:properties`: declared columns per type, read
    * from parquet footers. */
  def schemaProperties(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    types.flatMap { t =>
      t.path.toSeq.flatMap(p => graft.Tables.readCached(spark, p(dir)).schema.fields.map(f =>
        (t.name, f.name, f.dataType.simpleString))) ++
        declaredProps(t.name).map { case (prop, dt) => (t.name, prop, dt) }
    }.toDF("type", "prop", "dtype")
  }
}

object TypeCatalog {
  /** The test-corpus catalog: TPC-H-ish star schema + LLM-pipeline tables.
    * `party` is an abstract supertype demonstrating inheritance
    * (customer/supplier are its subtypes — both identify a business
    * partner with a name and a nation). */
  private def p(n: String): Option[String => String] = Some(d => s"$d/$n.parquet")

  /** A fresh catalog instance (DDL-mutable without touching the shared
    * default). */
  def fresh(): TypeCatalog = new TypeCatalog(defaultTypes)

  val default: TypeCatalog = new TypeCatalog(defaultTypes)

  private lazy val defaultTypes: Seq[TypeDef] = Seq(
    TypeDef("region",   "DOCUMENT",   p("region")),
    TypeDef("nation",   "DOCUMENT",   p("nation")),
    TypeDef("party",    "VERTEX",     None), // abstract supertype
    TypeDef("customer", "VERTEX",     p("customer"), parent = Some("party"),
      aliases = Map("key" -> "c_custkey", "name" -> "c_name",
        "nation" -> "c_nationkey", "acctbal" -> "c_acctbal")),
    TypeDef("supplier", "VERTEX",     p("supplier"), parent = Some("party"),
      aliases = Map("key" -> "s_suppkey", "name" -> "s_name",
        "nation" -> "s_nationkey", "acctbal" -> "s_acctbal")),
    TypeDef("part",     "VERTEX",     p("part")),
    TypeDef("orders",   "DOCUMENT",   p("orders")),
    TypeDef("lineitem", "EDGE",       p("lineitem")),
    TypeDef("events",   "TIMESERIES", p("events"), propsColumn = Some("props")),
    TypeDef("documents",  "DOCUMENT", p("documents")),
    TypeDef("embeddings", "DOCUMENT", p("embeddings")))
}
