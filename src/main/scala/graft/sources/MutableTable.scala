package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** DML semantics over a writable parquet table (SURVEY.md §2.11).
  *
  * Re-expresses the reference's mutation planners as whole-table
  * transformations: UPDATE … SET with RETURN BEFORE/AFTER/COUNT
  * (exec/UpdateExecutionPlanner.java, UpdateSetStep.java:30,
  * CopyRecordContentBeforeUpdateStep.java — the BEFORE copy is captured
  * pre-mutation exactly as that step does), UPSERT (exec/UpsertStep.java:37
  * — update the rows matching the key filter, or create one new record
  * carrying the key values when none match), DELETE (exec/DeleteStep
  * .java:28), and MERGE (Delta-style matched-update / not-matched-insert,
  * the set-oriented form of the reference's per-record upsert loop).
  *
  * Spark mapping: each mutation derives the next table state as a
  * DataFrame, writes it to a staging directory (the write itself reads the
  * still-intact current state), and swaps staging into place. At
  * 100 TB the backing store would be Delta/Iceberg where the same
  * operations are transactional MERGE/UPDATE/DELETE with file-level
  * pruning — the derivation logic below (predicate → touched subset →
  * rewrite) is exactly what those table formats execute under the hood;
  * plain parquet keeps this library dependency-free.
  *
  * `keyCol` is the key a stats manifest on the table is built on, and the
  * key the change feed records unless `recordChanges` is false.
  */
final class MutableTable(spark: SparkSession, dir: String, keyCol: Option[String] = None,
    recordChanges: Boolean = true) {

  /** The current table state. Every mutation binds it once, so one
    * mutation reads one state; the schema comes from the per-state memo
    * ([[graft.Tables.readCached]]). */
  def df: DataFrame = graft.Tables.readCached(spark, dir)

  // Roll back a swap torn by a crash in a previous session, if any
  // (one driver-side existence check per table open — see Publish).
  Publish.recover(spark, dir)

  /** Publish `next` as the table's new state through [[Publish]]: the
    * staging write reads the still-intact current state, so `next` needs
    * no materialization first. A table with a stats manifest on `keyCol`
    * is rewritten through [[StatsStore.write]] instead, clustered on the
    * key into as many files as the manifest tracks, so the manifest
    * describes the files that replaced the old ones. */
  private def overwrite(next: DataFrame): Unit = keyCol.filter(_ => hasManifest) match {
    case Some(k) =>
      StatsStore.write(next, dir, k, StatsStore.manifest(spark, dir).count().toInt.max(1))
    case None => Publish.overwrite(next, dir)
  }

  // ---- pruned write path (StatsStore keyed merge): when the table
  // carries a stats manifest built on `keyCol`, UPDATE/DELETE rewrite
  // ONLY the manifest-hit files instead of the whole directory — the
  // Delta/Iceberg MERGE shape. Conditions: the affected-key set is
  // bounded (writes-touch-few-rows contract) and, for UPDATE, the SET
  // introduces no new columns (a partial rewrite cannot evolve the
  // schema of untouched files).
  private val MaxPrunedKeys = 10000

  private def hasManifest: Boolean = {
    val md = StatsStore.manifestDir(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(md), spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(md))
  }

  /** The affected keys when the pruned path applies, else None. The
    * manifest's file ranges are matched against long ids, so the key must
    * be integral. */
  private def prunedKeys(affected: DataFrame): Option[(String, Seq[Long])] =
    keyCol.filter(k => hasManifest && (affected.schema(k).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })).flatMap { k =>
      val ids = affected.select(col(k).cast("long")).distinct()
        .limit(MaxPrunedKeys + 1).collect().map(_.getLong(0)).toIndexedSeq
      if (ids.nonEmpty && ids.length <= MaxPrunedKeys) Some((k, ids)) else None
    }

  // ---- change feed (trigger/CDF analog: reference event/ package
  // before/after create-update-delete listeners + Delta CDF shape).
  // Each mutation appends (seq, op, key) rows; consumers read the feed
  // ordered by seq — the hook a downstream trigger would subscribe to.
  private var cdfSeq = 0
  private def cdfDir = s"$dir-cdf"

  // ---- triggers (reference schema/trigger/TriggerImpl.java + the event/
  // package's After{Create,Update,Delete}Listener hooks): actions
  // registered per event run synchronously AFTER the mutation commits,
  // receiving the affected rows (post-images for insert/update, the
  // removed rows for delete). BEFORE-images are what the change feed and
  // update()'s returned `before` frame already expose.
  private var triggers: Map[String, Seq[DataFrame => Unit]] =
    Map.empty.withDefaultValue(Seq.empty)

  def addTrigger(event: String, action: DataFrame => Unit): Unit =
    synchronized { triggers += event -> (triggers(event) :+ action) }

  private def fire(event: String, rows: DataFrame): Unit =
    triggers(event).foreach(_(rows))

  // BEFORE-timing hooks (reference trigger timing BEFORE|AFTER): fired
  // with the staged rows before the directory overwrite commits. The
  // mutation has already bound the state it rewrites, so a BEFORE hook
  // must not write this same table.
  private def fireBefore(event: String, rows: DataFrame): Unit =
    fire(s"before_$event", rows)

  /** The feed write evaluates `keys` immediately and runs BEFORE the
    * table swap, so it may read `dir` safely without a materialization of
    * its own. */
  private def emitChanges(op: String, keys: DataFrame): Unit =
    keyCol.filter(_ => recordChanges).foreach { k =>
      cdfSeq += 1
      keys.select(lit(cdfSeq).as("seq"), lit(op).as("op"), col(k).cast("long").as("key"))
        .write.mode(if (cdfSeq == 1) "overwrite" else "append").parquet(cdfDir)
    }

  /** The accumulated change feed: (seq, op, key). */
  def changeFeed: DataFrame = graft.Tables.readCached(spark, cdfDir)

  /** INSERT … VALUES / FROM SELECT. */
  def insert(rows: DataFrame): Long = {
    val staged = rows.localCheckpoint(eager = true)
    val n = staged.count()
    fireBefore("insert", staged)
    emitChanges("insert", staged)
    // schema-evolving: CONTENT/SET inserts may carry brand-new property
    // keys (schema-flexible records — Document.java:42); missing columns
    // null-fill on either side
    overwrite(df.unionByName(staged, allowMissingColumns = true))
    fire("insert", staged)
    n
  }

  /** UPDATE … SET where `sets` are (column → expression). Returns
    * (count, before, after) — the affected rows' pre- and post-images,
    * materialized before the overwrite (RETURN BEFORE | AFTER | COUNT). */
  def update(where: Column, sets: Seq[(String, Column)]): (Long, DataFrame, DataFrame) = {
    val cur = df
    val before = cur.filter(where).localCheckpoint(eager = true)
    // `after` derives only from the checkpointed pre-image, so it stays
    // valid across the swap without a materialization of its own
    val after = sets.foldLeft(before)((d, s) => d.withColumn(s._1, s._2))
    fireBefore("update", before)
    emitChanges("update", before)
    val noNewCols = sets.forall(s => before.columns.contains(s._1))
    (if (noNewCols) prunedKeys(before) else None) match {
      case Some((k, ids)) =>
        StatsStore.mergeSet(spark, dir, k, ids, sets, rowCond = Some(where))
      case None =>
        val untouched = cur.filter(!coalesce(where, lit(false)))
        // schema-evolving: a SET/MERGE may introduce new property columns
        overwrite(untouched.unionByName(after, allowMissingColumns = true))
    }
    fire("update", after)
    (before.count(), before, after)
  }

  /** UPSERT: update rows matching the equality `key`; when none match,
    * insert one new record carrying the key values plus `sets` applied to
    * a null-row (UpsertStep.createNewRecord semantics). */
  def upsert(key: Map[String, Column], sets: Seq[(String, Column)]): Long = {
    val where = key.map { case (c, v) => col(c) === v }.reduce(_ && _)
    val cur = df
    if (cur.filter(where).isEmpty) {
      val cols = cur.schema.map { f =>
        key.get(f.name).orElse(sets.find(_._1 == f.name).map(_._2))
          .getOrElse(lit(null).cast(f.dataType)).as(f.name)
      }
      val newRow = graft.OneRow(spark).select(cols: _*) // literals only
      emitChanges("insert", newRow)
      overwrite(cur.unionByName(newRow))
      fire("insert", newRow)
      1L
    } else {
      update(where, sets)._1
    }
  }

  /** Mutate EXACTLY ONE row among those matching `where` (Mongo
    * updateOne/deleteOne exactly-one semantics): duplicates are
    * indistinguishable by value, so whole-row re-identification would hit
    * every identical copy. Pin a synthetic rowid over a materialized
    * snapshot (localCheckpoint — the id is layout-dependent, so it must
    * never be recomputed), pick the first match by full-column order
    * (stable stand-in for Mongo's storage order), and mutate that id only.
    * Returns the affected count (0 or 1). */
  private def mutateOne(where: Column,
      apply: (DataFrame, Column) => DataFrame, op: String): Long = {
    val rid = "__rowid"
    val base = df.withColumn(rid, monotonically_increasing_id())
      .localCheckpoint(eager = true)
    val cols = base.columns.toSeq.filterNot(_ == rid)
    val hit = base.filter(coalesce(where, lit(false)))
      .orderBy(cols.map(col(_).asc_nulls_first): _*)
      .select(rid).limit(1).collect().headOption
    hit.fold(0L) { r =>
      val chosen = col(rid) === lit(r.getLong(0))
      // before/next/fired all derive from the checkpointed `base` snapshot
      // only, so they stay valid across the swap without materializing
      val before = base.filter(chosen).drop(rid)
      val next = apply(base, chosen)
      // post-image for update triggers; the removed row for delete
      val fired = if (op == "delete") before
        else next.filter(chosen).drop(rid)
      fireBefore(op, before)
      emitChanges(op, before)
      overwrite(next.drop(rid))
      fire(op, fired)
      1L
    }
  }

  /** UPDATE exactly one matching row (Mongo updateOne). */
  def updateOne(where: Column, sets: Seq[(String, Column)]): Long =
    mutateOne(where, (base, chosen) => sets.foldLeft(base)((d, s) =>
      d.withColumn(s._1, when(chosen, s._2).otherwise(col(s._1)))), "update")

  /** DELETE exactly one matching row (Mongo deleteOne). */
  def deleteOne(where: Column): Long =
    mutateOne(where, (base, chosen) => base.filter(!chosen), "delete")

  /** DELETE … WHERE; returns the deleted-row count (RETURN COUNT). */
  def delete(where: Column): Long = {
    val cur = df
    val deleted = cur.filter(where).localCheckpoint(eager = true)
    val n = deleted.count()
    fireBefore("delete", deleted)
    emitChanges("delete", deleted)
    prunedKeys(deleted) match {
      case Some((k, ids)) =>
        StatsStore.mergeDelete(spark, dir, k, ids, rowCond = Some(where))
      case None =>
        overwrite(cur.filter(!coalesce(where, lit(false))))
    }
    fire("delete", deleted)
    n
  }

  /** MERGE INTO this USING source ON keys:
    * matched → apply `sets` (source columns visible under `src` prefix),
    * not matched by target → insert the source row (schema-aligned). */
  def merge(source: DataFrame, keys: Seq[String], sets: Seq[(String, Column)]): Unit = {
    val src = source.columns.foldLeft(source)((d, c) =>
      if (keys.contains(c)) d else d.withColumnRenamed(c, s"src_$c"))
      .withColumn("src_matched", lit(true))
    val cur = df
    val cols = cur.columns.map(col).toIndexedSeq
    val joined = cur.join(src, keys, "left_outer")
    val updated = sets.foldLeft(joined)((d, s) =>
      d.withColumn(s._1, when(col("src_matched").isNotNull, s._2).otherwise(col(s._1))))
      .select(cols: _*)
    val inserts = source.join(cur, keys, "left_anti")
      .select(cols: _*)
      .localCheckpoint(eager = true)
    emitChanges("update", source.join(cur, keys, "left_semi"))
    emitChanges("insert", inserts)
    overwrite(updated.unionByName(inserts))
  }
}

object MutableTable {
  /** Fresh writable copy of `source` at `dir` (TRUNCATE+INSERT FROM
    * SELECT). `keyCol` enables the change feed. */
  def copyOf(spark: SparkSession, source: DataFrame, dir: String,
      keyCol: Option[String] = None): MutableTable = {
    source.write.mode("overwrite").parquet(dir)
    new MutableTable(spark, dir, keyCol)
  }
}
