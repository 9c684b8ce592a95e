package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

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
  * `keyCol` is the change-feed key: when it is set, every mutation
  * appends the keys of the rows it changes to the feed ([[changeFeed]]).
  * A stats manifest on the table is [[StatsStore]]'s: every rewrite goes
  * through [[StatsStore.overwrite]], which stages it with the data, and
  * the pruned write path below takes its key from it.
  */
final class MutableTable(spark: SparkSession, dir: String, keyCol: Option[String] = None) {

  /** The current table state. Every mutation binds it once, so one
    * mutation reads one state; the schema comes from the per-state memo
    * ([[graft.Tables.readCached]]). */
  def df: DataFrame = graft.Tables.readCached(spark, dir)

  // Roll back a swap torn by a crash in a previous session, if any
  // (one driver-side existence check per table open — see Publish).
  Publish.recover(spark, dir)

  // ---- pruned write path (StatsStore keyed merge): when the table
  // carries a stats manifest, UPDATE/DELETE rewrite ONLY the manifest-hit
  // files instead of the whole directory — the Delta/Iceberg MERGE shape.
  // Conditions: the affected-key set is bounded (writes-touch-few-rows
  // contract) and, for UPDATE, the SET introduces no new columns (a
  // partial rewrite cannot evolve the schema of untouched files).
  private val MaxPrunedKeys = 10000

  /** Pin `affected` lazily and materialize the pin in ONE job that also
    * counts its rows and collects up to `MaxPrunedKeys + 1` distinct values
    * of the manifest key: no separate pin, distinct or count job. The
    * manifest's file ranges are matched against long ids, so the key is
    * the first integral key the manifest describes. The pruned path
    * applies when the rows hold between 1 and `MaxPrunedKeys` keys and no
    * null key (a null key lies in no file's range). The pin holds the rows
    * from before the swap, so the pre-image, the post-image derived from
    * it, the change feed and the triggers all read them after it. */
  private def preImage(affected: DataFrame): MutableTable.PreImage = {
    val pin = affected.localCheckpoint(eager = false)
    val key = StatsStore.keys(spark, dir).iterator
      .map(k => (k, pin.schema.fieldNames.indexOf(k)))
      .find { case (_, i) => i >= 0 && StatsStore.integral(pin.schema(i).dataType) }
    val (n, ids) = MutableTable.countAndKeys(pin,
      key.map { case (_, i) => (i, pin.schema(i).dataType) }, MaxPrunedKeys + 1)
    MutableTable.PreImage(pin, n, for ((k, _) <- key; ks <- ids if ks.nonEmpty && ks.length <= MaxPrunedKeys)
      yield (k, ks))
  }

  // ---- change feed (trigger/CDF analog: reference event/ package
  // before/after create-update-delete listeners + Delta CDF shape).
  // Each mutation appends (seq, op, key) rows; consumers read the feed
  // ordered by seq — the hook a downstream trigger would subscribe to.
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

  /** A mutation's rows go to directory `seq=<n>` of the feed, `n` one past
    * the greatest on disk, so every handle on `dir`, in any session,
    * continues one feed. The write evaluates `keys` immediately and runs
    * BEFORE the table swap, so it may read `dir` without a materialization
    * of its own. */
  private def emitChanges(op: String, keys: DataFrame): Unit =
    keyCol.foreach { k =>
      val seq = graft.Tables.listing(spark, cdfDir).getOrElse(Nil).map(_.getPath.getName)
        .collect { case s"seq=$n" => n.toInt }.maxOption.getOrElse(0) + 1
      keys.select(lit(op).as("op"), col(k).cast("long").as("key")).write.parquet(s"$cdfDir/seq=$seq")
    }

  /** The accumulated change feed: (seq, op, key). */
  def changeFeed: DataFrame =
    spark.read.schema("op STRING, key BIGINT, seq INT").parquet(cdfDir).select("seq", "op", "key")

  /** INSERT … VALUES / FROM SELECT. */
  def insert(rows: DataFrame): Long = {
    val staged = rows.localCheckpoint(eager = true)
    val n = staged.count()
    fireBefore("insert", staged)
    emitChanges("insert", staged)
    // schema-evolving: CONTENT/SET inserts may carry brand-new property
    // keys (schema-flexible records — Document.java:42); missing columns
    // null-fill on either side
    StatsStore.overwrite(df.unionByName(staged, allowMissingColumns = true), dir)
    fire("insert", staged)
    n
  }

  /** UPDATE … SET where `sets` are (column → expression). Returns
    * (count, before, after) — the affected rows' pre- and post-images,
    * materialized before the overwrite (RETURN BEFORE | AFTER | COUNT). */
  def update(where: Column, sets: Seq[(String, Column)]): (Long, DataFrame, DataFrame) = {
    val cur = df
    val pre = preImage(cur.filter(where))
    val before = pre.rows
    // `after` derives only from the pinned pre-image, so it stays valid
    // across the swap without a materialization of its own
    val after = sets.foldLeft(before)((d, s) => d.withColumn(s._1, s._2))
    fireBefore("update", before)
    emitChanges("update", before)
    val noNewCols = sets.forall(s => before.columns.contains(s._1))
    (if (noNewCols) pre.pruned else None) match {
      case Some((k, ids)) =>
        StatsStore.mergeSet(spark, dir, k, ids, sets, rowCond = Some(where))
      case None =>
        val untouched = cur.filter(!coalesce(where, lit(false)))
        // schema-evolving: a SET/MERGE may introduce new property columns
        StatsStore.overwrite(untouched.unionByName(after, allowMissingColumns = true), dir)
    }
    fire("update", after)
    (pre.count, before, after)
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
      StatsStore.overwrite(cur.unionByName(newRow), dir)
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
      StatsStore.overwrite(next.drop(rid), dir)
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
    val pre = preImage(cur.filter(where))
    val deleted = pre.rows
    fireBefore("delete", deleted)
    emitChanges("delete", deleted)
    pre.pruned match {
      case Some((k, ids)) =>
        StatsStore.mergeDelete(spark, dir, k, ids, rowCond = Some(where))
      case None =>
        StatsStore.overwrite(cur.filter(!coalesce(where, lit(false))), dir)
    }
    fire("delete", deleted)
    pre.count
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
    StatsStore.overwrite(updated.unionByName(inserts), dir)
  }
}

object MutableTable {
  /** The rows a mutation changes, pinned before the table is rewritten,
    * their count, and the manifest key with the rows' keys when the pruned
    * path applies. */
  private final case class PreImage(rows: DataFrame, count: Long, pruned: Option[(String, Seq[Long])])

  /** One job over the rows of `pin`: their count, and up to `cap` distinct
    * values of the integral column at `key`, None when a value is null. */
  private def countAndKeys(pin: DataFrame, key: Option[(Int, DataType)],
      cap: Int): (Long, Option[Seq[Long]]) = {
    val get: (InternalRow, Int) => Long = key.map(_._2) match {
      case Some(LongType) => _.getLong(_)
      case Some(IntegerType) => _.getInt(_)
      case Some(ShortType) => _.getShort(_)
      case _ => _.getByte(_)
    }
    val ordinal = key.map(_._1)
    val parts = pin.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L
      var nulls = false
      val ids = scala.collection.mutable.HashSet[Long]()
      rows.foreach { r =>
        n += 1
        ordinal.foreach(i => if (r.isNullAt(i)) nulls = true else if (ids.size < cap) ids += get(r, i))
      }
      Iterator((n, nulls, ids.toArray))
    }.collect()
    val ids =
      if (ordinal.isEmpty || parts.exists(_._2)) None
      else Some(parts.iterator.flatMap(_._3).distinct.take(cap).toSeq)
    (parts.map(_._1).sum, ids)
  }

  /** Fresh writable copy of `source` at `dir` (TRUNCATE+INSERT FROM
    * SELECT), published through the one table rewrite. `keyCol` enables
    * the change feed, which starts empty. */
  def copyOf(spark: SparkSession, source: DataFrame, dir: String,
      keyCol: Option[String] = None): MutableTable = {
    StatsStore.overwrite(source, dir)
    val feed = new org.apache.hadoop.fs.Path(s"$dir-cdf")
    feed.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(feed, true)
    new MutableTable(spark, dir, keyCol)
  }
}
