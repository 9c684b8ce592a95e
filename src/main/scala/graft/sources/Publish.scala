package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe directory publish under [[StatsStore.overwrite]], the one
  * table rewrite every writer calls; one swap publishes the data files
  * and the stats manifest staged beside them. A delete-then-rename swap
  * has a window — between `fs.delete(dir)` and `fs.rename(staging, dir)`
  * — where a crash or a cross-filesystem rename failure leaves NO table
  * at `dir` and no recovery copy; this protocol never does.
  *
  * Protocol: rename the live dir aside (`dir` → `dir-old`), rename
  * `staging` → `dir`, delete `dir-old`. Every intermediate state keeps a
  * complete copy of either the old or the new table on disk; a failed
  * second rename rolls the old state back into place, and [[recover]]
  * (run when a backing object opens) restores `dir-old` if a crash landed
  * between the two renames.
  */
object Publish {

  private def fsFor(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)

  /** Publish `next` as the new state of `dir`. */
  def overwrite(next: DataFrame, dir: String): Unit =
    swapIn(next.sparkSession, stage(next, dir), dir)

  /** Write `next` to `dir`'s staging directory, and return its path. The
    * write still reads the intact current state, so `next` may derive
    * from `dir` and the mutation costs one distributed materialization,
    * not two (no checkpoint to decouple `next` from the directory it
    * replaces). */
  private[sources] def stage(next: DataFrame, dir: String): String = {
    val staging = s"$dir-staging"
    next.write.mode("overwrite").parquet(staging)
    staging
  }

  /** Swap an already-written `staging` directory into place at `dir`. */
  private[sources] def swapIn(spark: SparkSession, staging: String, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    val pDir = new org.apache.hadoop.fs.Path(dir)
    val pStg = new org.apache.hadoop.fs.Path(staging)
    val pOld = new org.apache.hadoop.fs.Path(s"$dir-old")
    fs.delete(pOld, true) // leftover from an interrupted earlier swap
    if (fs.exists(pDir) && !fs.rename(pDir, pOld))
      throw new IllegalStateException(s"staging swap failed for $dir (aside rename)")
    if (!fs.rename(pStg, pDir)) {
      fs.rename(pOld, pDir) // put the old state back so readers still have a table
      throw new IllegalStateException(s"staging swap failed for $dir")
    }
    fs.delete(pOld, true)
  }

  /** Roll a torn swap back: if `dir` is missing but `dir-old` exists (a
    * crash landed between the two renames), restore the old state. The
    * staged new state, if complete, still sits at `dir-staging` for manual
    * inspection; the mutation simply did not commit. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    val pDir = new org.apache.hadoop.fs.Path(dir)
    val pOld = new org.apache.hadoop.fs.Path(s"$dir-old")
    if (!fs.exists(pDir) && fs.exists(pOld)) fs.rename(pOld, pDir)
  }
}
