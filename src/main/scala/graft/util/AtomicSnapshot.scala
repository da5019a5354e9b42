package graft.util

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe directory swap, shared by [[BucketedTable]]'s full rewrite
  * and the DLQ replay ledger.
  *
  * POSIX cannot atomically swap directories, so the dest→backup,
  * staging→dest dance has a crash window with dest absent. The invariant
  * here is that data always survives in EITHER dest or its backup, and
  * [[rollback]], which readers run first, moves a surviving backup back.
  * A crash can lose at most the in-flight write (which the stream replays
  * from its checkpoint — merges are idempotent), never the snapshot.
  */
object AtomicSnapshot {

  /** Move the finished `staging` into place at `dest`, keeping any current
    * `dest` at `backup` until the new one has landed. */
  def swap(staging: String, dest: String, backup: String): Unit = {
    val destP = Paths.get(dest)
    val backupP = Paths.get(backup)
    if (Files.exists(destP)) {
      Fs.deleteRecursive(backupP)
      Files.move(destP, backupP)
      Files.move(Paths.get(staging), destP)
      Fs.deleteRecursive(backupP)
    } else Files.move(Paths.get(staging), destP)
  }

  /** Undo a [[swap]] that crashed between its moves: a surviving `backup`
    * is moved back if `dest` is missing, else deleted. Idempotent. */
  def rollback(dest: String, backup: String): Unit =
    if (Files.exists(Paths.get(backup))) {
      if (!Files.exists(Paths.get(dest))) Files.move(Paths.get(backup), Paths.get(dest))
      else Fs.deleteRecursive(Paths.get(backup))
    }

  /** Write `df` as the new snapshot at `dest` (overwrite semantics). */
  def write(df: DataFrame, dest: String): Unit = {
    df.write.mode("overwrite").parquet(s"${dest}__staging")
    swap(s"${dest}__staging", dest, s"${dest}__old")
  }

  /** Read the snapshot, after rolling back a crashed swap. */
  def read(spark: SparkSession, dest: String): Option[DataFrame] = {
    rollback(dest, s"${dest}__old")
    if (Files.exists(Paths.get(dest))) Some(spark.read.parquet(dest)) else None
  }
}
