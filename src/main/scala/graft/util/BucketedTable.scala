package graft.util

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Upsert

/** Bucket-partitioned COPY-ON-WRITE warehouse table — the one layout
  * of the CDC warehouse ([[graft.cdc.CdcPipeline]]). With n = 1 every
  * merge reads and rewrites the whole table; a larger n bounds the
  * rewrite to the buckets a batch's keys touch.
  *
  * Layout: `dest/__bucket=<i>/part-*.parquet`, bucket =
  * pmod(xxhash64(keys), n), plus a `_graft_buckets` metadata file
  * pinning n (a restart with a different bucket count would silently
  * scatter keys across two layouts — the metadata check turns that into
  * an immediate error). A merge:
  *   1. receives from its caller the (≤ n) buckets the update keys hash
  *      into (the CDC pipeline takes them from its batch probe, so the
  *      merge runs no job to find them; [[touchedBuckets]] computes them
  *      for any other caller),
  *   2. reads ONLY those bucket directories (partition pruning — the
  *      plan's PartitionFilters cut at file listing, untouched buckets
  *      are never opened),
  *   3. runs the same idempotent [[Upsert.mergeBatch]] kernel on that
  *      subset,
  *   4. swaps ONLY the affected bucket directories (staging → dest with
  *      a per-bucket backup dance, same invariant as [[AtomicSnapshot]]),
  *      after checking that the staging write produced no bucket outside
  *      the caller's set (such a bucket would never be swapped in, and
  *      its rows would be lost).
  *
  * Rewrite cost is therefore ∝ touched buckets, not table size: a batch
  * touching k of n buckets rewrites k/n of the table — at 100 TB with
  * n sized so a bucket fits an executor (e.g. 4096), a typical CDC batch
  * rewrites a few hundred GB instead of the full table. This is the
  * Delta/Iceberg copy-on-write granularity, implemented on plain
  * parquet; what a table format's transaction log would add is
  * all-or-nothing visibility across buckets AND cross-process
  * coordination. Within one JVM, reads/merges/rewrites of a table are
  * serialized on a per-destination lock (a concurrent read's recovery
  * would otherwise race an in-flight swap); across processes, use a
  * real table format. A crash mid-swap can expose a torn
  * (some-buckets-new) snapshot that the checkpoint's batch REPLAY
  * heals, because the merge kernel is idempotent and monotonic per key;
  * `read` additionally rolls back any bucket (or full rewrite) whose
  * swap crashed between its two moves, so no data is ever lost.
  */
object BucketedTable {

  def bucketCol(keys: Seq[String], n: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int")

  /** The buckets `updates`' keys hash into: the `touched` set [[merge]]
    * takes, found with one `distinct().collect()`. */
  def touchedBuckets(updates: DataFrame, keys: Seq[String], n: Int): Seq[Int] =
    updates.select(bucketCol(keys, n)).distinct().collect().map(_.getInt(0)).toSeq.sorted

  private def oldRoot(dest: String) = s"${dest}__oldb"
  private def oldFull(dest: String) = s"${dest}__oldfull"
  private def stagingRoot(dest: String) = s"${dest}__stagingb"
  private def bucketDir(root: String, b: Int): Path =
    Paths.get(root, s"__bucket=$b")
  private def metaFile(root: String): Path = Paths.get(root, "_graft_buckets")

  // per-destination JVM lock: serializes read-recovery against in-flight
  // merges/rewrites of the same table
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dest: String): Object =
    locks.computeIfAbsent(dest, _ => new Object)

  /** True when dest exists and holds bucket data (an emptied table keeps
    * its directory + metadata but has no bucket dirs — reading it through
    * spark.read would throw). */
  private def hasBuckets(dest: String): Boolean =
    Fs.listDir(Paths.get(dest)).exists(_.getFileName.toString.startsWith("__bucket="))

  /** A directory without `_graft_buckets` (such as an older CDC warehouse's
    * plain parquet table) is refused, not read as empty or merged into. */
  private def requireBucketed(dest: String): Unit =
    if (Files.exists(Paths.get(dest)) && !Files.exists(metaFile(dest)))
      throw new IllegalStateException(
        s"$dest exists but is not a bucketed table (no _graft_buckets) — " +
          "a plain parquet table; rewrite it with writeFull first")

  /** Metadata pins the WHOLE layout — bucket count AND key columns: a
    * rewrite or merge hashed by different keys would scatter rows into
    * buckets later merges never look in (silent key duplication). */
  private def checkLayout(dest: String, keys: Seq[String], n: Int): Unit = {
    requireBucketed(dest)
    val mf = metaFile(dest)
    if (Files.exists(mf)) {
      val lines = new String(Files.readAllBytes(mf), "UTF-8").trim.split("\n")
      val persistedN = lines(0).trim.toInt
      require(persistedN == n,
        s"table at $dest was written with $persistedN buckets; " +
          s"refusing to operate with n=$n (keys would scatter across layouts)")
      if (lines.length > 1) {
        val persistedKeys = lines(1).trim
        require(persistedKeys == keys.mkString(","),
          s"table at $dest is bucketed by [${lines(1)}]; " +
            s"refusing to operate with keys [${keys.mkString(",")}]")
      }
    }
  }

  /** Roll back any swap that crashed between moves
    * ([[AtomicSnapshot.rollback]]): per-bucket backups first, then a
    * full-rewrite backup. Idempotent. Callers hold the dest lock. */
  private def recoverLocked(dest: String): Unit = {
    val or = Paths.get(oldRoot(dest))
    Fs.listDir(or).foreach(backup => AtomicSnapshot.rollback(
      Paths.get(dest, backup.getFileName.toString).toString, backup.toString))
    Fs.deleteRecursive(or)
    AtomicSnapshot.rollback(dest, oldFull(dest))
  }

  /** Full (re)write — initial load or compaction. Keeps the existing
    * table as a backup until the new layout is in place
    * ([[AtomicSnapshot.swap]] of the whole partitioned directory). */
  def writeFull(df: DataFrame, dest: String, keys: Seq[String], n: Int,
      repartitionByBucket: Boolean = false): Unit =
    lockFor(dest).synchronized {
      recoverLocked(dest)
      val staging = stagingRoot(dest)
      Fs.deleteRecursive(Paths.get(staging))
      val bucketed = df.withColumn("__bucket", bucketCol(keys, n))
      // compaction path: co-locate each bucket into one task so every
      // bucket directory ends up with ONE file set, not one per
      // (input-partition × bucket)
      val arranged =
        if (repartitionByBucket) bucketed.repartition(col("__bucket"))
        else bucketed
      arranged.write.partitionBy("__bucket").mode("overwrite").parquet(staging)
      Files.write(metaFile(staging),
        s"$n\n${keys.mkString(",")}".getBytes("UTF-8"))
      AtomicSnapshot.swap(staging, dest, oldFull(dest))
    }

  /** None when the table doesn't exist OR holds zero rows (every bucket
    * emptied by deletes) — both mean "no accumulated state". */
  def read(spark: SparkSession, dest: String): Option[DataFrame] =
    lockFor(dest).synchronized {
      recoverLocked(dest)
      requireBucketed(dest)
      if (hasBuckets(dest))
        Some(spark.read.parquet(dest).drop("__bucket"))
      else None
    }

  /** Point lookup that touches ONE bucket directory: the key's bucket
    * is computed with the SAME hash expression the layout used (on a
    * one-row local relation — no job), the scan filters on `__bucket`
    * so pruning happens at file listing (non-empty PartitionFilters),
    * and the exact-key equality applies within the pruned bucket. The
    * at-scale answer to "current state of key K": n−1 of n bucket
    * directories are never even listed. None if the table is absent. */
  def pointLookup(spark: SparkSession, dest: String, keys: Seq[String],
      n: Int, keyValues: Map[String, Any]): Option[DataFrame] =
    lockFor(dest).synchronized {
      recoverLocked(dest)
      if (!hasBuckets(dest)) None
      else {
        checkLayout(dest, keys, n)
        val b = spark.range(1)
          .select(keys.map(k => lit(keyValues(k)).as(k)): _*)
          .select(bucketCol(keys, n).as("b")).head().getInt(0)
        Some(spark.read.parquet(dest)
          .filter(col("__bucket") === b)
          .drop("__bucket")
          .filter(keys.map(k => col(k) === lit(keyValues(k))).reduce(_ && _)))
      }
    }

  /** Rewrite the table in place to heal the small-file accumulation a
    * long-running merge stream produces (every merge adds one file set
    * per touched bucket). One full read + one full write — schedule it
    * like any table-format OPTIMIZE; readers before/after see identical
    * rows and a crash mid-compaction is covered by the full-rewrite
    * backup. */
  def compact(spark: SparkSession, dest: String, keys: Seq[String], n: Int): Unit =
    lockFor(dest).synchronized {
      recoverLocked(dest)
      checkLayout(dest, keys, n)
      // safe to stream dest straight into the staging write: writeFull
      // only swaps directories AFTER the write job (and its reads of
      // dest) complete
      read(spark, dest).foreach(df =>
        writeFull(df, dest, keys, n, repartitionByBucket = true))
    }

  /** COW merge of one update batch: `updates` carries key cols, `ordCol`,
    * `deleteCol` and data cols, and [[Upsert.mergeBatch]] collapses it to
    * the latest row per key and applies it. `touched` must hold every bucket `updates`' keys hash
    * into ([[touchedBuckets]]); a staging write that lands a bucket
    * outside it fails the merge before any swap. */
  def merge(spark: SparkSession, dest: String, updates: DataFrame,
      keys: Seq[String], ordCol: String, deleteCol: String,
      partialUpdateCols: Seq[String], n: Int, touched: Seq[Int]): Unit =
    lockFor(dest).synchronized {
      recoverLocked(dest)
      checkLayout(dest, keys, n)
      if (!hasBuckets(dest)) {
        writeFull(
          Upsert.collapseBatch(updates, keys, col(ordCol), deleteCol,
            partialUpdateCols).drop(deleteCol),
          dest, keys, n)
        return
      }
      // partition pruning: only the touched bucket dirs are listed/read
      val target = spark.read.parquet(dest)
        .filter(col("__bucket").isin(touched.map(Integer.valueOf): _*))
        .drop("__bucket")
      val merged = Upsert.mergeBatch(target, updates, keys, ordCol, deleteCol,
        partialUpdateCols)
        .withColumn("__bucket", bucketCol(keys, n))
      val staging = stagingRoot(dest)
      Fs.deleteRecursive(Paths.get(staging))
      merged.write.partitionBy("__bucket").mode("overwrite").parquet(staging)
      // a bucket the caller did not name would never be swapped in
      val stray = Fs.listDir(Paths.get(staging)).map(_.getFileName.toString)
        .collect { case s"__bucket=$b" => b.toInt }.filterNot(touched.contains)
      if (stray.nonEmpty) {
        Fs.deleteRecursive(Paths.get(staging))
        throw new IllegalStateException(s"merge into $dest wrote buckets " +
          s"${stray.sorted.mkString(",")} outside the caller's touched set " +
          s"[${touched.mkString(",")}]")
      }
      // per-bucket swap with the AtomicSnapshot invariant: the bucket's
      // data survives in either dest or the backup at every instant
      Files.createDirectories(Paths.get(oldRoot(dest)))
      touched.foreach { b =>
        val bDest = bucketDir(dest, b)
        val bOld = bucketDir(oldRoot(dest), b)
        val bStage = bucketDir(staging, b)
        Fs.deleteRecursive(bOld)
        if (Files.exists(bDest)) Files.move(bDest, bOld)
        if (Files.exists(bStage)) Files.move(bStage, bDest)
        // else: every key in this bucket was deleted — the dir stays absent
        Fs.deleteRecursive(bOld)
      }
      Fs.deleteRecursive(Paths.get(oldRoot(dest)))
      Fs.deleteRecursive(Paths.get(staging))
    }
}
