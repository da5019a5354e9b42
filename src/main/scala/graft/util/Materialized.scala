package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of Spark storage that outlives a query.
  *
  * - [[shared]]: a per-session memo (parquet relations, the shared
  *   shingle index, the multimodal decode). Only the [[MaxSessions]]
  *   most recently used sessions are held; evicting one releases the
  *   checkpoints its entries own and drops the last reference this
  *   object keeps to it, so stopped sessions can be collected.
  * - [[release]]: drop the block-manager storage behind a plan's
  *   `localCheckpoint` leaves once nothing downstream re-reads them.
  * - [[sweep]]: unpersist every persistent RDD except those behind live
  *   shared entries — the between-query reset of a long-lived JVM.
  * - [[scoped]]: persist an input for the length of one block that reads
  *   it more than once, and release it on every exit path.
  */
object Materialized {

  val MaxSessions = 4

  private type Entries = java.util.Map[String, DataFrame]

  // access-ordered: iteration runs least recently used first
  private val bySession = new java.util.LinkedHashMap[SparkSession, Entries](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SparkSession, Entries]): Boolean = {
      val evict = size() > MaxSessions
      // the evicted session may already be stopped
      if (evict) e.getValue.values.forEach(df => scala.util.Try(release(df)))
      evict
    }
  }

  /** `build` once per (session, key); later calls return the same
    * DataFrame. Builds may nest (a shared index over a shared table). */
  def shared(session: SparkSession, key: String)(build: => DataFrame): DataFrame = synchronized {
    val entries = bySession.computeIfAbsent(session, _ => new java.util.HashMap[String, DataFrame])
    Option(entries.get(key)).getOrElse { val df = build; entries.put(key, df); df }
  }

  /** Sessions with live entries, least recently used first. */
  def sessions: Seq[SparkSession] = synchronized(bySession.keySet.asScala.toList)

  /** Block-manager RDD ids behind the live shared entries. */
  def liveRddIds: Set[Int] = synchronized {
    bySession.values.asScala.flatMap(_.values.asScala).flatMap(checkpoints).map(_.id).toSet
  }

  /** `Dataset.unpersist` cannot do this: a checkpoint's storage lives on
    * the RDD behind the plan's `LogicalRDD` leaf, not in the cache
    * manager. No-op on a plan with no checkpointed RDD behind it (e.g. a
    * written-parquet index); touches only this plan's own RDDs, so it is
    * safe next to other running pipelines. */
  def release(df: DataFrame): Unit = checkpoints(df).foreach(_.unpersist(blocking = false))

  /** Run `body` on `df` persisted, so every action in it reads the rows
    * computed by the first one instead of recomputing `df`'s plan, then
    * unpersist (blocking) whether `body` returns or throws. */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    df.persist()
    try body(df) finally df.unpersist(blocking = true)
  }

  def sweep(spark: SparkSession): Unit = {
    val keep = liveRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  private def checkpoints(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
}
