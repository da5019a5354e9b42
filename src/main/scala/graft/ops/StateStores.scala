package graft.ops

import org.apache.spark.sql.SparkSession

/** The ONE `--state-store` name mapping every streaming CLI shares
  * ([[CurateStreamCli]], [[SessionCensusCli]] — a forked copy shipped
  * a shared latent bug: the old per-CLI version lowercased the name
  * BEFORE matching and returned the lowercased binding in the default
  * case, corrupting any fully-qualified custom provider class into an
  * unloadable all-lowercase name).
  *
  * `rocksdb` → the off-heap RocksDB provider (the recommended choice
  * for large state, with changelog checkpointing); `hdfs` → Spark's
  * heap-backed default; anything else is taken VERBATIM as a
  * fully-qualified provider class. NOTE: a checkpoint is bound to the
  * provider that created it — restart an existing checkpoint with the
  * SAME setting. */
private[graft] object StateStores {
  def providerClass(name: String): String = name.toLowerCase match {
    case "rocksdb" =>
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    case "hdfs" =>
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    case _ => name // the ORIGINAL casing — a class name is case-sensitive
  }

  /** Runs `body` with the session's provider set to `name` (unchanged
    * when None). The provider conf is read per query at START, so the
    * setting covers the queries `body` starts and is restored on every
    * exit path — a shared session must not leak the choice into
    * unrelated streaming queries. */
  def withProvider[T](spark: SparkSession, name: Option[String])(body: => T): T = {
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    name.foreach(n => spark.conf.set(conf, providerClass(n)))
    try body
    finally if (name.isDefined) prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
