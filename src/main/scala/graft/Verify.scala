package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Verify <sfDir> <outDir> [queryName ...] — names filter the " +
        "dump for fast iteration; no names = the full driver contract")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val known = SparkEntry.queries.map(_._1).toSet
    val unknown = only.diff(known)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo'd filter would otherwise look like a clean empty run")
    val spark = util.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release the query's transient checkpoints (shared caches are
      // protected) — 100+ queries in one JVM otherwise accumulate
      // leaked block storage for the whole dump
      finally SparkEntry.sweepTransientStorage(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a name-filtered run dumps oracle SQL for ONLY the selected names:
    // dumping every oracle would make check_oracle judge queries this run
    // never produced — and silently PASS stale parquet left in a reused
    // outDir by an older build, masking regressions during iteration.
    // Keys are sorted, so two builds' dumps compare byte for byte.
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
