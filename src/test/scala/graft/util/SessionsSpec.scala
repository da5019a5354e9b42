package graft.util

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class SessionsSpec extends AnyFunSuite {

  private def conf(env: Map[String, String], nproc: Int = 6,
      extra: Seq[(String, String)] = Nil): Map[String, String] =
    Sessions.resolve("app", env, nproc, extra).toMap

  test("resolve: local[nproc] by default, shuffle width = cores, UTC, UI off") {
    val c = conf(Map.empty)
    assert(c("spark.master") == "local[6]")
    assert(c("spark.sql.shuffle.partitions") == "6")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.ui.enabled") == "false")
    assert(c("spark.app.name") == "app")
  }

  test("resolve: SPARK_GRAFT_CPUS sets the cores; a malformed value falls back to nproc") {
    val c = conf(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(c("spark.master") == "local[3]" && c("spark.sql.shuffle.partitions") == "3")
    for (bad <- Seq("x", "0", "-2", ""))
      assert(conf(Map("SPARK_GRAFT_CPUS" -> bad))("spark.master") == "local[6]", bad)
  }

  test("resolve: SPARK_MASTER wins the master; shuffle width still follows the cores") {
    val c = conf(Map("SPARK_MASTER" -> "spark://h:7077", "SPARK_GRAFT_CPUS" -> "5"))
    assert(c("spark.master") == "spark://h:7077")
    assert(c("spark.sql.shuffle.partitions") == "5")
  }

  test("resolve: caller conf is applied last and overrides the defaults") {
    val c = conf(Map.empty, extra = Seq("spark.sql.shuffle.partitions" -> "512",
      "spark.sql.autoBroadcastJoinThreshold" -> "1"))
    assert(c("spark.sql.shuffle.partitions") == "512")
    assert(c("spark.sql.autoBroadcastJoinThreshold") == "1")
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def filesMatching(root: String, re: scala.util.matching.Regex): Set[String] =
    scalaFiles(root).filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet

  test("structure: one session builder in main (Sessions) and one in test (TestSpark)") {
    val builder = """SparkSession\.builder\(\)""".r
    assert(filesMatching("src/main/scala", builder) == Set("Sessions.scala"))
    // TestSpark lives in SparkSpec.scala
    assert(filesMatching("src/test/scala", builder) == Set("SparkSpec.scala"))
  }

  test("structure: one StreamingQueryListener subclass in main (CdcQueryListener)") {
    val sub = """extends\s+(org\.apache\.spark\.sql\.streaming\.)?StreamingQueryListener\b""".r
    assert(filesMatching("src/main/scala", sub) == Set("Metrics.scala"))
  }

  test("structure: Materialized is the one owner of Spark storage") {
    for (name <- Seq("getPersistentRDDs", "removeEldestEntry"))
      assert(filesMatching("src/main/scala", name.r) == Set("Materialized.scala"), name)
    // a Map keyed by a session (or by a tuple led by one)
    val sessionKeyed = """Map(\.empty)?\s*\[\s*\(?\s*SparkSession\b""".r
    assert(filesMatching("src/main/scala", sessionKeyed) == Set("Materialized.scala"))
    // split so this file does not match itself
    assert(filesMatching("src", ("release" + "Index").r).isEmpty)
    // Materialized.scoped persists for one block; CurateStreamCli's `pin`
    // holds its batch-side tables for the stream's lifetime
    assert(filesMatching("src/main/scala", """\.persist\(""".r) ==
      Set("Materialized.scala", "CurateStreamCli.scala"))
  }

  test("structure: CdcPipeline starts one streaming query and sets no watermark") {
    val src = Files.readString(Paths.get("src/main/scala/graft/cdc/CdcPipeline.scala"))
    assert("""\.writeStream\b""".r.findAllIn(src).size == 1)
    assert(!src.contains(".withWatermark("))
  }

  test("structure: CdcPipeline is the one place that runs Spark work on its own threads") {
    val captured = "withThreadLocalCaptured".r
    val pools = """Executors\.new|new\s+(ThreadPoolExecutor|ForkJoinPool)\b|ThreadUtils\.new""".r
    assert(filesMatching("src/main/scala", captured) == Set("CdcPipeline.scala"))
    assert(filesMatching("src/main/scala", pools) == Set("CdcPipeline.scala"))
  }

  test("structure: the CDC warehouse is merged only through BucketedTable") {
    val otherLayout = """AtomicSnapshot|Upsert\.mergeBatch""".r
    assert(filesMatching("src/main/scala/graft/cdc", otherLayout).isEmpty)
  }

  test("structure: Exact is the one home of the exact-arithmetic helpers") {
    val helper = """def (dec|fdiv|fdivDec|exactDiv|floorDiv|ceilDiv|dayNum|lfp)\b""".r
    assert(filesMatching("src/main/scala", helper) == Set("Exact.scala"))
  }
}
