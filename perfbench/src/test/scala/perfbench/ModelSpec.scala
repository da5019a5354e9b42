package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcPipeline, Upsert}

/** The expected-state model must agree with the program's own collapse and
  * merge on small seeded batches with deletes, partial updates and late
  * rows. */
class ModelSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val small = GenParams(keys = 40, heartbeatShare = 0.0, poisonShare = 0.0,
    lateShare = 0.05)

  private def frame(cs: Seq[Change]): DataFrame = Cdc.frame(spark, cs)

  private def changes(seed: Long, n: Int): Seq[Change] = {
    val g = new Gen(seed, small)
    Seq.fill(n)(g.next()).flatMap(_.change)
  }

  test("one batch: the model equals Upsert.collapseBatch") {
    for (seed <- 1L to 3L) {
      val cs = changes(seed, 300).filter(_.ts >= Gen.StartTs) // no late rows in one batch
      val m = new Model(Gen.WatermarkDelayMicros)
      m.applyBatch(cs)
      val collapsed = Upsert.collapseBatch(frame(cs), Seq("__table", "id"),
        col("commit_timestamp"), "__deleted", Seq("name", "qty", "price", "status"))
      val got = collapsed.select((col("__table") +: Gen.RowColumns.map(col)): _*).collect()
        .map(r => Model.canonical(r.getString(0), Row.fromSeq(r.toSeq.tail)))
      assert(got.toSet == m.canonicalRows.toSet, s"seed $seed")
      assert(got.length == m.size)
    }
  }

  test("several batches with late rows: the model equals mergeMicroBatch") {
    for (seed <- 4L to 5L) {
      val g = new Gen(seed, small)
      val base = g.baseSnapshot()
      val lines = Seq.fill(600)(g.next())
      assert(lines.exists(_.kind == "late"))
      val batches = lines.grouped(100).map(_.flatMap(_.change)).toSeq
      val dir = Files.createTempDirectory("perfbench-model")
      val p = new CdcPipeline(spark, s"$dir/wh", s"$dir/ck",
        g.tables.map(_ -> Seq("id")).toMap, watermarkDelay = Gen.WatermarkDelay,
        warehouseBuckets = 2)
      Files.createDirectories(dir.resolve("ck"))
      p.mergeMicroBatch(frame(base), 0)
      batches.zipWithIndex.foreach { case (b, i) => p.mergeMicroBatch(frame(b), i + 1L) }
      val m = new Model(Gen.WatermarkDelayMicros)
      m.load(base)
      batches.foreach(m.applyBatch)
      val got = g.tables.flatMap(t => p.readTable(t).toSeq.flatMap(
        _.select(Gen.RowColumns.map(col): _*).collect().map(r => Model.canonical(t, r))))
      assert(got.toSet == m.canonicalRows.toSet, s"seed $seed")
      assert(got.size == m.size)
      val late = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/wh/_late").count()
      assert(late == m.lateRows && m.lateRows == lines.count(_.kind == "late"))
      Cdc.rmTree(dir)
    }
  }
}
