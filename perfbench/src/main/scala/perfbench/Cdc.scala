package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.cdc.CdcPipeline

/** Shared parts of the two CDC workloads: the seeded base snapshot, the
  * backlog files, the expected-state replay and the warehouse check. */
final class Cdc(spark: SparkSession, seed: Long, res: Result) {
  import Cdc.Buckets
  private val gen = new Gen(seed, GenParams())
  val base: Seq[Change] = gen.baseSnapshot()
  val tables: Seq[String] = gen.tables
  private val keysByTable = tables.map(_ -> Seq("id")).toMap

  def next(n: Int): Seq[Line] = Seq.fill(n)(gen.next())

  def pipeline(wh: Path, ck: Path): CdcPipeline =
    new CdcPipeline(spark, wh.toString, ck.toString, keysByTable,
      watermarkDelay = Gen.WatermarkDelay, warehouseBuckets = Buckets)

  /** A fresh warehouse holding the base snapshot, merged as the
    * pipeline's batch 0 through `mergeMicroBatch` (its public snapshot
    * path): the bucketed layout, and the high-water mark in `ck`. */
  def prepare(wh: Path, ck: Path): Unit = {
    Files.createDirectories(ck)
    pipeline(wh, ck).mergeMicroBatch(Cdc.frame(spark, base), 0)
  }

  /** Name of the `index`-th generated file. */
  def fileName(index: Int): String = f"part-$index%06d.json"

  /** File name → micro-batch id, from the merge stream's source log. */
  def batchOf(ck: Path): Map[String, Long] = {
    val dir = ck.resolve("merge").resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val logs = Files.list(dir)
      try logs.iterator().asScala.filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
        .toSeq.flatMap(f => Stats.parseSourceLog(Files.readAllLines(f).iterator().asScala)).toMap
      finally logs.close()
    }
  }

  /** Write one file of envelope lines. With `atomic` the file appears
    * under its final name only once complete (temp name, then rename). */
  def writeFile(dir: Path, index: Int, lines: Seq[Line], atomic: Boolean): Long = {
    val name = fileName(index)
    val body = lines.map(_.text).mkString("", "\n", "\n").getBytes("UTF-8")
    if (atomic) {
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, body)
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } else Files.write(dir.resolve(name), body)
    body.length.toLong
  }

  /** The expected state after the pipeline consumes `batches` in order. */
  def expected(batches: Seq[Seq[Line]]): Model = {
    val m = new Model(Gen.WatermarkDelayMicros)
    m.load(base)
    batches.foreach(b => m.applyBatch(b.flatMap(_.change)))
    m
  }

  /** Compare the warehouse, read through `CdcPipeline.readTable`, and its
    * `_dlq` / `_late` row counts with the model and the injected counts.
    * Returns the number of mismatched rows (0 when correct). */
  def verify(p: CdcPipeline, wh: Path, model: Model, lines: Seq[Line]): Long = {
    val actual = tables.flatMap(t => p.readTable(t).toSeq.flatMap(
      _.select(Gen.RowColumns.map(col): _*).collect().map(r => Model.canonical(t, r))))
    val expect = model.canonicalRows.toSeq
    var bad = 0L
    if (Model.digest(actual.iterator) != Model.digest(expect.iterator)) {
      val (a, e) = (actual.groupBy(identity), expect.groupBy(identity))
      bad = (a.keySet ++ e.keySet).toSeq.map(k =>
        math.abs(a.get(k).fold(0)(_.size) - e.get(k).fold(0)(_.size))).sum.toLong
      res.fail(bad, s"warehouse differs from the model in $bad rows " +
        s"(${actual.size} rows vs ${expect.size} expected)")
    }
    def rows(dir: Path): Long =
      if (!Files.exists(dir)) 0L
      else spark.read.option("recursiveFileLookup", "true").parquet(dir.toString).count()
    val injectedLate = lines.count(_.kind == "late").toLong
    val injectedPoison = lines.count(_.kind == "poison").toLong
    val (dlq, late) = (rows(wh.resolve("_dlq")), rows(wh.resolve("_late")))
    res.num("sources.dlq_rows", dlq)
    res.num("cdc.late_rows", late)
    if (dlq != injectedPoison) {
      bad += math.abs(dlq - injectedPoison)
      res.fail(math.abs(dlq - injectedPoison), s"_dlq holds $dlq rows, $injectedPoison injected")
    }
    if (late != injectedLate || model.lateRows != injectedLate) {
      val d = math.max(math.abs(late - injectedLate), math.abs(model.lateRows - injectedLate))
      bad += d
      res.fail(d, s"_late holds $late rows, model expects ${model.lateRows}, $injectedLate injected")
    }
    bad
  }

  /** Start the pipeline on `in`; returns (pipeline, merge query). */
  def start(wh: Path, ck: Path, in: Path, trigger: Trigger, filesPerTrigger: Int = 0) = {
    val p = pipeline(wh, ck)
    val q = p.start(p.readJsonStream(in.toString, filesPerTrigger), Gen.EnvelopeSchema, trigger)
    (p, q)
  }
}

object Cdc {
  /** Warehouse buckets of the copy-on-write layout. */
  val Buckets = 4

  /** Changes as the pipeline hands a micro-batch to its merge. */
  def frame(spark: SparkSession, cs: Seq[Change]): DataFrame = {
    val schema = StructType(Seq(
      StructField("commit_timestamp", LongType), StructField("id", LongType),
      StructField("name", StringType), StructField("qty", LongType),
      StructField("price", DoubleType), StructField("status", StringType),
      StructField("__table", StringType), StructField("__deleted", StringType)))
    spark.createDataFrame(cs.map(c => Row(c.ts, c.id, c.name.orNull,
      c.qty.map(Long.box).orNull, c.price.map(Double.box).orNull, c.status.orNull,
      c.table, (c.op == Gen.ChangeOpDelete).toString)).asJava, schema)
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val files = Files.walk(p)
    try files.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally files.close()
  }

  /** Bytes on disk of the table directories (not `_dlq` / `_late`). */
  def tableBytes(wh: Path, tables: Seq[String]): Long = tables.map { t =>
    val files = Files.walk(wh.resolve(t))
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }.sum
}
