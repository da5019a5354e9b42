package graft.util

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.cdc.Upsert
import org.apache.spark.sql.functions._

class BucketedTableSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8

  private def tmp(): String =
    Files.createTempDirectory("bucketed").resolve("t").toString

  private def initial = (0L until 200L)
    .map(i => (i, s"name$i", i * 1.0, 100L)).toDF("id", "name", "value", "seq")

  /** All bucket assignments in ONE Spark job. */
  private def bucketsOf(ids: Seq[Long]): Map[Long, Int] =
    ids.toDF("id").select($"id", BucketedTable.bucketCol(Seq("id"), N).as("b"))
      .as[(Long, Int)].collect().toMap

  private def fileState(dest: String): Map[String, Long] = {
    val root = Paths.get(dest)
    val out = scala.collection.mutable.Map[String, Long]()
    Files.walk(root).forEach { p: Path =>
      if (Files.isRegularFile(p))
        out += (root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
    }
    out.toMap
  }

  test("pointLookup prunes to one bucket at file listing; row matches full read") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    val looked = BucketedTable.pointLookup(spark, dest, Seq("id"), N,
      Map("id" -> 42L)).get
    val plan = looked.queryExecution.executedPlan.toString()
    // NON-EMPTY partition filters (the key alone prints "PartitionFilters:
    // []" even without pruning) keyed on __bucket
    assert("PartitionFilters: \\[\\S".r.findFirstIn(plan).isDefined &&
      !plan.contains("PartitionFilters: []") && plan.contains("__bucket"),
      s"point lookup must prune bucket dirs at file listing:\n$plan")
    val got = looked.select("id", "name", "value", "seq")
      .as[(Long, String, Double, Long)].collect().toSeq
    assert(got == Seq((42L, "name42", 42.0, 100L)))
    // absent key in the same bucket-pruned path → zero rows, no error
    assert(BucketedTable.pointLookup(spark, dest, Seq("id"), N,
      Map("id" -> 100000L)).get.count() == 0)
    // absent table → None
    assert(BucketedTable.pointLookup(spark, tmp(), Seq("id"), N,
      Map("id" -> 1L)).isEmpty)
  }

  test("COW merge == full-merge reference; untouched bucket files not rewritten") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    val before = fileState(dest)

    // updates touching two specific keys (update key 5, delete key 6,
    // insert key 900)
    val updates = Seq(
      (5L, Some("updated"), Some(5.5), 200L, "false"),
      (6L, None: Option[String], None: Option[Double], 200L, "true"),
      (900L, Some("new"), Some(9.0), 200L, "false")
    ).toDF("id", "name", "value", "seq", "__deleted")
    BucketedTable.merge(spark, dest, updates, Seq("id"), "seq", "__deleted",
      partialUpdateCols = Seq("name", "value"), n = N,
      touched = BucketedTable.touchedBuckets(updates, Seq("id"), N))

    // reference: the same kernel applied to the WHOLE table
    val expected = Upsert.mergeBatch(initial, updates, Seq("id"), "seq",
      "__deleted", Seq("name", "value"))
      .select("id", "name", "value", "seq").as[(Long, String, Double, Long)]
      .collect().toSet
    val got = BucketedTable.read(spark, dest).get
      .select("id", "name", "value", "seq").as[(Long, String, Double, Long)]
      .collect().toSet
    assert(got == expected)
    assert(!got.exists(_._1 == 6L) && got.exists(_._1 == 900L))

    // copy-on-write: only the buckets of keys {5, 6, 900} were rewritten
    val touched = bucketsOf(Seq(5L, 6L, 900L)).values.toSet
    val after = fileState(dest)
    val untouchedBefore = before.filter { case (p, _) =>
      !touched.exists(b => p.startsWith(s"__bucket=$b/")) }
    val untouchedAfter = after.filter { case (p, _) =>
      !touched.exists(b => p.startsWith(s"__bucket=$b/")) }
    assert(untouchedBefore == untouchedAfter,
      "untouched bucket directories must keep their exact files")
    assert(untouchedBefore.nonEmpty, "test needs untouched buckets to be meaningful")
  }

  test("deleting every key of a bucket removes its directory; reads stay consistent") {
    val dest = tmp()
    val all = (0L until 50L).toSeq
    val bOf = bucketsOf(all)
    val (bucket, members) = bOf.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
      .minBy { case (_, ids) => ids.size }
    val df = all.map(i => (i, s"n$i", 100L)).toDF("id", "name", "seq")
    BucketedTable.writeFull(df, dest, Seq("id"), N)
    val deletes = members.map(id => (id, None: Option[String], 200L, "true"))
      .toDF("id", "name", "seq", "__deleted")
    BucketedTable.merge(spark, dest, deletes, Seq("id"), "seq", "__deleted",
      Seq.empty, N, BucketedTable.touchedBuckets(deletes, Seq("id"), N))
    assert(!Files.exists(Paths.get(dest, s"__bucket=$bucket")),
      "fully-emptied bucket directory should disappear")
    val ids = BucketedTable.read(spark, dest).get.select("id").as[Long].collect().toSet
    assert(ids == all.toSet -- members)
  }

  test("a fully-emptied table reads as None and accepts new merges (no brick)") {
    val dest = tmp()
    val df = Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("id", "name", "seq")
    BucketedTable.writeFull(df, dest, Seq("id"), N)
    val deleteAll = Seq(
      (1L, None: Option[String], 200L, "true"),
      (2L, None: Option[String], 200L, "true")).toDF("id", "name", "seq", "__deleted")
    BucketedTable.merge(spark, dest, deleteAll, Seq("id"), "seq", "__deleted",
      Seq.empty, N, BucketedTable.touchedBuckets(deleteAll, Seq("id"), N))
    assert(BucketedTable.read(spark, dest).isEmpty,
      "zero-row table must read as None, not throw")
    // and the table accepts a fresh merge (re-initializes)
    val revive = Seq((9L, Some("z"), 300L, "false")).toDF("id", "name", "seq", "__deleted")
    BucketedTable.merge(spark, dest, revive, Seq("id"), "seq", "__deleted",
      Seq.empty, N, BucketedTable.touchedBuckets(revive, Seq("id"), N))
    val ids = BucketedTable.read(spark, dest).get.select("id").as[Long].collect().toSeq
    assert(ids == Seq(9L))
  }

  test("bucket-count mismatch and non-bucketed layout are refused loudly") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    val upd = Seq((1L, Some("x"), 200L, "false")).toDF("id", "name", "seq", "__deleted")
    val e = intercept[IllegalArgumentException](
      BucketedTable.merge(spark, dest, upd, Seq("id"), "seq", "__deleted",
        Seq.empty, n = 16, touched = BucketedTable.touchedBuckets(upd, Seq("id"), 16)))
    assert(e.getMessage.contains("8 buckets"))
    // a snapshot-layout dir (plain parquet, no metadata) is refused too
    val snap = tmp()
    initial.write.parquet(snap)
    val e2 = intercept[IllegalStateException](
      BucketedTable.merge(spark, snap, upd, Seq("id"), "seq", "__deleted",
        Seq.empty, N, BucketedTable.touchedBuckets(upd, Seq("id"), N)))
    assert(e2.getMessage.contains("not a bucketed table"))
    // and a rewrite/merge with DIFFERENT key columns is refused: rows
    // would land in buckets later merges never probe
    val e3 = intercept[IllegalArgumentException](
      BucketedTable.compact(spark, dest, Seq("name"), N))
    assert(e3.getMessage.contains("bucketed by [id]"))
  }

  test("read refuses a plain parquet directory instead of reading it as empty") {
    val snap = tmp()
    initial.write.parquet(snap)
    val e = intercept[IllegalStateException](BucketedTable.read(spark, snap))
    assert(e.getMessage.contains("not a bucketed table"), e.getMessage)
    // an absent table is still just absent
    assert(BucketedTable.read(spark, tmp()).isEmpty)
  }

  test("one bucket: the merge equals Upsert.mergeBatch over the whole table, " +
      "and a table emptied by deletes reads as None") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), 1)
    val updates = Seq(
      (5L, Some("updated"), None: Option[Double], 200L, "false"), // partial
      (6L, None: Option[String], None: Option[Double], 200L, "true"),
      (7L, Some("stale"), Some(0.0), 50L, "false"),              // older: kept
      (900L, Some("new"), Some(9.0), 200L, "false")
    ).toDF("id", "name", "value", "seq", "__deleted")
    val touched = BucketedTable.touchedBuckets(updates, Seq("id"), 1)
    assert(touched == Seq(0))
    BucketedTable.merge(spark, dest, updates, Seq("id"), "seq", "__deleted",
      Seq("name", "value"), 1, touched)
    val expected = Upsert.mergeBatch(initial, updates, Seq("id"), "seq",
      "__deleted", Seq("name", "value"))
      .select("id", "name", "value", "seq").as[(Long, String, Double, Long)]
      .collect().toSet
    val got = BucketedTable.read(spark, dest).get
      .select("id", "name", "value", "seq").as[(Long, String, Double, Long)]
      .collect().toSet
    assert(got == expected)
    assert(got.contains((5L, "updated", 5.0, 200L)) && got.contains((7L, "name7", 7.0, 100L)))
    // delete every remaining key: the one bucket directory goes, and the
    // table reads as no state
    val deleteAll = got.toSeq.map { case (id, _, _, _) =>
      (id, None: Option[String], None: Option[Double], 300L, "true") }
      .toDF("id", "name", "value", "seq", "__deleted")
    BucketedTable.merge(spark, dest, deleteAll, Seq("id"), "seq", "__deleted",
      Seq("name", "value"), 1, Seq(0))
    assert(!Files.exists(Paths.get(dest, "__bucket=0")))
    assert(BucketedTable.read(spark, dest).isEmpty)
  }

  test("recover rolls back a bucket whose swap crashed between moves") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    val whole = BucketedTable.read(spark, dest).get.count()
    // simulate the crash window: bucket moved to backup, dest dir missing
    val b = 3
    val backupRoot = Paths.get(s"${dest}__oldb")
    Files.createDirectories(backupRoot)
    Files.move(Paths.get(dest, s"__bucket=$b"), backupRoot.resolve(s"__bucket=$b"))
    assert(!Files.exists(Paths.get(dest, s"__bucket=$b")))
    val recovered = BucketedTable.read(spark, dest).get.count()
    assert(recovered == whole, "read must transparently restore the bucket")
    assert(!Files.exists(backupRoot), "backup root cleaned after recovery")
  }

  test("compact merges accumulated per-merge files; rows identical") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    // 3 merges hitting the same keys → file sets pile up in their buckets
    (1 to 3).foreach { i =>
      val upd = Seq((5L, Some(s"v$i"), Some(5.0 + i), 100L + i, "false"))
        .toDF("id", "name", "value", "seq", "__deleted")
      BucketedTable.merge(spark, dest, upd, Seq("id"), "seq", "__deleted",
        Seq("name", "value"), N, BucketedTable.touchedBuckets(upd, Seq("id"), N))
    }
    val beforeRows = BucketedTable.read(spark, dest).get
      .orderBy("id").collect().map(_.toString).toSeq
    val filesBefore = fileState(dest).size
    BucketedTable.compact(spark, dest, Seq("id"), N)
    val afterRows = BucketedTable.read(spark, dest).get
      .orderBy("id").collect().map(_.toString).toSeq
    assert(afterRows == beforeRows, "compaction must not change any row")
    assert(fileState(dest).size < filesBefore,
      s"compaction must REDUCE files (repartition-by-bucket pins one file " +
        s"set per bucket): ${fileState(dest).size} vs $filesBefore")
    assert(afterRows.exists(_.contains("v3")), "latest merge state survives")
  }

  test("writeFull over an existing table survives a simulated crash (full backup)") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    // simulate crash between dest→oldfull move and staging→dest move
    Files.move(Paths.get(dest), Paths.get(s"${dest}__oldfull"))
    assert(!Files.exists(Paths.get(dest)))
    val recovered = BucketedTable.read(spark, dest)
    assert(recovered.isDefined && recovered.get.count() == 200,
      "full-rewrite backup must be rolled back, not lost")
  }

  test("merge refuses a staging write with a bucket outside the caller's touched set") {
    val dest = tmp()
    BucketedTable.writeFull(initial, dest, Seq("id"), N)
    val before = fileState(dest)
    val updates = Seq((5L, Some("x"), Some(5.5), 200L, "false"),
      (900L, Some("y"), Some(9.0), 200L, "false"))
      .toDF("id", "name", "value", "seq", "__deleted")
    val all = BucketedTable.touchedBuckets(updates, Seq("id"), N)
    assert(all == bucketsOf(Seq(5L, 900L)).values.toSeq.distinct.sorted)
    // a caller that names one bucket fewer than its keys hash into
    val e = intercept[IllegalStateException](
      BucketedTable.merge(spark, dest, updates, Seq("id"), "seq", "__deleted",
        Seq("name", "value"), N, all.tail))
    assert(e.getMessage.contains(s"buckets ${all.head} outside"), e.getMessage)
    // nothing was swapped and the staging directory is gone
    assert(fileState(dest) == before)
    assert(!Files.exists(Paths.get(s"${dest}__stagingb")))
    assert(BucketedTable.read(spark, dest).get.count() == 200)
    // an empty set is no excuse either: the rows would have been dropped
    intercept[IllegalStateException](
      BucketedTable.merge(spark, dest, updates, Seq("id"), "seq", "__deleted",
        Seq("name", "value"), N, Seq.empty))
    assert(fileState(dest) == before)
  }
}
