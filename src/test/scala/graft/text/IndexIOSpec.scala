package graft.text

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.util.Materialized
import org.apache.spark.sql.functions._

/** Durable (written-parquet) index materialization must be a drop-in
  * replacement for the localCheckpoint variant: identical results, plus
  * the two properties only a written table can offer — survival outside
  * the JVM and partition-pruned point probes (PartitionFilters at file
  * listing, the 100-TB shape). */
class IndexIOSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf).limit(300)

  test("written shingleIndex ≡ localCheckpoint index; downstream pairs identical") {
    val dir = Files.createTempDirectory("shidx").resolve("idx").toString
    val ck = Dedup.shingleIndex(docs, "doc_id", "text", k = 3)
    val written = Dedup.shingleIndex(docs, "doc_id", "text", k = 3,
      path = Some(dir))
    assert(written.columns.toSeq == Seq("id", "shingle"))
    val a = ck.as[(Long, Long)].collect().toSet
    val b = written.as[(Long, Long)].collect().toSet
    assert(a == b, s"written index diverged: ${a.size} vs ${b.size} rows")
    // the index CONSUMER must agree too (threshold/DF-cut are probe-side)
    val pa = Dedup.ngramJaccardPairsFromIndex(ck, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pb = Dedup.ngramJaccardPairsFromIndex(written, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pa == pb && pa.nonEmpty, s"pairs diverged: ${pa.size} vs ${pb.size}")
    Materialized.release(ck)
  }

  test("shingleLookup on a written index prunes shard partitions") {
    val dir = Files.createTempDirectory("shprobe").resolve("idx").toString
    Dedup.shingleIndex(docs, "doc_id", "text", k = 3, path = Some(dir)): Unit
    val full = spark.read.parquet(dir) // keeps the shard partition column
    val probeHashes = full.select("shingle").limit(3).as[Long].collect().toSeq
    val probed = Dedup.shingleLookup(full, probeHashes)
    val plan = probed.queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[\\S".r.findFirstIn(plan).isDefined &&
      !plan.contains("PartitionFilters: []"),
      s"probe must prune shard partitions at file listing:\n$plan")
    // pruning must not change the answer
    val unpruned = full.filter(col("shingle").isin(probeHashes: _*))
      .select("id", "shingle").as[(Long, Long)].collect().toSet
    assert(probed.as[(Long, Long)].collect().toSet == unpruned &&
      unpruned.nonEmpty)
  }

  test("written minhashIndex ≡ localCheckpoint; minhashLookup prunes and matches") {
    val dir = Files.createTempDirectory("mhidx").resolve("idx").toString
    val ck = Dedup.minhashIndex(docs, "doc_id", "text")
    val written = Dedup.minhashIndex(docs, "doc_id", "text", path = Some(dir))
    assert(written.columns.toSeq == Seq("id", "sig"))
    val a = ck.as[(Long, Seq[Long])].collect().map { case (i, s) => (i, s.toList) }.toSet
    val b = written.as[(Long, Seq[Long])].collect().map { case (i, s) => (i, s.toList) }.toSet
    assert(a == b, s"written sig index diverged: ${a.size} vs ${b.size}")
    val full = spark.read.parquet(dir)
    val ids = Seq(1L, 2L, 7L)
    val probed = Dedup.minhashLookup(full, ids)
    val plan = probed.queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[\\S".r.findFirstIn(plan).isDefined &&
      !plan.contains("PartitionFilters: []"),
      s"id probe must prune shard partitions:\n$plan")
    val expect = full.filter(col("id").isin(ids: _*)).select("id", "sig")
      .as[(Long, Seq[Long])].collect().map { case (i, s) => (i, s.toList) }.toSet
    assert(probed.as[(Long, Seq[Long])].collect()
      .map { case (i, s) => (i, s.toList) }.toSet == expect && expect.nonEmpty)
    Materialized.release(ck)
  }

  test("funnel with indexDir: same survivors as localCheckpoint, artifact persists") {
    val dir = Files.createTempDirectory("funidx").toString
    def survivors(cfg: graft.ops.CurateCli.Config): Set[Long] = {
      val r = graft.ops.CurateCli.curate(docs, "doc_id", "text", cfg)
      val ids = r.corpus.select("doc_id").as[Long].collect().toSet
      r.unpersist(); ids
    }
    val base = graft.ops.CurateCli.Config(minQuality = 0.0)
    assert(survivors(base.copy(indexDir = Some(dir))) == survivors(base))
    // the durable artifact exists on disk, shard-partitioned
    val idx = new java.io.File(dir, "minhash_index")
    assert(idx.isDirectory &&
      idx.listFiles().exists(_.getName.startsWith("shard=")),
      s"minhash index must persist under $dir")
    // DF-cut path writes the shingle index instead
    assert(survivors(base.copy(maxShingleDf = 50L, indexDir = Some(dir))) ==
      survivors(base.copy(maxShingleDf = 50L)))
    val sidx = new java.io.File(dir, "shingle_index")
    assert(sidx.isDirectory &&
      sidx.listFiles().exists(_.getName.startsWith("shard=")))
  }

  test("saved history bloom round-trips: identical dedup, identical membership") {
    val history = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val bloom = Dedup.historyShingleBloom(history, "text", k = 3,
      expectedItems = 100000L)
    val path = Files.createTempDirectory("bloom").resolve("history.bloom").toString
    Dedup.saveBloom(spark, bloom, path)
    val reloaded = Dedup.loadBloom(spark, path)
    // the serialized form must answer membership identically — probe
    // with the history's own shingles (all true) plus arbitrary longs
    val probes = history
      .select(explode(Dedup.shingleHashes(col("text"), 3, distinct = true))
        .as("h")).limit(500).as[Long].collect().toSeq ++
      Seq(Long.MinValue, -1L, 0L, 42L, Long.MaxValue)
    probes.foreach(h =>
      assert(reloaded.mightContainLong(h) == bloom.mightContainLong(h)))
    // and drive the actual operator through both sketches
    def survivors(b: org.apache.spark.util.sketch.BloomFilter): Set[Long] =
      Dedup.dedupAgainstHistoryBloom(batch, history, b, "doc_id", "text",
        k = 3).select("doc_id").as[Long].collect().toSet
    val a = survivors(bloom)
    assert(survivors(reloaded) == a)
    assert(a.size < batch.count(), "fixture must actually drop something")
    // overwrite must be atomic-rename clean (second save over same path)
    Dedup.saveBloom(spark, bloom, path)
    assert(Dedup.loadBloom(spark, path).mightContainLong(probes.head))
  }
}
