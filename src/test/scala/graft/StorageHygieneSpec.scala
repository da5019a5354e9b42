package graft

import org.apache.spark.sql.functions._

import graft.text.Retrieval
import graft.util.Materialized

/** Storage hygiene for long-lived JVMs (the round-8 q90 mechanism):
  * query-shaped APIs that materialize internal localCheckpoints must be
  * releasable through their result plan, and the bench's between-run
  * sweep must release everything transient while never touching the
  * live shared caches. */
class StorageHygieneSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("bm25BatchTopK: 3 repeated executions stay storage-flat under the release discipline") {
    SparkEntry.sweepTransientStorage(spark)
    val baseline = persistentIds
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(col("doc_id") % 97 === 0)
    (1 to 3).foreach { _ =>
      val r = Retrieval.bm25BatchTopK(docs, "doc_id", "text",
        queries, "doc_id", "text", k = 3)
      assert(r.count() > 0)
      // the result plan carries the postings checkpoint as a LogicalRDD
      // leaf — the documented release path
      Materialized.release(r)
      assert(persistentIds == baseline,
        "postings checkpoint leaked past Materialized.release")
    }
  }

  test("sweepTransientStorage releases a leaked checkpoint but protects the shared shingle index") {
    SparkEntry.sweepTransientStorage(spark)
    // build the shared index by running a query of its family
    val q36 = SparkEntry.queries("q36_ngram_jaccard_pairs")(spark, sf)
    val before = q36.count()
    val protectedIds = Materialized.liveRddIds
    assert(protectedIds.nonEmpty, "shared shingle index should be live")
    // leak a transient checkpoint the way a query API would
    val leaked = Tables.documents(spark, sf).select("doc_id").localCheckpoint()
    val leakedIds = leaked.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(leakedIds.subsetOf(persistentIds))
    SparkEntry.sweepTransientStorage(spark)
    assert(leakedIds.intersect(persistentIds).isEmpty,
      "transient checkpoint survived the sweep")
    assert(protectedIds.subsetOf(persistentIds),
      "sweep dropped the live shared cache")
    // the index family still answers off the (protected) checkpoint —
    // a dropped block would fail the job here, not just slow it
    val q98 = SparkEntry.queries("q98_containment_pairs")(spark, sf)
    assert(q98.count() >= 0)
    assert(SparkEntry.queries("q36_ngram_jaccard_pairs")(spark, sf).count()
      == before)
  }

  test("long-lived JVM: six sessions hold at most four, evicted checkpoints are released, sweep keeps only live entries") {
    SparkEntry.sweepTransientStorage(spark)
    val baseline = persistentIds -- Materialized.liveRddIds
    val fresh = (1 to 6).map(_ => spark.newSession())
    try {
      // per session: the checkpoint RDD ids its shared entries own, and
      // the query results, kept referenced so that only an explicit
      // release (not the ContextCleaner) can free evicted checkpoints
      val (owned, results) = fresh.map { s =>
        val before = Materialized.liveRddIds
        val q36 = SparkEntry.queries("q36_ngram_jaccard_pairs")(s, sf)
        val q41 = SparkEntry.queries("q41_frame_samples")(s, sf)
        assert(q36.count() >= 0 && q41.count() > 0)
        assert(Tables.lineitem(s, sf).count() > 0)
        assert(Materialized.sessions.size <= Materialized.MaxSessions)
        val ids = Materialized.liveRddIds -- before
        assert(ids.nonEmpty, "q36's index and q41's decode should be shared entries")
        (ids, Seq(q36, q41))
      }.unzip
      assert(Materialized.sessions == fresh.takeRight(Materialized.MaxSessions))
      assert(owned.take(2).flatten.toSet.intersect(persistentIds).isEmpty,
        "an evicted session's checkpoints are still persistent")
      java.lang.ref.Reference.reachabilityFence(results)
      // a transient checkpoint next to the live entries
      val leaked = Tables.documents(fresh.last, sf).select("doc_id").localCheckpoint()
      assert(leaked.count() > 0)
      SparkEntry.sweepTransientStorage(spark)
      assert(persistentIds == baseline ++ Materialized.liveRddIds)
      assert(owned.drop(2).flatten.toSet.subsetOf(persistentIds))
    } finally {
      // later suites find their session the most recently used again
      Tables.documents(spark, sf)
      assert(Materialized.sessions.last eq spark)
    }
  }
}
