package graft.cdc

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming slice (SURVEY §7.2): JSON change events →
  * parse+DLQ → transforms → foreachBatch merge → warehouse table →
  * validation query. Mirrors tests/integration/test_end_to_end.py. */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val envSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("operation", StringType),
    StructField("commit_timestamp", LongType),
    StructField("user_id", StringType),
    StructField("username", StringType),
    StructField("status", StringType)))

  private def tmpDir(): String =
    Files.createTempDirectory("graft-cdc").toString

  private def jsonEvents(events: Seq[String]): String = {
    val in = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$in/batch0.json"),
      events.mkString("\n"))
    in
  }

  private def ev(op: String, ts: Long, id: String, user: String,
      status: String): String = {
    val u = if (user == null) "null" else s""""$user""""
    val st = if (status == null) "null" else s""""$status""""
    s"""{"topic":"scylla-cluster.app_data.users","operation":"$op","commit_timestamp":$ts,"user_id":"$id","username":$u,"status":$st}"""
  }

  test("S1 Kafka option map mirrors the reference connector config") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("users" -> Seq("user_id")))
    // the reference connector (scylla-source.json): topic.prefix
    // "cdc.scylla" + RegexRouter pattern (:19,46-48), snapshot.mode
    // "initial" (:26), errors.tolerance "all" (:50), max.batch.size
    // 2048 (:30) — each must land on its Structured Streaming
    // kafka-source equivalent
    val opts = pipeline.kafkaSourceOptions(
      bootstrapServers = "kafka:9092",
      topicPattern = "cdc\\.scylla\\..*",
      maxOffsetsPerTrigger = 2048L)
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribePattern" -> "cdc\\.scylla\\..*",   // topic.prefix + RegexRouter
      "startingOffsets" -> "earliest",             // snapshot.mode=initial
      "failOnDataLoss" -> "false",                 // errors.tolerance=all
      "maxOffsetsPerTrigger" -> "2048"))           // max.batch.size backpressure
    // no backpressure bound requested → the option must be ABSENT
    // (an accidental "0" would stall the source entirely)
    assert(!pipeline.kafkaSourceOptions("kafka:9092", "cdc\\.scylla\\..*")
      .contains("maxOffsetsPerTrigger"))
    // a later-start deployment overrides startingOffsets explicitly
    assert(pipeline.kafkaSourceOptions("kafka:9092", "t.*",
      startingOffsets = "latest")("startingOffsets") == "latest")
  }

  test("ST11 backpressure: maxFilesPerTrigger bounds each micro-batch") {
    val in = tmpDir()
    (0 until 3).foreach(i =>
      Files.writeString(java.nio.file.Paths.get(s"$in/f$i.json"),
        ev("INSERT", 1000L + i, s"u$i", s"name$i", "active")))
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("users" -> Seq("user_id")))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = pipeline.readJsonStream(in, maxFilesPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(batchSizes.sum == 3)
    assert(batchSizes.size == 3 && batchSizes.forall(_ == 1L),
      s"one file per trigger expected, got batches $batchSizes")
    // unbounded reader drains everything in one batch
    val oneShot = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = pipeline.readJsonStream(in).writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        oneShot.synchronized { oneShot += df.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(oneShot == Seq(3L))
  }

  test("ST5 withRetry: transient failures retried with backoff, then success") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")), maxMergeRetries = 3, retryBaseBackoffMs = 1)
    var calls = 0
    val got = pipeline.withRetry("flaky merge") {
      calls += 1
      if (calls < 3) sys.error(s"transient #$calls")
      "merged"
    }
    assert(got == "merged" && calls == 3)
  }

  test("ST5 withRetry: exhausted retries surface the last cause") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")), maxMergeRetries = 2, retryBaseBackoffMs = 1)
    var calls = 0
    val e = intercept[RuntimeException] {
      pipeline.withRetry("doomed merge") { calls += 1; sys.error("still down") }
    }
    assert(calls == 3) // initial + 2 retries
    assert(e.getMessage.contains("doomed merge") &&
      e.getCause.getMessage == "still down")
  }

  test("ST5 withRetry: an interrupt is not retried and propagates at once") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")), maxMergeRetries = 3, retryBaseBackoffMs = 1)
    var calls = 0
    intercept[InterruptedException] {
      pipeline.withRetry("stopped merge") {
        calls += 1; throw new InterruptedException("query stopped")
      }
    }
    assert(calls == 1)
  }

  test("S1 kafka option mapping: offsets, pattern, backpressure knob") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")))
    val opts = pipeline.kafkaSourceOptions("kafka:9092",
      "cdc\\.scylla\\.app_data\\..*", maxOffsetsPerTrigger = 5000)
    assert(opts("kafka.bootstrap.servers") == "kafka:9092")
    assert(opts("subscribePattern") == "cdc\\.scylla\\.app_data\\..*")
    assert(opts("startingOffsets") == "earliest") // snapshot.mode=initial
    assert(opts("maxOffsetsPerTrigger") == "5000")
    assert(opts("failOnDataLoss") == "false")     // errors.tolerance=all
    // unbounded trigger omits the knob entirely
    assert(!pipeline.kafkaSourceOptions("k:9092", "t.*")
      .contains("maxOffsetsPerTrigger"))
  }

  test("streaming slice: insert/update/delete/partial-update → warehouse + validation") {
    val in = jsonEvents(Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("INSERT", 1001L, "u2", "bob", "active"),
      ev("INSERT", 1002L, "u3", "carol", "active"),
      ev("UPDATE", 2000L, "u2", null, "inactive"), // partial: username absent
      ev("INSERT", 1003L, "u4", "dan", "active"),
      ev("DELETE", 3000L, "u4", null, null),
      "this is not json at all"))                  // → DLQ

    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp,
      keysByTable = Map("users" -> Seq("user_id")))
    val raw = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
      .text(in).toDF("value")
    val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
    q.awaitTermination(60000)
    spark.streams.active.foreach(_.awaitTermination(60000))

    val users = pipeline.readTable("users").get
    val byId = users.select("user_id", "username", "status")
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId.keySet == Set("u1", "u2", "u3")) // u4 deleted
    assert(byId("u2") == ("bob", "inactive"))     // partial update coalesced
    assert(byId("u1") == ("alice", "active"))

    // the reference's user count-by-status validation (init.sql:335-350)
    val counts = users.groupBy("status").count().as[(String, Long)].collect().toMap
    assert(counts == Map("active" -> 2L, "inactive" -> 1L))

    // DLQ captured the poison record (ST6)
    val dlq = spark.read.parquet(s"$wh/_dlq")
    assert(dlq.count() == 1)
    assert(dlq.select("original_payload").as[String].head().contains("not json"))
  }

  test("multi-table stream: one envelope stream routes to two warehouse tables " +
      "with composite keys (test_end_to_end.py:167 analog)") {
    val mkEv = (table: String, ts: Long, kv: String) =>
      s"""{"topic":"scylla-cluster.app_data.$table","operation":"INSERT","commit_timestamp":$ts,$kv}"""
    val in = jsonEvents(Seq(
      mkEv("orders", 1000L, """"order_id":"o1","status":"pending","item_id":null"""),
      mkEv("orders", 2000L, """"order_id":"o2","status":"completed","item_id":null"""),
      mkEv("order_items", 1001L, """"order_id":"o1","item_id":"i1","status":null"""),
      mkEv("order_items", 1002L, """"order_id":"o1","item_id":"i2","status":null"""),
      mkEv("order_items", 1003L, """"order_id":"o2","item_id":"i1","status":null""")))
    val schema = StructType(Seq(
      StructField("topic", StringType), StructField("operation", StringType),
      StructField("commit_timestamp", LongType),
      StructField("order_id", StringType), StructField("item_id", StringType),
      StructField("status", StringType)))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, keysByTable = Map(
      "orders" -> Seq("order_id"),
      "order_items" -> Seq("order_id", "item_id"))) // composite PK
    val q = pipeline.start(
      spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
        .text(in).toDF("value"), schema, Trigger.AvailableNow())
    q.awaitTermination(60000)
    spark.streams.active.foreach(_.awaitTermination(60000))

    val orders = pipeline.readTable("orders").get
    assert(orders.count() == 2)
    val items = pipeline.readTable("order_items").get
    val itemKeys = items.select("order_id", "item_id").as[(String, String)]
      .collect().toSet
    assert(itemKeys == Set(("o1", "i1"), ("o1", "i2"), ("o2", "i1")))
    // referential integrity across the two replicated tables (J12)
    val orphans = items.join(orders.select($"order_id"), Seq("order_id"), "left_anti")
    assert(orphans.count() == 0)
  }

  test("bucketed COW warehouse: streaming e2e, one bucket vs four") {
    val in = jsonEvents(Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("INSERT", 1001L, "u2", "bob", "active"),
      ev("UPDATE", 2000L, "u2", null, "inactive"), // partial: username absent
      ev("INSERT", 1002L, "u3", "carol", "active"),
      ev("DELETE", 3000L, "u3", null, null)))
    def run(buckets: Int): Set[(String, String, String)] = {
      val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
        Map("users" -> Seq("user_id")), warehouseBuckets = buckets)
      val raw = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(in).toDF("value")
      val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
      q.awaitTermination(60000)
      spark.streams.active.foreach(_.awaitTermination(60000))
      pipeline.readTable("users").get
        .select("user_id", "username", "status")
        .as[(String, String, String)].collect().toSet
    }
    val want = Set(("u1", "alice", "active"), ("u2", "bob", "inactive")) // u3 deleted
    assert(run(1) == want, "one bucket")
    assert(run(4) == want, "four buckets")
  }

  test("schema gate blocks incompatible envelope changes before the stream starts") {
    import graft.schemaevo.SchemaStore
    val store = new SchemaStore()
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))
    val v1 =
      """{"type":"record","name":"UserEvent","namespace":"cdc","fields":[
        |{"name":"user_id","type":"string"},{"name":"status","type":"string"}]}""".stripMargin
    pipeline.gateSchema(store, "users-value", v1) // registers v1
    // removing a field is backward-incompatible → must block
    val v2 = """{"type":"record","name":"UserEvent","namespace":"cdc","fields":[
        |{"name":"user_id","type":"string"}]}""".stripMargin
    val e = intercept[IllegalStateException](
      pipeline.gateSchema(store, "users-value", v2))
    assert(e.getMessage.contains("blocked") && e.getMessage.contains("status"))
    // compatible widening passes and registers v2
    val v3 = """{"type":"record","name":"UserEvent","namespace":"cdc","fields":[
        |{"name":"user_id","type":"string"},{"name":"status","type":"string"},
        |{"name":"age","type":["null","int"],"default":null}]}""".stripMargin
    pipeline.gateSchema(store, "users-value", v3)
    assert(store.versions("users-value") == Seq(1, 2))
  }

  test("restart consistency: second run of same data is idempotent (ST1/ST3)") {
    val in = jsonEvents(Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("UPDATE", 2000L, "u1", null, "inactive")))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))

    def runOnce(): Unit = {
      val raw = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType)))).text(in).toDF("value")
      val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
      q.awaitTermination(60000)
      spark.streams.active.foreach(_.awaitTermination(60000))
    }
    runOnce()
    val snap1 = pipeline.readTable("users").get
      .select("user_id", "username", "status").as[(String, String, String)]
      .collect().toSet
    // re-run from the same checkpoint: no new data → unchanged; then replay
    // the same batch through the merge body directly (at-least-once path)
    val replay = spark.read.schema(envSchema).json(s"$in/batch0.json")
    val replayT = Transforms.routeTable(Transforms.dropHeartbeats(replay, "topic"), "topic")
      .withColumn("__deleted", (col("operation") === "DELETE").cast("string"))
      .drop("topic", "operation")
    pipeline.mergeMicroBatch(replayT, 99L)
    val snap2 = pipeline.readTable("users").get
      .select("user_id", "username", "status").as[(String, String, String)]
      .collect().toSet
    assert(snap1 == snap2 && snap1 == Set(("u1", "alice", "inactive")))
  }

  test("ST1 exactly-once under HARD CRASH: a torn WAL commit (sink wrote, " +
      "commit lost) replays idempotently after restart and the warehouse " +
      "matches the no-crash run — snapshot AND bucketed-COW warehouses") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val lines = Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("UPDATE", 2000L, "u1", null, "inactive"),
      ev("INSERT", 1500L, "u2", "bob", "active"),
      ev("UPDATE", 2500L, "u2", null, "banned"))

    def crashCase(buckets: Int): Unit = {
      // four single-event files, one micro-batch each
      // (maxFilesPerTrigger=1); mtimes stamped in range order so the
      // file source's mtime ordering is deterministic
      val in = tmpDir()
      def writeFile(i: Int): Unit = {
        val p = Paths.get(s"$in/f$i.json")
        Files.writeString(p, lines(i))
        p.toFile.setLastModified(1700000000000L + i * 60000L)
      }
      def drain(wh: String, cp: String): Unit = {
        // a FRESH pipeline object every time — after the simulated kill
        // the only surviving state is what's on disk (checkpoint +
        // warehouse), exactly a new JVM's view
        val pipeline = new CdcPipeline(spark, wh, cp,
          Map("users" -> Seq("user_id")), warehouseBuckets = buckets)
        val raw = spark.readStream
          .schema(StructType(Seq(StructField("value", StringType))))
          .option("maxFilesPerTrigger", 1).text(in).toDF("value")
        val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
        q.awaitTermination(120000)
        spark.streams.active.foreach(_.awaitTermination(120000))
      }
      def snap(wh: String, cp: String): Set[(String, String, String)] = {
        val pipeline = new CdcPipeline(spark, wh, cp,
          Map("users" -> Seq("user_id")), warehouseBuckets = buckets)
        pipeline.readTable("users").get
          .select("user_id", "username", "status")
          .as[(String, String, String)].collect().toSet
      }

      // the no-crash reference run over the full corpus
      (0 to 3).foreach(writeFile)
      val whRef = tmpDir(); val cpRef = tmpDir()
      drain(whRef, cpRef)
      val want = snap(whRef, cpRef)
      assert(want == Set(("u1", "alice", "inactive"), ("u2", "bob", "banned")),
        s"buckets=$buckets reference run")

      // crash run: only f0/f1 exist for the first incarnation
      val wh = tmpDir(); val cp = tmpDir()
      (0 to 3).foreach(i => Files.deleteIfExists(Paths.get(s"$in/f$i.json")))
      writeFile(0); writeFile(1)
      drain(wh, cp)
      // simulate kill -9 in the torn window (reference failure scenarios
      // A–D, data-model.md:475-502): batch 1's warehouse writes are on
      // disk but its WAL commit never landed — delete the newest
      // commits/<n>, so the restarted query sees offsets/1 with no
      // commits/1 and MUST replay batch 1 into the already-merged
      // warehouse (that replay re-merges into already-swapped COW
      // buckets — the monotonic guard, not the swap, carries the
      // idempotence)
      val commits = Paths.get(s"$cp/merge/commits")
      val newest = Files.list(commits).iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      Files.delete(newest)
      // the local FS writes commits through Hadoop's ChecksumFileSystem —
      // the sidecar .N.crc dies with the commit in a real crash (neither
      // was fsynced), and a stale one blocks the replay's rewrite
      Files.deleteIfExists(
        newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
      // the rest of the corpus arrives while the pipeline is "down"
      writeFile(2); writeFile(3)
      // restart from disk alone: replay the torn batch, then drain the
      // new files; at-least-once redelivery + idempotent monotonic merge
      // must land EXACTLY the no-crash warehouse
      drain(wh, cp)
      assert(snap(wh, cp) == want, s"buckets=$buckets crash run diverged")
    }

    crashCase(buckets = 1) // one bucket: every merge rewrites the whole table
    crashCase(buckets = 8) // bucketed copy-on-write warehouse
  }

  test("CDC -> SCD2 bridge: upsert stream intervalizes into dimension history, " +
      "facts join point-in-time (ST7/ST8 + q156/q177 together)") {
    import graft.analytics.{Analytics, AsofJoin}
    val in = jsonEvents(Seq(
      // u1: active → inactive → inactive (repeat must COLLAPSE) → active
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("UPDATE", 2000L, "u1", null, "inactive"),
      ev("UPDATE", 3000L, "u1", null, "inactive"),
      ev("UPDATE", 4000L, "u1", null, "active"),
      // u2: a PARTIAL update (status absent) must not open a version —
      // the ST7 coalesce semantics carried into the history
      ev("INSERT", 1500L, "u2", "bob", "active"),
      ev("UPDATE", 2500L, "u2", "bobby", null),
      // u3: deleted — the warehouse drops the row (ST8), the history
      // keeps every version plus a terminal '__deleted' one
      ev("INSERT", 1200L, "u3", "carol", "active"),
      ev("DELETE", 3500L, "u3", null, null)))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType)))).text(in).toDF("value")
    val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
    q.awaitTermination(60000)
    spark.streams.active.foreach(_.awaitTermination(60000))

    // SCD2 dimension history from the same change stream: partial
    // updates forward-fill (a null never opens a version), deletes map
    // to a terminal status — then q156's intervalizer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("commit_timestamp")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val changes = spark.read.schema(envSchema).json(s"$in/batch0.json")
      .withColumn("status_f",
        when(col("operation") === "DELETE", "__deleted")
          .otherwise(last(col("status"), ignoreNulls = true).over(w)))
    val dim = Analytics.scd2Intervals(changes, "user_id",
      "commit_timestamp", "status_f", "commit_timestamp")
    val intervals = dim
      .as[(String, String, Long, Option[Long], Long)].collect().toSet
    assert(intervals == Set(
      ("u1", "active", 1000L, Some(2000L), 1L),
      ("u1", "inactive", 2000L, Some(4000L), 2L), // the 3000 repeat collapsed
      ("u1", "active", 4000L, None, 3L),
      ("u2", "active", 1500L, None, 1L), // partial update opened nothing
      ("u3", "active", 1200L, Some(3500L), 1L),
      ("u3", "__deleted", 3500L, None, 2L)))

    // bridge consistency: warehouse latest state == the open (null
    // valid_to) version of the history, and ST8's delete == the
    // terminal '__deleted' version
    val latest = pipeline.readTable("users").get
      .select("user_id", "status").as[(String, String)].collect().toMap
    val openTail = intervals.filter(_._4.isEmpty)
      .map(r => r._1 -> r._2).toMap
    assert(latest == openTail.filter(_._2 != "__deleted"))
    assert(latest("u2") == "active") // ST7: partial update kept status
    assert(!latest.contains("u3"))   // ST8: tombstoned out of the warehouse

    // point-in-time fact attribution (q177's engine shape): each fact
    // matches the version whose [valid_from, valid_to) contains it —
    // executed as the as-of carry-forward, boundary at 4000 inclusive
    val facts = Seq(("u1", 500L, 6L), ("u1", 1500L, 1L), ("u1", 2500L, 2L),
      ("u1", 4000L, 3L), ("u2", 3000L, 4L), ("u3", 9000L, 5L))
      .toDF("user_id", "commit_timestamp", "fact_id")
    val matched = AsofJoin.asofJoin(facts, dim, "user_id",
      "commit_timestamp", "valid_from_us", "fact_id", "version")
    val got = matched
      .join(dim.select(col("user_id").as("__dk"),
        col("version").as("__dv"), col("status_f")),
        matched("user_id") === col("__dk") &&
          col("matched_version") === col("__dv"), "left")
      .select(col("fact_id"), coalesce(col("status_f"), lit("none")))
      .as[(Long, String)].collect().toMap
    assert(got == Map(6L -> "none", 1L -> "active", 2L -> "inactive",
      3L -> "active", 4L -> "active", 5L -> "__deleted"))
  }

  test("one materialization per merge: each batch row is computed once on " +
      "both warehouse layouts, late rows quarantine, and the storage is " +
      "released after a merge that succeeds and after one that fails") {
    import org.apache.spark.sql.Row
    import org.apache.spark.storage.StorageLevel
    def persistentRdds() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val schema = StructType(Seq(StructField("__table", StringType),
      StructField("user_id", StringType), StructField("username", StringType),
      StructField("status", StringType), StructField("commit_timestamp", LongType),
      StructField("__deleted", StringType)))
    def frame(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // high-water mark 5 s, delay 1 s: rows older than 4 s (or with no ts) are late
    val hwm = 5000000L
    val base = Seq(
      Row("users", "u2", "bob", "active", 4500000L, "false"),
      Row("users", "u3", "carol", "active", 4500000L, "false"))
    val rows = Seq(
      Row("users", "u1", "alice", "active", 5000001L, "false"),
      Row("users", "u2", null, "banned", 5000002L, "false"), // partial update
      Row("users", "u3", null, null, 5000003L, "true"),      // delete
      Row("users", "u1", "alice2", null, 5000004L, "false"), // partial update
      Row("users", "u4", "dan", "active", 1000L, "false"),   // late
      Row("users", "u5", "eve", "active", null, "false"))    // no ts: late
    val reads = spark.sparkContext.longAccumulator("batch rows computed")
    val counted = udf((id: String) => { reads.add(1); id }).asNondeterministic()
    def batch() = frame(rows).withColumn("user_id", counted(col("user_id")))

    for (buckets <- Seq(1, 4)) {
      val wh = tmpDir(); val cp = tmpDir()
      Files.writeString(java.nio.file.Paths.get(s"$cp/_hwm"), hwm.toString)
      val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")),
        watermarkDelay = "1 second", warehouseBuckets = buckets)
      pipeline.mergeMicroBatch(frame(base), 0L)
      val before = persistentRdds()
      reads.reset()
      val ok = batch()
      pipeline.mergeMicroBatch(ok, 1L)
      assert(reads.value == rows.size, s"buckets=$buckets: batch rows computed")
      assert(pipeline.readTable("users").get
        .select("user_id", "username", "status").as[(String, String, String)]
        .collect().toSet == Set(("u1", "alice2", "active"), ("u2", "bob", "banned")),
        s"buckets=$buckets warehouse")
      assert(spark.read.parquet(s"$wh/_late/batch_1").select("user_id")
        .as[String].collect().toSet == Set("u4", "u5"), s"buckets=$buckets _late")
      // no persistent RDD left behind, and no cache-manager entry for the batch
      assert(persistentRdds() == before, s"buckets=$buckets: RDDs after a merge")
      assert(ok.storageLevel == StorageLevel.NONE, s"buckets=$buckets: cache entry")

      // a merge that fails every attempt (no such key column): the retry
      // reuses the materialized rows, and the storage is still released
      val broken = new CdcPipeline(spark, tmpDir(), cp, Map("users" -> Seq("no_such_key")),
        watermarkDelay = "1 second", maxMergeRetries = 1, retryBaseBackoffMs = 1,
        warehouseBuckets = buckets)
      reads.reset()
      val failing = batch()
      val e = intercept[RuntimeException](broken.mergeMicroBatch(failing, 2L))
      assert(e.getMessage.contains("merge batch 2 failed after 1 retries"))
      assert(reads.value == rows.size, s"buckets=$buckets: rows computed across retries")
      assert(persistentRdds() == before, s"buckets=$buckets: RDDs after a failed merge")
      assert(failing.storageLevel == StorageLevel.NONE,
        s"buckets=$buckets: cache entry after a failed merge")
    }
  }

  test("ST10 records_replicated_total counts each envelope once: the merge " +
      "query's input rows equal the envelope lines") {
    val lines = (1 to 40).map(i => ev("INSERT", 1000L + i, s"u${i % 7}", s"n$i", "active")) ++
      Seq("""{"topic":"heartbeat.scylla","operation":"INSERT","commit_timestamp":1}""",
        "this is not json at all")
    val in = jsonEvents(lines)
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(), Map("users" -> Seq("user_id")),
      warehouseBuckets = 4)
    val listener = new graft.observe.CdcQueryListener()
    spark.streams.addListener(listener)
    try {
      val raw = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType)))).text(in).toDF("value")
      val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
      q.awaitTermination(60000)
      spark.streams.active.foreach(_.awaitTermination(60000))
      listener.settle()
      assert(listener.registry.counter("records_replicated_total",
        Map("query" -> q.id.toString)) == lines.size)
      // the pipeline runs one query, so its batches read each line once
      assert(listener.batchRows.map(_._3).sum == lines.size.toLong)
      assert(pipeline.readTable("users").get.count() == 7)
    } finally spark.streams.removeListener(listener)
  }

  test("ST6 dead letters replay idempotently after a torn commit: _dlq holds " +
      "each injected poison line once, under the same batch ids as a no-crash run") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    // one file per micro-batch; every file carries a poison line
    val files = (0 to 3).map(i => Seq(
      ev("INSERT", 1000L + i, s"u$i", s"n$i", "active"), s"poison line $i {"))
    val in = tmpDir()
    def writeFile(i: Int): Unit = {
      val p = Paths.get(s"$in/f$i.json")
      Files.writeString(p, files(i).mkString("\n"))
      p.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def drain(wh: String, cp: String): Unit = {
      val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")),
        warehouseBuckets = 4)
      val raw = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .option("maxFilesPerTrigger", 1).text(in).toDF("value")
      pipeline.start(raw, envSchema, Trigger.AvailableNow()).awaitTermination(120000)
    }
    def deadLetters(wh: String): Seq[(String, Long)] =
      spark.read.parquet(s"$wh/_dlq").select(col("original_payload"),
        col("batch_id").cast("long")).as[(String, Long)].collect().toSeq.sorted

    (0 to 3).foreach(writeFile)
    val whRef = tmpDir()
    drain(whRef, tmpDir())
    val want = deadLetters(whRef)
    assert(want == (0 to 3).map(i => (s"poison line $i {", i.toLong)))

    (0 to 3).foreach(i => Files.delete(Paths.get(s"$in/f$i.json")))
    writeFile(0); writeFile(1)
    val wh = tmpDir(); val cp = tmpDir()
    drain(wh, cp)
    def batch1FailedAt() = spark.read.parquet(s"$wh/_dlq").filter(col("batch_id") === 1)
      .select("failed_at").as[java.sql.Timestamp].collect().toSeq
    val firstWrite = batch1FailedAt()
    // kill -9 between batch 1's sink writes and its commit: the restarted
    // query replays batch 1, dead-letter write included
    val commits = Paths.get(s"$cp/merge/commits")
    val newest = Files.list(commits).iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    assert(newest.getFileName.toString == "1")
    Files.delete(newest)
    Files.deleteIfExists(newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
    writeFile(2); writeFile(3)
    drain(wh, cp)
    assert(deadLetters(wh) == want)
    // the replay rewrote batch 1's dead letter rather than skipping it
    assert(firstWrite.size == 1 && batch1FailedAt().forall(_.after(firstWrite.head)))
  }

  test("start runs one streaming query: the returned one, checkpointed under merge") {
    val in = jsonEvents(Seq(ev("INSERT", 1000L, "u1", "alice", "active"),
      "this is not json at all"))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType)))).text(in).toDF("value")
    val before = spark.streams.active.map(_.id).toSet
    val q = pipeline.start(raw, envSchema, Trigger.ProcessingTime("100 milliseconds"))
    try {
      assert(spark.streams.active.map(_.id).toSet == before + q.id)
      q.processAllAvailable()
      assert(spark.streams.active.map(_.id).toSet == before + q.id)
      assert(new java.io.File(cp).list().toSet == Set("merge", "_hwm"))
      assert(pipeline.readTable("users").get.count() == 1)
      assert(spark.read.parquet(s"$wh/_dlq").count() == 1)
    } finally q.stop()
  }

  test("start rejects a _dlq written by the streaming file sink") {
    val wh = tmpDir()
    Files.createDirectories(java.nio.file.Paths.get(s"$wh/_dlq/_spark_metadata"))
    val pipeline = new CdcPipeline(spark, wh, tmpDir(), Map("users" -> Seq("user_id")))
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType)))).text(tmpDir()).toDF("value")
    val before = spark.streams.active.map(_.id).toSet
    val e = intercept[IllegalArgumentException](pipeline.start(raw, envSchema))
    assert(e.getMessage.contains(s"$wh/_dlq"))
    assert(spark.streams.active.map(_.id).toSet == before)
  }

  /** Drains `files` (one micro-batch each) into a fresh 4-bucket warehouse
    * and returns its directory. */
  private def drainFiles(files: Seq[Seq[String]]): String = {
    val in = tmpDir()
    files.zipWithIndex.foreach { case (lines, i) =>
      val p = java.nio.file.Paths.get(s"$in/f$i.json")
      Files.writeString(p, lines.mkString("\n"))
      p.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val wh = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, tmpDir(), Map("users" -> Seq("user_id")),
      warehouseBuckets = 4)
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", 1).text(in).toDF("value")
    pipeline.start(raw, envSchema, Trigger.AvailableNow()).awaitTermination(120000)
    wh
  }

  test("a batch without dead letters writes no _dlq directory; the others hold " +
      "exactly the injected poison lines") {
    val files = Seq(
      Seq(ev("INSERT", 1000L, "u0", "n0", "active"), "poison line 0 {", "poison line 0b {"),
      Seq(ev("INSERT", 1001L, "u1", "n1", "active")),
      Seq(ev("INSERT", 1002L, "u2", "n2", "active"), "poison line 2 {"))
    val wh = drainFiles(files)
    val dirs = new java.io.File(s"$wh/_dlq").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("batch_id=0", "batch_id=2"))
    val perBatch = spark.read.parquet(s"$wh/_dlq").groupBy(col("batch_id").cast("long"))
      .count().as[(Long, Long)].collect().toMap
    assert(perBatch == Map(0L -> 2L, 2L -> 1L))
  }

  test("DlqReplay.replay on a _dlq with no data files selects nothing") {
    val wh = drainFiles(Seq(Seq(ev("INSERT", 1000L, "u0", "n0", "active"))))
    val dlq = java.nio.file.Paths.get(s"$wh/_dlq")
    // the drain had no dead letters, so whatever it left under _dlq holds
    // no parquet data; a marker file stands in for a committer's leftovers
    Files.createDirectories(dlq)
    val marker = dlq.resolve("_SUCCESS")
    if (!Files.exists(marker)) Files.createFile(marker)
    val in = tmpDir()
    assert(graft.ops.DlqReplay.replay(spark, dlq.toString, in) ==
      graft.ops.DlqReplay.ReplayResult(0, 0, dryRun = true))
    assert(graft.ops.DlqReplay.replay(spark, dlq.toString, in, dryRun = false) ==
      graft.ops.DlqReplay.ReplayResult(0, 0, dryRun = false))
    assert(new java.io.File(in).list().isEmpty)
  }

  private val twoTableSchema = StructType(Seq(StructField("__table", StringType),
    StructField("id", StringType), StructField("k2", StringType),
    StructField("v", StringType), StructField("commit_timestamp", LongType),
    StructField("__deleted", StringType)))
  private def twoTableFrame(rows: Seq[org.apache.spark.sql.Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), twoTableSchema)
  /** t0 is keyed by `id`, t1 by (`id`, `k2`): each table hashes its own keys. */
  private val twoTableKeys = Map("t0" -> Seq("id"), "t1" -> Seq("id", "k2"))
  private def twoTableBase = {
    import org.apache.spark.sql.Row
    twoTableFrame(Seq(
      Row("t0", "a", null, "v1", 4500000L, "false"),
      Row("t0", "b", null, "v1", 4500000L, "false"),
      Row("t1", "a", "x", "w1", 4500000L, "false"),
      Row("t1", "a", "y", "w1", 4500000L, "false")))
  }
  /** With `_hwm` at 5 s and a 1 s delay: updates, a delete and inserts in
    * both tables, one late row and one without a commit ts. */
  private def twoTableBatch = {
    import org.apache.spark.sql.Row
    twoTableFrame(Seq(
      Row("t0", "a", null, "v2", 5000001L, "false"),
      Row("t0", "b", null, null, 5000002L, "true"),
      Row("t0", "c", null, "v1", 5000003L, "false"),
      Row("t0", "d", null, "late", 1000L, "false"),
      Row("t1", "a", "x", "w2", 5000004L, "false"),
      Row("t1", "b", "z", "w1", 5000005L, "false"),
      Row("t1", "c", "q", "no-ts", null, "false")))
  }
  private def tableRows(p: CdcPipeline, table: String): Set[(String, String, String)] =
    p.readTable(table).get.select("id", "k2", "v").as[(String, String, String)]
      .collect().toSet

  /** Spark jobs started by `body` on any thread that carries the caller's
    * job tag; each is also handed to `onJob`. A marker job run afterwards,
    * and seen by the listener, shows that the bus has delivered every
    * earlier job. */
  private def jobsTagged(body: => Unit,
      onJob: org.apache.spark.scheduler.SparkListenerJobStart => Unit = _ => ()): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"cdc-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.tags").exists(_.split(",").contains(tag))) {
          jobs.incrementAndGet(); onJob(e)
        }
        if (prop("graft.test.marker").contains(tag)) markerSeen = true
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.setLocalProperty("graft.test.marker", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener bus did not deliver the marker job")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("one batch, two tables plus late and NULL-ts rows: the warehouse and _late " +
      "are exact on both layouts, and the bucketed merge runs no bucket-distinct job") {
    for (buckets <- Seq(1, 4)) {
      val wh = tmpDir(); val cp = tmpDir()
      val pipeline = new CdcPipeline(spark, wh, cp, twoTableKeys,
        watermarkDelay = "1 second", warehouseBuckets = buckets)
      pipeline.mergeMicroBatch(twoTableBase, 0L)
      Files.writeString(java.nio.file.Paths.get(s"$cp/_hwm"), "5000000")
      val jobs = jobsTagged(pipeline.mergeMicroBatch(twoTableBatch, 1L))
      assert(tableRows(pipeline, "t0") == Set(("a", null, "v2"), ("c", null, "v1")),
        s"buckets=$buckets t0")
      assert(tableRows(pipeline, "t1") ==
        Set(("a", "x", "w2"), ("a", "y", "w1"), ("b", "z", "w1")), s"buckets=$buckets t1")
      assert(spark.read.parquet(s"$wh/_late/batch_1").select("id", "v")
        .as[(String, String)].collect().toSet == Set(("d", "late"), ("c", "no-ts")),
        s"buckets=$buckets _late")
      assert(Files.readString(java.nio.file.Paths.get(s"$cp/_hwm")).trim == "5000005")
      // counted on the pool threads too, since each write carries the batch
      // thread's job tag. The bucketed merge ran 16 jobs when each table's
      // merge found its buckets with a distinct().collect() of its own (a
      // shuffle-map job and a result job under AQE); the probe returns
      // them now, so one bucket and four run the same 12.
      assert(jobs == 12, s"buckets=$buckets: jobs of a two-table merge")
    }
  }

  test("each write of a CDC batch names its Spark jobs: the probe, _late and each " +
      "table's merge are told apart, and the caller's call site is restored") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, twoTableKeys,
      watermarkDelay = "1 second", warehouseBuckets = 4)
    pipeline.mergeMicroBatch(twoTableBase, 0L)
    Files.writeString(java.nio.file.Paths.get(s"$cp/_hwm"), "5000000")
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.setCallSite("spec caller")
    try {
      val jobs = jobsTagged(pipeline.mergeMicroBatch(twoTableBatch, 1L), e => {
        // the result stage is named after the job's call site
        jobSites.add(e.stageInfos.maxBy(_.stageId).name)
        e.stageInfos.foreach(si => stageNames.add(si.name))
      })
      assert(jobs == 12)
      assert(sc.getLocalProperty("callSite.short") == "spec caller")
    } finally sc.clearCallSite()
    val named = Set("probe", "_late", "merge t0", "merge t1").map(w => s"cdc batch 1: $w")
    assert(jobSites.asScala.toSet == named, jobSites.asScala.toSeq)
    assert(stageNames.asScala.filter(_.startsWith("cdc batch 1: ")).toSet == named)
  }

  test("one table's merge failing every attempt: its sibling has merged, _hwm " +
      "stays, and no staging directory or pool thread is left") {
    import scala.jdk.CollectionConverters._
    val wh = tmpDir(); val cp = tmpDir()
    // t1's directory is a plain parquet table, not a bucketed one
    spark.range(1).write.parquet(s"$wh/t1")
    Files.writeString(java.nio.file.Paths.get(s"$cp/_hwm"), "5000000")
    val pipeline = new CdcPipeline(spark, wh, cp, twoTableKeys, watermarkDelay = "1 second",
      maxMergeRetries = 1, retryBaseBackoffMs = 1, warehouseBuckets = 4)
    val e = intercept[RuntimeException](pipeline.mergeMicroBatch(twoTableBatch, 3L))
    assert(e.getMessage.contains("merge batch 3 failed after 1 retries"))
    assert(e.getCause.getMessage.contains("not a bucketed table"), e.getCause.getMessage)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("cdc-batch-3-")),
      "a write thread outlived the batch")
    // every write was awaited: the sibling's merge is complete
    assert(tableRows(pipeline, "t0") == Set(("a", null, "v2"), ("c", null, "v1")))
    assert(spark.read.parquet(s"$wh/_late/batch_3").count() == 2)
    assert(Files.readString(java.nio.file.Paths.get(s"$cp/_hwm")).trim == "5000000")
    assert(!new java.io.File(wh).list().exists(_.endsWith("__stagingb")))
  }

  test("ST5 an interrupt during the concurrent writes propagates at once, is not " +
      "retried, and stops every write") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    import scala.jdk.CollectionConverters._
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")), maxMergeRetries = 3, retryBaseBackoffMs = 1)
    val calls = new AtomicInteger(); val stopped = new AtomicInteger()
    val started = new CountDownLatch(2)
    val slowWrite = () => {
      started.countDown()
      try Thread.sleep(120000)
      catch { case e: InterruptedException => stopped.incrementAndGet(); throw e }
    }
    val outcome = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try pipeline.withRetry("stopped merge") {
        calls.incrementAndGet(); pipeline.runConcurrently(7L, Seq(slowWrite, slowWrite))
      } catch { case t: Throwable => outcome.set(t) })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive && (System.nanoTime() - t0) < 10L * 1000 * 1000 * 1000)
    assert(outcome.get.isInstanceOf[InterruptedException], outcome.get)
    assert(calls.get == 1 && stopped.get == 2)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("cdc-batch-7-")))
  }
}
