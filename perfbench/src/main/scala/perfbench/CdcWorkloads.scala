package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The two replication workloads, both through `CdcPipeline.start` into
  * a bucketed copy-on-write warehouse that starts from the same seeded
  * base snapshot. */
object CdcWorkloads {

  /** cdc_backfill: a closed drain of a seeded backlog under
    * `Trigger.AvailableNow` with a fixed files-per-trigger that takes the
    * whole backlog in one batch, so per-event work outweighs the fixed
    * cost of starting the streams and running a batch. */
  val BackfillLines = 128000
  val BackfillFiles = 8
  val BackfillFilesPerTrigger = 8
  /** The untimed warm-up drain: the first files, in one batch. */
  val WarmFiles = 1
  /** Timed drains in a run, at least. */
  val MinDrains = 1
  /** Fresh warehouses prepared in a run, at least: the set-up samples. */
  val MinSetups = 3

  /** cdc_tail: an open loop writing one file every `TailFileMs` at
    * `TailRate` events/s into a pipeline on a processing-time trigger. */
  val TailRate = 500
  val TailFileMs = 200
  val TailTriggerMs = 500
  val TailGraceMs = 10000L
  val WarmLines = 2000

  private def params(ctx: Ctx, extra: (String, String)*): Unit = {
    val p = GenParams()
    ctx.res.record("params") = Json.obj(Seq(
      "seed" -> ctx.seed.toString, "tables" -> Gen.Tables.toString, "keys" -> p.keys.toString,
      "heartbeat_share" -> Json.num(p.heartbeatShare),
      "poison_share" -> Json.num(p.poisonShare), "late_share" -> Json.num(p.lateShare),
      "buckets" -> Cdc.Buckets.toString) ++ extra)
  }

  /** Progress-derived per-layer figures of one pipeline run: durations over
    * both of its streams (merge and dead-letter), batches of the merge
    * stream. */
  private def streamLayers(batches: Seq[Progress#P], mergeId: String): Map[String, Double] = {
    def d(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    Map(
      "cdc.batches" -> batches.count(b => b.query == mergeId && b.inputRows > 0).toDouble,
      "cdc.wal_commit_s" -> (d("walCommit") + d("commitOffsets")),
      "cdc.plan_s" -> d("queryPlanning"),
      "cdc.add_batch_s" -> d("addBatch"),
      "sources.list_s" -> (d("latestOffset") + d("getBatch")))
  }

  /** Engine figures of a traced unit under the `cdc.` / `util.` names. */
  private def engineLayers(ctx: Ctx, span: Span, mergeBatches: Int,
      envelopeBytes: Long): Map[String, Double] = {
    val e = Layers.engine(ctx.tracer.get, span, ctx.cores)
    Map(
      "cdc.jobs_per_batch" -> e("jobs") / math.max(1, mergeBatches),
      "cdc.shuffle_bytes" -> e("shuffle_bytes"), "cdc.spill_bytes" -> e("spill_bytes"),
      "cdc.gc_s" -> e("gc_s"), "cdc.cpu_busy" -> e("cpu_busy"),
      "cdc.failed_jobs" -> e("failed_jobs"),
      "util.write_amp" -> e("output_bytes") / math.max(1L, envelopeBytes),
      "util.files_written" -> e("files_written")) ++
      e.map { case (k, v) => s"spark.$k" -> v }
  }

  private def await(q: StreamingQuery, ctx: Ctx): Unit = {
    q.awaitTermination()
    ctx.spark.streams.active.foreach(_.awaitTermination())
  }

  /** A backlog written to `in`, drained `filesPerTrigger` files at a time. */
  private final case class Backlog(in: Path, files: Seq[Seq[Line]], filesPerTrigger: Int,
      model: Model, bytes: Long) {
    def lines: Seq[Line] = files.flatten
  }

  private def writeBacklog(cdc: Cdc, in: Path, files: Seq[Seq[Line]], fpt: Int): Backlog = {
    Files.createDirectories(in)
    val mtime0 = System.currentTimeMillis() - 3600 * 1000L
    val bytes = files.zipWithIndex.map { case (f, i) =>
      val n = cdc.writeFile(in, i, f, atomic = false)
      // the file source consumes files in modification-time order
      in.resolve(cdc.fileName(i)).toFile.setLastModified(mtime0 + i * 1000L)
      n
    }.sum
    Backlog(in, files, fpt, cdc.expected(files.grouped(fpt).map(_.flatten).toSeq), bytes)
  }

  /** One drain result: wall seconds, per-line visibility seconds, layer figures. */
  private type Drain = (Double, Seq[Double], Map[String, Double])

  def backfill(ctx: Ctx): Unit = {
    import ctx.res
    params(ctx, "lines" -> BackfillLines.toString, "files" -> BackfillFiles.toString,
      "files_per_trigger" -> BackfillFilesPerTrigger.toString)
    val cdc = new Cdc(ctx.spark, ctx.seed, res)
    val files = cdc.next(BackfillLines).grouped(BackfillLines / BackfillFiles).toSeq
    val backlog = writeBacklog(cdc, ctx.work.resolve("in"), files, BackfillFilesPerTrigger)
    val warm = writeBacklog(cdc, ctx.work.resolve("in-warm"), files.take(WarmFiles), WarmFiles)
    ctx.log("backlog written")

    var drains = 0
    /** One verified drain of `b` into a fresh warehouse holding the base
      * snapshot; None if it did not replicate correctly. */
    def drain(b: Backlog, timed: Boolean): Option[Drain] = {
      val dir = ctx.work.resolve(s"drain-$drains")
      drains += 1
      val (wh, ck) = (dir.resolve("wh"), dir.resolve("ck"))
      ctx.setupSample(cdc.prepare(wh, ck))
      val run = () => {
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (p, q) = cdc.start(wh, ck, b.in, Trigger.AvailableNow(), b.filesPerTrigger)
        await(q, ctx)
        ((System.nanoTime() - t0) / 1e9, startMs, p, q)
      }
      val ((wall, startMs, p, q), span) =
        if (timed) ctx.unit("drain", s"drain $drains")(_ => run()) else (run(), None)
      ctx.log(f"drain $drains: $wall%.2f s")
      val batchOf = cdc.batchOf(ck)
      ctx.progress.await(q.id.toString, batchOf.values.toSet)
      ctx.settle()
      val lines = b.lines
      val bad = cdc.verify(p, wh, b.model, lines)
      val merge = ctx.progress.batches(q.id.toString)
      val commits = Stats.fileCommitTimes(b.files.indices.map(cdc.fileName), batchOf,
        merge.map(m => m.batchId -> m.commitMs).toMap)
      val vis = b.files.indices.flatMap { i =>
        commits(i).map(c => Seq.fill(b.files(i).size)((c - startMs) / 1000.0)).getOrElse(Nil)
      }
      val layers = streamLayers(ctx.progress.all, q.id.toString) ++
        span.map(s => engineLayers(ctx, s, merge.count(_.inputRows > 0), b.bytes))
          .getOrElse(Map.empty) +
        ("wh_bytes" -> Cdc.tableBytes(wh, cdc.tables).toDouble)
      ctx.progress.clear()
      Cdc.rmTree(dir)
      if (vis.size != lines.size)
        res.fail(lines.size - vis.size, s"${lines.size - vis.size} lines never committed")
      if (bad > 0 || vis.size != lines.size) None else Some((wall, vis, layers))
    }

    res.attempted += warm.lines.size
    drain(warm, timed = false)
    ctx.startMeasuring()
    val units = ArrayBuffer.empty[Drain]
    var done = 0
    while (ctx.moreUnits(done, MinDrains)) {
      res.attempted += BackfillLines
      units ++= drain(backlog, timed = true)
      done += 1
    }
    res.num("drains", done)
    // set-up samples beyond the drains' own, so the median has three
    for (i <- drains until MinSetups) {
      val dir = ctx.work.resolve(s"setup-$i")
      ctx.setupSample(cdc.prepare(dir.resolve("wh"), dir.resolve("ck")))
      Cdc.rmTree(dir)
    }
    if (units.size == done) {
      val walls = units.map(_._1).toSeq
      val vis = units.flatMap(_._2).toSeq
      val (tp, tv) = Stats.tail(vis)
      val eps = Stats.median(walls.map(BackfillLines / _))
      res.e2e("unit_s") = (Stats.median(walls), "s")
      res.num("rate_per_s", eps)
      res.num("latency_p50_s", Stats.median(vis))
      res.num("latency_tail_s", tv)
      res.num("latency_tail_pct", tp)
      res.num("latency_samples", vis.size)
      res.num("backfill_eps", eps)
      res.num("wh_bytes_per_row", units.last._3("wh_bytes") / backlog.model.size)
      res.num("envelope_bytes", backlog.bytes)
      res.num("live_rows", backlog.model.size)
      layerRecord(ctx, units.map(_._3).toSeq)
      res.num("cdc.collapse_ratio",
        backlog.model.collapsedRows.toDouble / backlog.model.inputRows)
    }
  }

  /** Medians across units of every layer figure, as per-layer metrics
    * (the engine-wide ones) and record entries (the module-named ones). */
  private def layerRecord(ctx: Ctx, units: Seq[Map[String, Double]]): Unit = {
    val (engine, named) = Layers.medians(units).partition(_._1.startsWith("spark."))
    named.toSeq.sortBy(_._1).foreach { case (k, v) => ctx.res.num(k, v) }
    Layers.report(ctx.res, engine.map { case (k, v) => k.stripPrefix("spark.") -> v })
  }

  def tail(ctx: Ctx): Unit = {
    import ctx.res
    val nFiles = math.max(1, (ctx.seconds * 1000 / TailFileMs).toInt)
    val perFile = TailRate * TailFileMs / 1000
    params(ctx, "rate_eps" -> TailRate.toString, "file_ms" -> TailFileMs.toString,
      "trigger_ms" -> TailTriggerMs.toString, "grace_ms" -> TailGraceMs.toString,
      "files" -> nFiles.toString)
    val cdc = new Cdc(ctx.spark, ctx.seed, res)

    // warm-up: a short drain of an unrelated seeded backlog
    locally {
      val warm = new Cdc(ctx.spark, ctx.seed ^ 0x5eedL, res)
      val dir = ctx.work.resolve("warm")
      val b = writeBacklog(warm, dir.resolve("in"), warm.next(WarmLines).grouped(WarmLines / 4).toSeq, 2)
      ctx.setupSample(warm.prepare(dir.resolve("wh"), dir.resolve("ck")))
      val (_, q) = warm.start(dir.resolve("wh"), dir.resolve("ck"), b.in, Trigger.AvailableNow(),
        b.filesPerTrigger)
      await(q, ctx)
      ctx.progress.await(q.id.toString, Set.empty)
      ctx.settle()
      ctx.progress.clear()
      Cdc.rmTree(dir)
    }

    val files = Seq.fill(nFiles)(cdc.next(perFile))
    val lines = files.flatten
    val (wh, ck) = (ctx.work.resolve("wh"), ctx.work.resolve("ck"))
    ctx.setupSample(cdc.prepare(wh, ck))
    val in = Files.createDirectories(ctx.work.resolve("in"))
    ctx.startMeasuring()
    res.attempted = lines.size

    val names = files.indices.map(cdc.fileName)
    val due = new Array[Long](nFiles)
    val late = new Array[Double](nFiles)
    var envelopeBytes = 0L
    val ((p, q, graceEndMs), span) = ctx.unit("window", "tail window") { _ =>
      val (p, q) = cdc.start(wh, ck, in, Trigger.ProcessingTime(TailTriggerMs))
      val t0 = System.currentTimeMillis() + TailTriggerMs
      for (i <- 0 until nFiles) {
        due(i) = t0 + (i + 1).toLong * TailFileMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        envelopeBytes += cdc.writeFile(in, i, files(i), atomic = true)
        late(i) = (System.currentTimeMillis() - due(i)) / 1000.0
      }
      // grace window: until a committed batch has read every file, or the
      // grace ends
      val graceEnd = due.last + TailGraceMs
      def allCommitted = {
        val read = cdc.batchOf(ck)
        val done = ctx.progress.batches(q.id.toString).map(_.batchId).toSet
        names.forall(n => read.get(n).exists(done))
      }
      while (!allCommitted && System.currentTimeMillis() < graceEnd) Thread.sleep(100)
      (p, q, math.min(graceEnd, System.currentTimeMillis()))
    }
    // then let both streams finish the backlog so the warehouse is checkable
    ctx.spark.streams.active.foreach(_.processAllAvailable())
    ctx.spark.streams.active.foreach(_.stop())
    val batchOf = cdc.batchOf(ck)
    ctx.progress.await(q.id.toString, batchOf.values.toSet)
    ctx.settle()
    val merge = ctx.progress.batches(q.id.toString)
    val commitAt = Stats.fileCommitTimes(names, batchOf, merge.map(b => b.batchId -> b.commitMs).toMap)
    val backlog = files.indices.filter(i =>
      commitAt(i).forall(_ > graceEndMs)).map(files(_).size).sum
    // replay the model with the batch boundaries the pipeline actually used
    val model = cdc.expected(files.indices.groupBy(i => batchOf.getOrElse(names(i), Long.MaxValue))
      .toSeq.sortBy(_._1).map(_._2.sorted.flatMap(files(_))))
    val bad = cdc.verify(p, wh, model, lines)
    val lags = files.indices.flatMap(i =>
      commitAt(i).map(c => Seq.fill(files(i).size)((c - due(i)) / 1000.0)).getOrElse(Nil))
    res.num("tail_backlog_events", backlog)
    res.num("cdc.generator_late_s", late.max)
    res.num("cdc.generator_late_p50_s", Stats.median(late.toSeq))
    if (bad == 0 && lags.size == lines.size) {
      val (tp, tv) = Stats.tail(lags)
      val span0 = due.head - TailFileMs
      res.e2e("unit_s") = (Stats.median(merge.filter(_.inputRows > 0)
        .map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0)), "s")
      res.num("latency_p50_s", Stats.median(lags))
      res.num("latency_tail_s", tv)
      res.num("rate_per_s", lines.size * 1000.0 / (merge.map(_.commitMs).max - span0))
      res.num("latency_tail_pct", tp)
      res.num("latency_samples", lags.size)
      res.num("tail_lag_p50_s", Stats.median(lags))
      res.num("tail_lag_p99_s", Stats.quantile(lags, 0.99))
    } else if (lags.size != lines.size)
      res.fail(lines.size - lags.size, s"${lines.size - lags.size} lines never committed")
    val layers = streamLayers(ctx.progress.all, q.id.toString) ++
      span.map(s => engineLayers(ctx, s, merge.count(_.inputRows > 0), envelopeBytes))
        .getOrElse(Map.empty)
    layerRecord(ctx, Seq(layers))
    res.num("cdc.collapse_ratio", model.collapsedRows.toDouble / math.max(1L, model.inputRows))
  }
}
