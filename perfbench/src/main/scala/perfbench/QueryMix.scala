package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** query_mix: one client making sequential passes over a fixed, family
  * tagged list of `SparkEntry.queries`, on the fixed seed-42 corpus. The
  * seed fixes the query order. Set-up is three warm rounds, each a fresh
  * session and an untimed pass that fills its per-session caches (a set-up
  * sample); then timed passes run in the last session. The first warm pass
  * keeps each result for the DuckDB oracle check; every later execution must
  * reproduce it exactly. */
object QueryMix {

  /** (family, registry prefix). Families are the layers the per-layer
    * record is grouped by. */
  val Mix: Seq[(String, String)] =
    Seq("q36", "q184").map("text.pairs" -> _) ++
      Seq("q253").map("text.degenerate" -> _) ++
      Seq("q10").map("reconcile" -> _) ++
      Seq("q41", "q94").map("multimodal" -> _) ++
      Seq("q21", "q131").map("analytics" -> _)

  val Families: Seq[String] = Mix.map(_._1).distinct

  /** Queries whose own time and exchange count the traced record keeps. */
  val Named: Set[String] = Set("q253", "q36", "q184", "q94", "q41")

  /** Warm rounds, each a fresh session and an untimed pass: the set-up
    * median is over three, and the steepest part of the JIT warm-up is
    * over before the first timed pass. */
  val WarmRounds = 3

  /** Timed passes in a run, at least: per-query medians over six. Pass
    * times still drift down for several passes after the warm rounds, most
    * on a busy host; a fixed count stops every run at the same point. */
  val MinPasses = 6

  private def digest(rows: Array[Row]): (Long, Long) =
    Model.digest(rows.iterator.map(_.toString))

  def run(ctx: Ctx): Unit = {
    import ctx.{res, spark}
    require(ctx.sfDir.nonEmpty && Files.isDirectory(java.nio.file.Paths.get(ctx.sfDir)),
      s"query_mix needs the corpus directory (--sf), got '${ctx.sfDir}'")
    val registry = SparkEntry.queries
    val resolved = Mix.map { case (fam, q) =>
      val name = registry.keys.find(_.startsWith(s"${q}_"))
        .getOrElse(sys.error(s"no registry query for $q"))
      (fam, q, name)
    }
    val order = new scala.util.Random(ctx.seed).shuffle(resolved)
    ctx.res.record("params") = Json.obj(Seq(
      "seed" -> ctx.seed.toString, "sf_dir" -> Json.str(ctx.sfDir),
      "order" -> order.map(o => Json.str(o._3)).mkString("[", ",", "]")))

    val outDir = ctx.work.resolve("results")
    val reference = mutable.Map.empty[String, (Long, Long)]
    val times = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val tracedLayers = mutable.ArrayBuffer.empty[Map[String, Double]]

    /** One checked execution: the plan and rows, or None after recording
      * the failure (it threw, or differs from the first warm pass). */
    def execute(session: SparkSession, name: String, what: String): Option[(DataFrame, Array[Row])] = {
      res.attempted += 1
      val out = try {
        val df = registry(name)(session, ctx.sfDir)
        Right((df, df.collect()))
      } catch { case e: Exception => Left(e) }
      out match {
        case Left(e) => res.fail(1, s"$name $what threw $e"); None
        case Right((_, rows)) if reference.get(name).exists(_ != digest(rows)) =>
          res.fail(1, s"$name $what: result differs from the first warm pass"); None
        case Right(r) => Some(r)
      }
    }

    // set-up: each warm round opens a fresh session, whose per-session
    // caches (shingle index, decode cache) start empty, and runs a warm pass
    // that fills them; the timed passes then run in the last one
    var session: SparkSession = null
    for (round <- 0 until WarmRounds) {
      session = spark.newSession()
      val warm = ctx.setupSample(order.map { case (_, _, name) =>
        try name -> execute(session, name, s"warm round $round")
        finally SparkEntry.sweepTransientStorage(session)
      })
      ctx.log(s"warm round $round done")
      if (round == 0) {
        // the first results are the reference; run.py checks them against
        // the DuckDB oracle
        warm.foreach { case (name, r) =>
          r.foreach { case (df, rows) =>
            reference(name) = digest(rows)
            session.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
              .write.mode("overwrite").parquet(outDir.resolve(name).toString)
          }
        }
        val oracle = order.flatMap { case (_, _, n) =>
          SparkEntry.oracleSql.get(n).map(sql => Json.str(n) + ":" + Json.str(sql))
        }
        Files.createDirectories(outDir)
        Files.write(outDir.resolve("oracle_sql.json"), oracle.mkString("{", ",", "}").getBytes("UTF-8"))
        SparkEntry.sweepTransientStorage(session)
      }
    }
    ctx.startMeasuring()

    var passes = 0
    while (ctx.moreUnits(passes, MinPasses)) {
      val (queries, span) = ctx.unit("pass", s"pass $passes") { passSpan =>
        order.flatMap { case (family, q, name) =>
          val qSpan = for (t <- ctx.tracer; p <- passSpan) yield t.open("query", name, p.id)
          qSpan.foreach(s => spark.sparkContext.setLocalProperty(JobTrace.SpanKey, s.id.toString))
          val gc0 = Host.gcSeconds()
          val t0 = System.nanoTime()
          val got = execute(session, name, s"pass $passes")
          val secs = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.setLocalProperty(JobTrace.SpanKey, null)
          for (t <- ctx.tracer; s <- qSpan) { t.close(s); t.add(s, "gc_s", Host.gcSeconds() - gc0) }
          SparkEntry.sweepTransientStorage(session)
          for (t <- ctx.tracer; s <- qSpan) t.add(s, "storage_bytes_after",
            spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
          got.map { case (df, _) => (family, q, name, secs, df, qSpan) }
        }
      }
      queries.foreach { case (_, _, name, secs, _, _) =>
        times += secs
        perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
      }
      passWalls += queries.map(_._4).sum
      ctx.log(f"timed pass $passes: ${passWalls.last}%.2f s")
      // per-layer figures, read once the listener bus has delivered the
      // pass's jobs and stages
      for (t <- ctx.tracer; passSpan <- span) {
        ctx.settle()
        val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        queries.foreach { case (family, q, _, secs, df, qSpan) =>
          val e = Layers.engine(t, qSpan.get, ctx.cores)
          val ex = Layers.exchanges(df).toDouble
          Seq("jobs", "shuffle_bytes", "spill_bytes", "gc_s", "checkpoint_jobs", "task_s")
            .foreach(k => layer(s"$family.$k") += e(k))
          layer(s"$family.exchanges") += ex
          layer(s"$family.s") += secs
          val k = s"$family.storage_bytes_after"
          layer(k) = math.max(layer(k), qSpan.get.attrs.getOrElse("storage_bytes_after", 0.0))
          if (Named(q)) { layer(s"q.$q.s") = secs; layer(s"q.$q.exchanges") = ex }
        }
        Families.foreach { f =>
          layer(s"$f.cpu_busy") = layer(s"$f.task_s") / math.max(1e-9, layer(s"$f.s") * ctx.cores)
          layer.remove(s"$f.task_s")
        }
        tracedLayers += layer.toMap ++
          Layers.engine(t, passSpan, ctx.cores).map { case (k, v) => s"spark.$k" -> v }
      }
      passes += 1
    }
    res.num("warm_rounds", WarmRounds)
    res.num("timed_passes", passes)
    res.num("executions_per_query", WarmRounds + passes)
    if (res.failed == 0 && times.nonEmpty) {
      val (tp, tv) = Stats.tail(times.toSeq)
      // pass time composed of per-query medians: one stalled execution
      // moves it by its share, not by the whole stall
      val medians = order.map { case (f, _, n) => f -> Stats.median(perQuery(n).toSeq) }
      res.e2e("unit_s") = (medians.map(_._2).sum, "s")
      res.num("rate_per_s", order.size / medians.map(_._2).sum)
      res.num("latency_p50_s", Stats.median(times.toSeq))
      res.num("latency_tail_s", tv)
      res.num("latency_tail_pct", tp)
      res.num("latency_samples", times.size)
      res.num("mix_s", medians.map(_._2).sum)
      res.num("mix_pass_wall_s", Stats.median(passWalls.toSeq))
      res.num("mix_query_p50_s", Stats.median(times.toSeq))
      res.num("mix_query_p90_s", Stats.quantile(times.toSeq, 0.9))
      medians.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (f, ms) =>
        res.num(s"mix_${f.split('.').last}_s", ms.map(_._2).sum)
      }
    }
    val (engine, named) = Layers.medians(tracedLayers.toSeq).partition(_._1.startsWith("spark."))
    named.toSeq.sortBy(_._1).foreach { case (k, v) => res.num(k, v) }
    Layers.report(res, engine.map { case (k, v) => k.stripPrefix("spark.") -> v })
  }
}
