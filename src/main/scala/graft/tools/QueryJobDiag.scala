package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The profiler: runs ONE target a few times and prints, per pass, the
  * wall time, every Spark job's time grouped by its
  * `spark.job.description` (the `curate:<stage>` labels CurateCli sets)
  * or — for jobs without one — by its final stage's call site, and each
  * stage that ran ≥100 ms with its task count. This is the "which
  * internal checkpoint/action is the expensive one" view that `explain`
  * can't give for query APIs that materialize internal indexes eagerly
  * (`graft.Plans` writes the plans).
  *
  * Targets: a declared query (`SparkEntry.queries`, forced with
  * `.count()`) or a bench funnel, `curate_funnel` / `curate_funnel_full`,
  * run exactly as `graft.Bench` times it.
  *
  *   sbt "runMain graft.tools.QueryJobDiag <target> [sfDir] [runs]"
  *
  * e.g. `QueryJobDiag q36_ngram_jaccard_pairs /tmp/graft_scale/f10`
  * profiles q36 on ScaleBench's factor-10 corpus.
  */
object QueryJobDiag {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("target required: a query name or curate_funnel[_full]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val target: SparkSession => Unit =
      if (graft.Bench.FunnelNames.contains(name))
        s => graft.Bench.curateFunnel(s, sfDir, name).unpersist()
      else graft.SparkEntry.queries.get(name) match {
        case Some(q) => s => q(s, sfDir).count()
        case None => sys.error(s"unknown target '$name'")
      }
    val spark = graft.util.Sessions.local("graft-profile")

    val started = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, String)]
    @volatile var events = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val key = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
        started += e.jobId -> (e.time, key)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        started.remove(e.jobId).foreach { case (t0, key) =>
          jobs.synchronized { jobs += ((key, e.time - t0)) }
        }
        events += 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.numTasks, ms,
            si.name.linesIterator.nextOption().getOrElse("").take(60)))
        }
        events += 1
      }
    })

    (1 to runs).foreach { pass =>
      jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      target(spark)
      val wall = (System.nanoTime() - t0) / 1e9
      graft.observe.ListenerDrain.settle(() => events)
      println(f"%n$name pass $pass wall ${wall}%.2f s — job time by description / call site:")
      val byKey = jobs.synchronized(jobs.toList)
        .groupMapReduce(_._1)(j => (j._2, 1))((a, b) => (a._1 + b._1, a._2 + b._2))
      byKey.toSeq.sortBy(-_._2._1).foreach { case (key, (ms, n)) =>
        println(f"  ${ms / 1000.0}%7.3f s  $n%3d jobs  ${key.take(90)}")
      }
      println(f"  tracked job time ${byKey.values.map(_._1).sum / 1000.0}%.2f s " +
        f"of ${wall}%.2f s wall (gap = planning/checkpoint bookkeeping outside jobs)")
      println("  stages (tasks, s):")
      stages.synchronized(stages.toSeq).sortBy(_._1).foreach {
        case (id, tasks, ms, nm) =>
          if (ms >= 100)
            println(f"  stage $id%4d tasks=$tasks%3d ${ms / 1000.0}%7.3f s  $nm")
      }
      graft.SparkEntry.sweepTransientStorage(spark)
    }
    spark.stop()
  }
}
