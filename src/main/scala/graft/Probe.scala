package graft

import graft.core.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev-only plan/timing probe:
  * `sbt "runMain graft.Probe <query>[,<query>...] <sfDir> [noplan] [stages] [runs=N]"`.
  * Comma-separated names share one JVM/session so per-query timings come
  * out of a warm engine after the first query's JIT churn. `stages` adds
  * per-stage task counts and executor run/GC/CPU time from a listener,
  * plus the final executed plan (the AQE-resolved one, which
  * `explain("formatted")` taken before execution does not show).
  * `runs=0` prints only each query's construct time and formatted plan,
  * executing nothing — the plan-dump mode. The session is sized like
  * Bench's: `SPARK_GRAFT_CPUS`, else the host's available processors.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names =
      (if (args.nonEmpty) args(0) else "q30_ngram_jaccard").split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val flags = args.drop(2).toSet
    val runs = flags.collectFirst { case f if f.startsWith("runs=") => f.drop(5).toInt }.getOrElse(3)
    val cpus = Bench.hostCpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var stages = List.empty[String]
    if (flags("stages")) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        stages = f"(${i.name.takeWhile(_ != '\n').take(60)} tasks=${i.numTasks} wall=${ms}ms run=${m.executorRunTime}ms gc=${m.jvmGCTime}ms cpu=${m.executorCpuTime / 1000000}ms)" :: stages
      }
    })

    names.foreach { name =>
      // time the construction separately: library-backed queries run
      // their write/update/merge jobs HERE (the bench times them too —
      // its run() invokes the query function inside the timed region)
      val tC = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      println(f"[probe] $name construct: ${(System.nanoTime() - tC) / 1e9}%.2f s")
      if (!flags("noplan")) df.explain("formatted")
      (1 to runs).foreach { i =>
        stages = Nil
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tail = if (flags("stages")) "; stages: " + stages.reverse.mkString(" ") else ""
        println(f"[probe] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s$tail")
      }
      if (flags("stages"))
        println(s"[probe] $name executed plan:\n" +
          df.queryExecution.executedPlan.toString.take(4000))
      // `finalplan` materializes the df's OWN QueryExecution (each noop
      // save above runs a separate one), so the printed plan is the
      // AQE-resolved final plan with runtime join rewrites visible.
      if (flags("finalplan")) {
        df.collect()
        println(s"[probe] $name AQE-final plan:\n" +
          df.queryExecution.executedPlan.toString.take(8000))
      }
    }
    spark.stop()
  }
}
