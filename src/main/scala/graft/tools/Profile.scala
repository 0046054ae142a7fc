package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import scala.collection.concurrent.TrieMap

/** The batch profiler: for each named registry query, a cold rep and a
  * warm rep on the bench's session ([[graft.Session]]). The warm rep is
  * split into build (DataFrame construction, including its eager jobs
  * and per-intermediate analysis), analyze, optimize, plan (the initial
  * physical plan; AQE re-planning happens inside execute) and execute
  * (the count action), followed by each of its jobs — with the phase it
  * started in — and their completed stages: wall, tasks, run, CPU, GC.
  * Usage:
  *   sbt "runMain graft.tools.Profile <sfDir> <queryName>..."
  */
object Profile {
  private val PhaseKey = "graft.profile.phase"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local(graft.Session.cpus)
    val sc = spark.sparkContext
    // job id → (phase, start ms, stage ids); the phase rides in the
    // submitting thread's local properties, so late delivery by the
    // async listener bus cannot mislabel it
    val jobs = TrieMap[Int, (String, Long, Seq[Int])]()
    val ends = TrieMap[Int, Long]()
    val stages = TrieMap[Int, StageInfo]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .foreach(ph => jobs(e.jobId) = (ph, e.time, e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends(e.jobId) = e.time
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages(e.stageInfo.stageId) = e.stageInfo
    })
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    def timed[A](phase: String)(body: => A): (A, Double) = {
      sc.setLocalProperty(PhaseKey, phase)
      val t0 = System.nanoTime()
      try (body, secs(t0)) finally sc.setLocalProperty(PhaseKey, null)
    }
    def dropCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // absorb session/JIT/parquet-reader init so per-query "cold" times
    // measure plan compile + execution, not JVM warmup
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    graft.sources.Tables.region(spark, sfDir).count()
    val all = graft.SparkEntry.queries
    args.drop(1).foreach { n =>
      try {
        val t0 = System.nanoTime()
        all(n)(spark, sfDir).count()
        val cold = secs(t0)
        dropCaches()
        jobs.clear(); ends.clear(); stages.clear()
        // the warm rep, phase by phase: Dataset.count() is this same
        // count plan run under a new SQL execution id
        val (df, build) = timed("build")(all(n)(spark, sfDir))
        val (qe, analyze) = timed("analyze") {
          val qe = df.groupBy().count().queryExecution
          qe.assertAnalyzed(); qe
        }
        val (_, optimize) = timed("optimize")(qe.optimizedPlan)
        val (_, plan) = timed("plan")(qe.executedPlan)
        val (rows, execute) = timed("execute") {
          SQLExecution.withNewExecutionId(qe, Some("count"))(
            qe.executedPlan.executeCollect().head.getLong(0))
        }
        // fence: the bus delivers in order, so once this job's end is
        // seen every event of the rep above has been delivered too
        timed("fence")(sc.parallelize(Seq(1), 1).count())
        def fenced = jobs.exists { case (id, (ph, _, _)) => ph == "fence" && ends.contains(id) }
        val deadline = System.nanoTime() + 10000000000L
        while (!fenced && System.nanoTime() < deadline) Thread.sleep(5)
        val warm = build + analyze + optimize + plan + execute
        println(f"[profile] $n%-28s rows=$rows%-8d cold=$cold%.3fs warm=$warm%.3fs")
        println(f"  build=$build%.3fs analyze=$analyze%.3fs optimize=$optimize%.3fs " +
          f"plan=$plan%.3fs execute=$execute%.3fs")
        jobs.toSeq.sortBy(_._1).filter(_._2._1 != "fence").foreach {
          case (id, (phase, start, stageIds)) =>
            val done = stageIds.flatMap(stages.get)
            val wall = ends.get(id).map(e => f"${(e - start) / 1e3}%7.3fs").getOrElse("      ?")
            println(f"  [job] $id%4d $phase%-8s $wall stages=${done.size} " +
              f"tasks=${done.map(_.numTasks).sum}")
            done.foreach { si =>
              val tm = si.taskMetrics
              val sw = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
              println(f"    [stage] ${si.stageId}%4d $sw%7.3fs tasks=${si.numTasks} " +
                f"run=${tm.executorRunTime / 1e3}%.3f cpu=${tm.executorCpuTime / 1e9}%.3f " +
                f"gc=${tm.jvmGCTime / 1e3}%.3f ${si.name.take(60)}")
            }
        }
      } catch { case e: Throwable =>
        println(s"[profile] $n FAILED ${e.getClass.getName}: ${e.getMessage}")
      }
      dropCaches()
    }
    spark.stop()
  }
}
