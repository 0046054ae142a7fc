package graft.tools

/** Print the formatted physical plan of registry queries.
  * Usage: sbt "runMain graft.tools.Explain <sfDir> <queryName>..."
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(graft.Session.cpus)
    val all = graft.SparkEntry.queries
    // GRAFT_EXPLAIN_EXEC=1: run the query first so the printed plan is
    // the FINAL adaptive plan (isFinalPlan=true) — AQE join-strategy
    // switches, AQEShuffleReads and runtime stage reuse are invisible
    // in the pre-execution plan.
    val exec = sys.env.getOrElse("GRAFT_EXPLAIN_EXEC", "0") == "1"
    args.drop(1).foreach { n =>
      println(s"========== $n ==========")
      val df = all(n)(spark, sfDir)
      // executeCollect() drives df's OWN AdaptiveSparkPlanExec to its
      // final form (a separate count()/write action plans a different
      // query execution and leaves this one isFinalPlan=false); a
      // failed execution leaves the pre-execution plan, so say so
      if (exec) {
        try df.queryExecution.executedPlan.executeCollect()
        catch {
          case e: Throwable =>
            System.err.println(s"[explain] $n: ${e.getClass.getName}: " +
              Option(e.getMessage).flatMap(_.linesIterator.nextOption())
                .getOrElse("") + " (plan below is pre-execution)")
        }
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
