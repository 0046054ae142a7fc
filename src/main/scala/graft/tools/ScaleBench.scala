package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only 8-vs-32-core scaling spot-bench at ~sf1 (VERDICT r19
  * item 8): at sf0.1 every driver-measured 8→32 ratio is ≈1 because
  * 0.1–0.9 s queries are dominated by per-query fixed cost (Catalyst
  * analysis + stage scheduling on a fresh DataFrame per rep), so §2/§3
  * parallelism claims are untestable from that block. This tool
  * upsamples the sf0.1 tables 10× into /tmp (key-shifted copies so
  * join fan-outs stay realistic; ~32 output files per fact so the
  * scan itself can parallelize — the sf0.1 single-row-group files
  * cannot) and times the heaviest registry queries at local[8] and
  * local[32] in the same JVM (sequential sessions, best of 2 reps).
  *
  * NOT part of the bench contract: writes only under /tmp, never
  * touches /root/testdata, and no registry query ever reads its
  * output unless pointed there explicitly.
  *
  * Usage: sbt "runMain graft.tools.ScaleBench [queries...]"
  */
object ScaleBench {
  private val srcDir = "/root/testdata/sf0.1"
  private val genDir = "/tmp/graft_scalebench_sf1"
  private val scanDir = "/tmp/graft_scalebench_sf10_li"

  private val defaults = Seq(
    "agg_tpcds_q24", "agg_tpcds_q68", "agg_tpcds_q78", "agg_tpcds_q95",
    "agg_tpcds_q64", "agg_tpcds_q14b", "agg_tpch_q9", "agg_tpch_q21",
    "agg_tpcds_q72", "agg_tpcds_q93")

  // lineitem-only queries for the scan-bound block: at ~sf1 the
  // join-heavy defaults are still seconds-scale and fixed-cost-bound,
  // so the purest parallelism signal is a wide scan+aggregate over a
  // ~60M-row, 64-file lineitem (~sf10) where per-row work dominates.
  private val scanDefaults = Seq("agg_tpch_q1", "agg_tpch_q6")

  // local-mode sessions share one JVM: clear the stopped session so
  // the next builder call honours the new master
  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def generate(): Unit = {
    val done = new java.io.File(s"$genDir/_DONE")
    if (done.exists()) { println(s"[gen] reusing $genDir"); return }
    println(s"[gen] writing ~10x sf0.1 to $genDir")
    val spark = graft.Session.local(32)
    // key-shifted 10x upsample: each copy shifts every *key* column by
    // i * 10^9 so per-key cardinalities (orders per customer, lines
    // per order) match sf1's, not a 10x-hotter sf0.1
    val shift = 1000000000L
    val keyCols = Set("l_orderkey", "l_partkey", "l_suppkey",
      "o_orderkey", "o_custkey", "c_custkey", "s_suppkey", "p_partkey",
      "vec_id", "doc_id", "user_id")
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
        "nation", "region")) {
      val base = spark.read.parquet(s"$srcDir/$t.parquet")
      val copies = if (t == "nation" || t == "region") 1 else 10
      val out = (0 until copies).map { i =>
        base.select(base.columns.map { c =>
          if (keyCols.contains(c)) (col(c) + lit(i * shift)).as(c)
          else col(c)
        }: _*)
      }.reduce(_ union _)
      out.repartition(if (copies == 1) 1 else 32)
        .write.mode("overwrite").parquet(s"$genDir/$t.parquet")
      println(s"[gen] $t x$copies")
    }
    done.createNewFile()
    stop(spark)
  }

  private def generateScan(): Unit = {
    val done = new java.io.File(s"$scanDir/_DONE")
    if (done.exists()) { println(s"[gen] reusing $scanDir"); return }
    println(s"[gen] writing ~100x sf0.1 lineitem to $scanDir")
    val spark = graft.Session.local(32)
    val shift = 1000000000L
    val base = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val out = (0 until 100).map { i =>
      base.select(base.columns.map { c =>
        if (c == "l_orderkey" || c == "l_partkey" || c == "l_suppkey")
          (col(c) + lit(i.toLong * shift)).as(c)
        else col(c)
      }: _*)
    }.reduce(_ union _)
    out.repartition(64).write.mode("overwrite")
      .parquet(s"$scanDir/lineitem.parquet")
    done.createNewFile()
    stop(spark)
  }

  private def timeBlock(names: Seq[String], dir: String,
      times: scala.collection.mutable.Map[(String, Int), Double]): Unit = {
    val all = graft.SparkEntry.queries
    for (cpus <- Seq(8, 32)) {
      val spark = graft.Session.local(cpus)
      // plan/codegen warmup at the smallest SF (untimed)
      names.foreach { n =>
        try all(n)(spark, "/root/testdata/sf0.001").count()
        catch { case e: Throwable =>
          System.err.println(s"[warmup $n] ${e.getClass.getName}: " +
            Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
        }
      }
      for (rep <- 1 to 2; n <- names) {
        val t0 = System.nanoTime()
        val ok = try { all(n)(spark, dir).count(); true }
          catch { case e: Throwable =>
            if (rep == 1) println(s"[fail $n] ${e.getMessage.take(120)}")
            false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) {
          val k = (n, cpus)
          times(k) = math.min(times.getOrElse(k, Double.MaxValue), dt)
        }
      }
      stop(spark)
    }
  }

  private def report(names: Seq[String],
      times: scala.collection.mutable.Map[(String, Int), Double]): Unit = {
    println(f"${"query"}%-30s ${"8c"}%8s ${"32c"}%8s ratio")
    names.foreach { n =>
      (times.get((n, 8)), times.get((n, 32))) match {
        case (Some(a), Some(b)) =>
          println(f"$n%-30s $a%8.2f $b%8.2f ${a / b}%5.2f")
        case _ => println(f"$n%-30s        -        -     -")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val times = scala.collection.mutable.Map[(String, Int), Double]()
    if (args.nonEmpty) {
      generate()
      timeBlock(args.toSeq, genDir, times)
      report(args.toSeq, times)
    } else {
      generate()
      timeBlock(defaults, genDir, times)
      println("== heavy queries @ ~sf1 (join-bound) ==")
      report(defaults, times)
      val scanTimes = scala.collection.mutable.Map[(String, Int), Double]()
      generateScan()
      timeBlock(scanDefaults, scanDir, scanTimes)
      println("== lineitem scan queries @ ~sf10 (scan-bound) ==")
      report(scanDefaults, scanTimes)
    }
  }
}
