package graft.tools

/** Dev-only: run every registry query against the three degenerate
  * table variants ([[DegenerateTables]]) — empty (the empty-partition
  * case — at 100 TB some split is always empty), single-row (n=1 fit
  * statistics), and null-injected (dirty corpus). Prints each failure;
  * the CI-side guard is RegistrySpec's empty sweep + targeted
  * degenerate specs. */
object EmptyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus)
    val src = "/root/testdata/sf0.001"
    DegenerateTables.enableNanos(spark)

    def sweep(label: String, d: String): Unit = {
      var bad = 0
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try { fn(spark, d).collect(); () }
        catch { case e: Throwable =>
          bad += 1
          println(s"FAIL[$label] $name: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
        }
      }
      println(s"$label sweep: ${graft.SparkEntry.queries.size - bad}/" +
        s"${graft.SparkEntry.queries.size} ok, $bad failed")
    }

    val dirE = java.nio.file.Files.createTempDirectory("graft-empty").toString
    DegenerateTables.writeEmpty(spark, src, dirE)
    sweep("empty", dirE)

    val dir1 = java.nio.file.Files.createTempDirectory("graft-one").toString
    DegenerateTables.writeSingleRow(spark, src, dir1)
    sweep("single-row", dir1)

    val dirN = java.nio.file.Files.createTempDirectory("graft-nulls").toString
    DegenerateTables.writeNullInjected(spark, src, dirN)
    sweep("null-injected", dirN)
    spark.stop()
  }
}
