package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); driver sets no env.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson())
    spark.stop()
  }

  /** `sql` as a JSON object for the driver's json.load — Jackson
    * escapes quotes, backslashes and every control character. */
  def oracleJson(sql: Map[String, String] = SparkEntry.oracleSql): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(sql.asJava)
}
