package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One JVM-wide SparkSession shared by every suite (sbt forks a single
  * test JVM; a per-suite session would pay ~5s startup each). Mirrors
  * Beam's TestPipeline role (reference:
  * sdks/java/core/src/main/java/org/apache/beam/sdk/testing/TestPipeline.java).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.local(4,
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    graft.functions.GraftFunctions.register(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  /** PAssert.containsInAnyOrder analog: order-insensitive row compare. */
  def assertRows(df: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = df.collect().map(_.toSeq.map(norm)).toSeq
    val want = expected.map(_.map(norm))
    assert(got.sortBy(_.mkString("|")) == want.sortBy(_.mkString("|")),
      s"\ngot:  ${got.sortBy(_.mkString("|"))}\nwant: ${want.sortBy(_.mkString("|"))}")
  }

  private def norm(v: Any): Any = v match {
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    case f: Float => BigDecimal(f.toDouble).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    case s: collection.Seq[_] => s.map(norm).toList
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm).toList
    case other => other
  }
}
