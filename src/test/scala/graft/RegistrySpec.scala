package graft

import graft.queries.Registry

/** Catch-all conformance: every registered query must run at sf0.001 and
  * produce a resolvable schema; the flagship entry must return rows.
  * (The value-level oracle check is the driver's DuckDB gate, replicated
  * locally by scripts/check_local.py at sf0.01.) */
class RegistrySpec extends SparkSpec {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle — approx/ANN ops gate on bound/recall flags") {
    // Since round 5 there are NO rows-only entries: approximate
    // operators emit deterministic error-bound / planted-recall flags
    // the oracle asserts, so all entries hash-compare.
    val missing = Registry.all.filter(_.oracle.isEmpty)
    assert(missing.isEmpty,
      s"queries without oracle SQL: ${missing.map(_.name).mkString(", ")}")
  }

  test("every Bench.perfAnchors and Bench.calibration name is a timed registry query") {
    // BenchLineSpec and the stdout line keep only timed anchors, so an
    // anchor or probe member that stopped being timed (or was renamed)
    // would drop out without any error. Fail loudly here instead.
    val timed = Bench.timed.toSet
    val stray = (Bench.perfAnchors ++ Bench.calibration).filterNot(timed)
    assert(stray.isEmpty, s"anchor/calibration names not timed: $stray")
    val dupes = Registry.all.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate registry names: $dupes")
  }

  Registry.all.foreach { q =>
    test(s"query ${q.name} runs at sf0.001") {
      val df = q.fn(spark, sfDir)
      assert(df.schema.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("every query tolerates fully-EMPTY inputs (empty-partition robustness)") {
    // At 100 TB some split/partition/source is always empty; a fit
    // step that NPEs on a null max() or builds a zero-seed expression
    // takes the whole job down. Schema-identical empty copies of every
    // table, all queries must plan AND execute.
    graft.tools.DegenerateTables.enableNanos(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    graft.tools.DegenerateTables.writeEmpty(spark, sfDir, dir)
    val failures = Registry.all.flatMap { q =>
      try { q.fn(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"${q.name}: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("degenerate-stat and null-payload queries survive single-row and dirty-null tables") {
    // Regression guard for the graft.tools.EmptyProbe findings (the
    // full 3-variant × all-query sweep lives there, run per round):
    // n=1 fits must not divide by a zero stddev/MAD/range, and null
    // strings must not reach map keys, codecs, or record framers.
    graft.tools.DegenerateTables.enableNanos(spark)
    val one = java.nio.file.Files.createTempDirectory("graft-one").toString
    val nul = java.nio.file.Files.createTempDirectory("graft-nul").toString
    graft.tools.DegenerateTables.writeSingleRow(spark, sfDir, one)
    graft.tools.DegenerateTables.writeNullInjected(spark, sfDir, nul)
    val byName = Registry.all.map(q => q.name -> q).toMap
    for (n <- Seq("anomaly_robust_zscore", "ml_minmax_scale", "ml_zscore_scale"))
      byName(n).fn(spark, one).collect()
    for (n <- Seq("agg_to_dict", "io_tfrecord_roundtrip", "multimodal_meta"))
      byName(n).fn(spark, nul).collect()
  }
}
