package graft

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan, Window}

import graft.queries.Registry

/** Automated scale lint over EVERY registry query's optimized plan —
  * the generalization of ScaleSpec's hand-written plan guards. At
  * 100 TB the three shapes below are the classic job-killers; each
  * query either avoids them or appears in an allowlist that documents
  * WHY its occurrence is bounded:
  *
  *  1. GLOBAL WINDOW — a logical `Window` with an empty partitionSpec
  *     funnels the whole input through one task.
  *  2. UNBOUNDED CROSS JOIN — a condition-less `Join` where neither
  *     side is provably tiny (fit artifacts aggregate to ≤1 row, which
  *     `maxRows` proves; LocalRelations are literal data).
  *  3. NON-EQUI JOIN OVER UNBOUNDED SIDES — a joined condition with no
  *     equality lowers to BroadcastNestedLoopJoin; fine against a
  *     bounded side, quadratic against two big ones.
  *
  * The lint runs on the OPTIMIZED logical plan (node types, not plan
  * strings), so it is robust to formatting and AQE section layout.
  */
class ScaleLintSpec extends SparkSpec {

  /** A side is scale-safe to replicate/broadcast when the optimizer can
    * BOUND it: literal data, or an aggregate that provably emits ≤
    * `cap` rows (global fit artifacts have maxRows = 1). */
  private def bounded(p: LogicalPlan, cap: Long = 1000L): Boolean =
    p.maxRows.exists(_ <= cap) || p.isInstanceOf[LocalRelation] ||
      p.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private def hasEquality(cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    cond.find {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    }.isDefined

  test("every registry query passes the scale lint (global windows / cross joins / theta joins)") {
    // Documented exceptions — each bounded by an explicit contract:
    val allow: Map[String, String] = Map(
      // exact O(n²) baselines kept as correctness oracles for the LSH/
      // IVF scale paths; the blocked kernel distributes the pairs
      "dedup_embedding_cosine" -> "exact pairwise baseline by contract",
      // theta/range join demo: the range side is a bounded dim by
      // construction (its contract documents the bound)
      "join_theta_range" -> "range join against a bounded side"
    )
    val failures = Registry.all.flatMap { q =>
      val plan =
        try q.fn(spark, sfDir).queryExecution.optimizedPlan
        catch {
          case e: Throwable =>
            fail(s"${q.name}: failed to plan: ${e.getMessage}")
        }
      val bad = Seq.newBuilder[String]
      plan.foreach {
        case w: Window if w.partitionSpec.isEmpty =>
          bad += "global-window (empty PARTITION BY funnels all rows to one task)"
        case j: Join if j.condition.isEmpty =>
          if (!bounded(j.left) && !bounded(j.right))
            bad += "unbounded-cross-join (neither side provably small)"
        case j: Join if j.condition.isDefined && !hasEquality(j.condition.get) =>
          if (!bounded(j.left, cap = 100000L) && !bounded(j.right, cap = 100000L))
            bad += "non-equi join over two unbounded sides (BNLJ at scale)"
        case _ => ()
      }
      val found = bad.result()
      if (found.isEmpty || allow.contains(q.name)) None
      else Some(s"${q.name}: ${found.mkString("; ")}")
    }
    assert(failures.isEmpty,
      s"scale lint failures (fix the plan or add a JUSTIFIED allowlist " +
        s"entry):\n${failures.mkString("\n")}")
    // the allowlist must not rot: every entry still names a real query
    val known = Registry.all.map(_.name).toSet
    assert(allow.keySet.subsetOf(known),
      s"stale allowlist entries: ${allow.keySet -- known}")
  }

  /** Every Scala source under src/main with its lines. */
  private def mainSources: Seq[(java.nio.file.Path, IndexedSeq[String])] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"lint must run from the repo root; cwd=${System.getProperty("user.dir")}")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq)
  }

  test("SparkSession.builder() appears only in graft/Session.scala") {
    // one builder, so every main and probe measures the bench's config
    // (master, partitions, time zone, timestamp inference)
    val calls = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder()") => s"$p:${i + 1}"
      }
    }
    assert(calls.size == 1 && calls.head.startsWith("src/main/scala/graft/Session.scala:"),
      s"build sessions through graft.Session.local; builder calls:\n${calls.mkString("\n")}")
  }

  test("read.parquet( appears under src/main only in graft/sources/Tables.scala") {
    // every table read goes through the schema memo of Tables. Allowed:
    // the table copiers, which read a source directory to rewrite it, and
    // Similarity's reads of the temp files it wrote itself
    val allow = Seq("graft/sources/Tables.scala", "graft/tools/DegenerateTables.scala",
      "graft/tools/ScaleBench.scala", "graft/operators/Similarity.scala")
    val calls = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("read.parquet(") => (p.toString, s"$p:${i + 1}")
      }
    }
    val outside = calls.collect { case (p, at) if !allow.exists(p.endsWith) => at }
    assert(outside.isEmpty,
      s"read tables through graft.sources.Tables; raw parquet reads:\n${outside.mkString("\n")}")
    // the allowlist must not rot: every entry still reads parquet
    val stale = allow.filterNot(a => calls.exists(_._1.endsWith(a)))
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("createOrReplaceTempView( appears under graft/queries only in Q.run") {
    // a registry text names its base tables, and Q.run binds them in
    // place. Allowed: views of a query's own intermediate frame, for
    // which no base table can stand
    val allow = Seq(
      "graft/queries/CurationQueries.scala" -> "\"tfr_src\"",
      "graft/queries/PipelineQueries.scala" -> "\"graft_stmt_events\"",
      "graft/queries/CoverageQueries.scala" -> "\"v_nation_raw\"")
    val calls = mainSources.filter(_._1.toString.contains("graft/queries/")).flatMap {
      case (p, lines) => lines.zipWithIndex.collect {
        case (line, i) if line.contains("createOrReplaceTempView(") => (p.toString, line, s"$p:${i + 1}")
      }
    }
    def allowed(p: String, line: String, e: (String, String)) = p.endsWith(e._1) && line.contains(e._2)
    val outside = calls.collect { case (p, line, at) if !allow.exists(allowed(p, line, _)) => at }
    assert(outside.isEmpty,
      s"run registry SQL through Q.run or Q.sql; temp views:\n${outside.mkString("\n")}")
    // the allowlist must not rot: every entry still registers a view
    val stale = allow.filterNot(e => calls.exists { case (p, line, _) => allowed(p, line, e) })
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("no flatMapGroupsWithState / mapGroupsWithState call under src/main") {
    // one per-key state API: transformWithState (streaming/StatefulV2)
    val calls = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains(".flatMapGroupsWithState(") ||
            line.contains(".mapGroupsWithState(") => s"$p:${i + 1}"
      }
    }
    assert(calls.isEmpty,
      s"use StatefulV2 (transformWithState); v1 state calls:\n${calls.mkString("\n")}")
  }

  test("at most one groupByKey(_ => 0) under src/main: the shard-merge stage") {
    // a one-key stage funnels its whole input through one task; only
    // StatefulV2.mergeShards may, because its input is O(shards)
    // summaries per batch, never the event stream
    val calls = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("groupByKey(_ => 0)") => s"$p:${i + 1}"
      }
    }
    assert(calls.size <= 1,
      s"merge global summaries through StatefulV2.mergeShards; one-key " +
        s"groupByKey calls:\n${calls.mkString("\n")}")
  }

  test("no per-window MapState pane buffer under src/main") {
    // windowed pane rows live in the append-only SessionLog: a
    // MapState[windowStart, (Seq[V], ...)] pane re-serializes the whole
    // window buffer on every touched batch, O(window) per write
    val calls = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("getMapState[Long, (Seq[") => s"$p:${i + 1}"
      }
    }
    assert(calls.isEmpty,
      s"keep pane rows in StatefulV2.SessionLog; MapState pane buffers:\n${calls.mkString("\n")}")
  }

  test("no findPrefixMatchOf tokenizer under src/main") {
    // one expression grammar in the engine: Spark SQL's. MATCH_RECOGNIZE
    // DEFINE/MEASURES go through CatalystSqlParser, so a hand-rolled
    // regex tokenizer is a second grammar. Allowed: none
    val allow = Seq.empty[String]
    val calls = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("findPrefixMatchOf") => (p.toString, s"$p:${i + 1}")
      }
    }
    val outside = calls.collect { case (p, at) if !allow.exists(p.endsWith) => at }
    assert(outside.isEmpty,
      s"parse expressions with CatalystSqlParser; regex tokenizers:\n${outside.mkString("\n")}")
    // the allowlist must not rot: every entry still tokenizes
    val stale = allow.filterNot(a => calls.exists(_._1.endsWith(a)))
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("the snapshot stamp `rev + 1L` lives only in the rev-stamped processors") {
    // one per-key snapshot protocol: a new per-key sketch is an `add`
    // and an `emit` on StatefulV2.CombineProcessor, not another
    // processor that reads, folds, writes and stamps its own state.
    // Allowed: the combine processor itself, and HeavyHittersProcessor,
    // whose counters live in a MapState written as deltas
    val allow = Seq("StatefulV2.scala" -> "CombineProcessor",
      "StatefulV2.scala" -> "HeavyHittersProcessor")
    val stamp = java.util.regex.Pattern.compile("""\brev\s*\+\s*1L\b""")
    val classDecl = """^\s*(?:final |abstract |private\[\w+\] )*class (\w+)""".r
    val stamps = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if stamp.matcher(line).find() =>
          val owner = lines.take(i).reverseIterator
            .flatMap(l => classDecl.findFirstMatchIn(l).map(_.group(1)))
            .nextOption().getOrElse("")
          (p.toString, owner, s"$p:${i + 1} (in $owner)")
      }
    }
    def allowed(p: String, owner: String) =
      allow.exists { case (f, c) => p.endsWith(f) && owner == c }
    val outside = stamps.collect { case (p, o, at) if !allowed(p, o) => at }
    assert(outside.isEmpty,
      s"stamp per-key snapshots through StatefulV2.CombineProcessor:\n${outside.mkString("\n")}")
    // the allowlist must not rot: every entry still stamps
    val stale = allow.filterNot { case (f, c) =>
      stamps.exists { case (p, o, _) => p.endsWith(f) && o == c }
    }
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("every driver-side collect in main sources declares its bound") {
    // 4th job-killer: .collect()/.head()/.first() materializes to the
    // driver — fine ONLY for provably bounded fit artifacts (a 1-row
    // agg, a limit(K) vocab, a dim table). The lint is mechanical:
    // every such call in src/main must carry a `bounded:` comment on
    // the same or one of the 3 preceding lines stating the bound, so a
    // new unbounded collect cannot land silently. tools/ (dev probes,
    // never on a query path) is excluded.
    val call = java.util.regex.Pattern.compile(
      """\.(collect\(\)|head\(\)|first\(\)|collectAsList\(\))""")
    val offenders = mainSources
      .filterNot(_._1.toString.contains("/tools/"))
      .flatMap { case (p, lines) =>
        lines.zipWithIndex.collect {
          case (line, i)
              if call.matcher(line).find() &&
                !(i - 3 to i).exists(j =>
                  j >= 0 && lines(j).contains("bounded:")) =>
            s"$p:${i + 1}: ${line.trim.take(80)}"
        }
      }
    assert(offenders.isEmpty,
      "driver-side collect without a `bounded:` justification (state the " +
        s"bound or distribute the work):\n${offenders.mkString("\n")}")
  }
}
