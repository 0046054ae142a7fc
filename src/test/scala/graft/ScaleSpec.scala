package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Scale-shape specs: physical-plan properties that matter at 100 TB —
  * bucketed co-located joins (no exchange), salted aggregation
  * equivalence, broadcast thresholds, and pipeline metrics
  * (Beam Metrics → df.observe / Observation).
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .saveAsTable("bucketed_a")
    df.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .saveAsTable("bucketed_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketed_a")
        .join(spark.table("bucketed_b"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("saltedAgg equals direct aggregation on skewed keys") {
    // 3 distinct keys over 10k rows — the pathological skew shape
    val df = spark.range(10000)
      .select((col("id") % 3).cast("string").as("k"), col("id").as("v"))
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"), max("v").as("mx"))
      .collect().map(_.toSeq).toSet
    val salted = Relational.saltedAgg(df, Seq(col("k")), fanout = 8,
        stage1Aggs = Seq(sum("v").as("s"), count(lit(1)).as("n"),
          max("v").as("mx")),
        stage2Aggs = Seq(sum("s").as("s"), sum("n").as("n"),
          max("mx").as("mx")))
      .collect().map(_.toSeq).toSet
    assert(salted == direct)
  }

  test("saltedAgg stage 1 spreads a hot key over multiple salts") {
    val df = spark.range(10000).repartition(4)
      .select(lit("hot").as("k"), col("id").as("v"))
    val salts = df.withColumn("__salt",
        pmod(hash(spark_partition_id(), monotonically_increasing_id()), lit(8)))
      .select("__salt").distinct().count()
    assert(salts > 1, "salt must fan the hot key out")
  }

  test("observe collects pipeline metrics (Beam Counter/Distribution analog)") {
    val obs = org.apache.spark.sql.Observation("li_metrics")
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .observe(obs, count(lit(1)).as("rows"),
        sum("l_quantity").as("total_qty"),
        max("l_extendedprice").as("max_price"))
    val n = df.count()
    val m = obs.get
    assert(m("rows") == n)
    assert(m("total_qty").asInstanceOf[Double] > 0)
  }

  test("Metrics counter/distribution update from inside user code (Beam Metrics API)") {
    // the imperative half of Beam's metrics story: counters updated
    // from INSIDE a mapPartitions body, merged across 8 partitions
    import graft.operators.Metrics
    val rows = Metrics.counter(spark, "graft", "rows_processed")
    val dist = Metrics.distribution(spark, "graft", "id_dist")
    val n = spark.range(1000).repartition(8).as[Long]
      .mapPartitions { it => it.map { v => rows.add(1); dist.add(v); v } }
      .count()
    assert(n == 1000 && rows.value == 1000)
    assert(dist.value == (499500L, 1000L, 0L, 999L), s"dist=${dist.value}")
    assert(math.abs(dist.mean - 499.5) < 1e-9)
    // empty distribution reports Beam's empty result, not MaxValue noise
    assert(new Metrics.DistributionAcc().value == (0L, 0L, 0L, 0L))
    // gauge: last-writer-wins across executor merges — every partition
    // reports, the driver reads ONE of the reported values (not a sum),
    // and a local merge of two gauges keeps the later stamp
    val ver = Metrics.gauge(spark, "graft", "model_version")
    spark.range(100).repartition(8).as[Long]
      .mapPartitions { it => ver.set(7L); it }
      .count()
    assert(ver.value == 7L, s"gauge=${ver.value}")
    val a = new Metrics.GaugeAcc
    a.set(1L)
    val b = new Metrics.GaugeAcc
    b.set(2L)
    a.merge(b)
    assert(a.value == 2L) // b stamped later
    assert(new Metrics.GaugeAcc().value == 0L) // empty reads 0 (Beam empty)
  }

  test("session_window supports per-row dynamic gaps (Sessions.withGap analog)") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // short gap for 'fast' keys, long for 'slow' — gap as an expression
    val df = Seq(("fast", t(0)), ("fast", t(3)), ("slow", t(10)), ("slow", t(13)))
      .toDF("k", "ts")
    val gap = when(col("k") === "fast", "2 minutes").otherwise("5 minutes")
    val sessions = df.groupBy(session_window(col("ts"), gap), col("k"))
      .agg(count(lit(1)).as("n"))
      .select("k", "n").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // fast: 3min between events > 2min gap → two 1-event sessions;
    // slow: 3min between events < 5min gap → one 2-event session
    assert(sessions.sorted == Seq(("fast", 1L), ("fast", 1L), ("slow", 2L)),
      s"got $sessions")
  }

  test("repartition redistributes into the requested partition count (Reshuffle)") {
    val df = spark.range(1000).repartition(13)
    assert(df.rdd.getNumPartitions == 13)
    val rebalanced = spark.range(1000).coalesce(1).repartition(4)
    assert(rebalanced.rdd.getNumPartitions == 4)
    assert(rebalanced.count() == 1000)
  }

  test("HLL sketches are mergeable bytes (HllCount.MergePartial analog)") {
    // Beam HllCount: Init → sketch bytes, MergePartial → union, Extract
    // → estimate. Spark: hll_sketch_agg / hll_union_agg /
    // hll_sketch_estimate over binary sketch columns.
    val a = spark.range(0, 1000).selectExpr("hll_sketch_agg(id) AS sk")
    val b = spark.range(500, 1500).selectExpr("hll_sketch_agg(id) AS sk")
    val merged = a.unionAll(b)
      .selectExpr("hll_sketch_estimate(hll_union_agg(sk)) AS est")
      .collect().head.getLong(0)
    // 1500 distinct with HLL default accuracy ~±2%
    assert(merged > 1400 && merged < 1600, s"estimate $merged out of range")
  }

  test("approx_percentile values sit within rank-error bound of exact percentiles") {
    // value-tests the agg_approx_quantiles registry entry (rows-only at
    // the oracle gate: approximate values are engine-specific)
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val rows = li.groupBy("l_linestatus").agg(
      expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000)").as("aq"),
      expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("ex"),
      count(lit(1)).as("n"))
      .as[(String, Seq[Double], Seq[Double], Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, aq, ex, n) =>
      // accuracy 1000 bounds rank error by n/1000; translate to a value
      // bound via the worst-case quantity spread per rank (<= 1 here:
      // quantities are dense integers 1..50)
      val tol = math.max(1.0, n / 1000.0 * 2)
      aq.zip(ex).foreach { case (a, e) =>
        assert(math.abs(a - e) <= tol, s"approx $a vs exact $e (n=$n)")
      }
    }
  }

  test("t-digest quantiles within rank bound; sketch size O(compression) not O(n)") {
    graft.functions.GraftFunctions.register(spark)
    // log-normal-ish skewed data, 100k values over 32 partitions: the
    // digest must survive partial-aggregate MERGING across partitions
    val df = spark.range(100000).repartition(32)
      .select(exp((col("id") % 9973).cast("double") / 2000.0).as("x"))
    val row = df.agg(
      expr("tdigest_agg(x, 200)").as("sk"),
      expr("percentile(x, array(0.09,0.11, 0.49,0.51, 0.89,0.91, 0.985,0.995))").as("ex"))
      .select(expr("tdigest_quantile(sk, 0.1d)"), expr("tdigest_quantile(sk, 0.5d)"),
        expr("tdigest_quantile(sk, 0.9d)"), expr("tdigest_quantile(sk, 0.99d)"),
        size(col("sk")), col("ex"))
      .collect().head
    val ex = row.getSeq[Double](5)
    assert(row.getDouble(0) >= ex(0) && row.getDouble(0) <= ex(1), "q10")
    assert(row.getDouble(1) >= ex(2) && row.getDouble(1) <= ex(3), "q50")
    assert(row.getDouble(2) >= ex(4) && row.getDouble(2) <= ex(5), "q90")
    // tails are t-digest's strength: ±0.5% rank at q99
    assert(row.getDouble(3) >= ex(6) && row.getDouble(3) <= ex(7), "q99")
    // centroid bound: ~O(compression·log n), nowhere near n
    assert(row.getInt(4) < 4000, s"sketch too large: ${row.getInt(4)}")
  }

  test("approx_count_distinct within rsd bound of exact distinct count") {
    // value-tests the agg_approx_distinct registry entry
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val (approx, exact) = li.agg(
      approx_count_distinct(col("l_orderkey"), rsd = 0.05).as("a"),
      countDistinct(col("l_orderkey")).as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.15,
      s"approx $approx vs exact $exact")
  }

  test("hll estimate within 5% of exact distinct count") {
    // value-tests the agg_hll_sketch registry entry
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val rows = li.groupBy("l_returnflag").agg(
      expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey))").as("est"),
      countDistinct(col("l_orderkey")).as("exact"))
      .as[(String, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, est, exact) =>
      assert(math.abs(est - exact) / exact < 0.05, s"hll $est vs $exact")
    }
  }

  test("scan splits scale with maxPartitionBytes (Splittable-DoFn analog)") {
    // Beam's Splittable DoFn exists to subdivide a source into
    // checkpointable restrictions; Spark's DSv2 file scan does the
    // same split planning from maxPartitionBytes — more budget → more
    // parallel, independently-schedulable splits of one file.
    val conf = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(conf)
    def partsAt(bytes: String): Int = {
      spark.conf.set(conf, bytes)
      spark.read.parquet(s"$sfDir/../sf0.1/lineitem.parquet")
        .rdd.getNumPartitions
    }
    try {
      val coarse = partsAt("128m")
      val fine = partsAt("64k")
      assert(fine > coarse,
        s"expected more splits at 64k ($fine) than 128m ($coarse)")
    } finally spark.conf.set(conf, prev)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB fact-fact join story: when neither side broadcasts, a
    // selective filter on one side should inject a runtime BLOOM
    // filter that drops non-matching fact rows BEFORE the shuffle —
    // Spark's runtime-filter optimizer rule. This pins the behavior
    // (and the configs that enable it) so the capability is on record.
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // fact-fact: no broadcast
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = overrides.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val urgent = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("might_contain"),
        "no runtime bloom filter injected on the probe side")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning limits the fact scan to the dim's partitions") {
    // The other half of the 100 TB pruning story: when the fact table
    // is PARTITIONED on the join key and the dim side is filtered, the
    // fact scan must receive a runtime partition filter from the dim's
    // broadcast (DPP) — reading 3 of 50 directories instead of the
    // whole table. Static pushdown can't do this: the surviving dim
    // keys only exist at runtime.
    // both sides must be file-backed: a LocalRelation dim would be
    // constant-folded before the DPP rule runs and no filter survives
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    spark.range(10000)
      .select((col("id") % 50).cast("int").as("day"), col("id").as("v"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/fact")
    (0 until 50).map(d => (d, if (d < 3) "keep" else "drop"))
      .toDF("day", "tag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "keep")
    val q = spark.read.parquet(s"$dir/fact")
      .join(broadcast(dim), "day")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan carries no dynamic partition filter:\n$plan")
    // days 0,1,2 × 200 rows each; sum of ids ≡ 0,1,2 (mod 50)
    val row = q.collect().head
    assert(row.getLong(0) == 600)
  }


  test("flagship plans keep their audited shapes (plan-regression guard)") {
    def plan(name: String): String =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
    // TPC-H Q5: dims broadcast, region filter reaches the scan
    val q5 = plan("agg_tpch_q5")
    assert(q5.contains("BroadcastHashJoin"), "q5 lost its broadcast joins")
    assert(q5.contains("EqualTo(r_name,ASIA)"), "q5 region filter not pushed down")
    // Q4: EXISTS stays a semi join (no row multiplication)
    assert(plan("agg_tpch_q4").contains("LeftSemi"), "q4 lost the semi join")
    // vocab fit artifact: broadcast join, NO global rank window
    val vocab = plan("text_vocab_ids")
    assert(vocab.contains("BroadcastHashJoin"), "vocab join not broadcast")
    assert(!vocab.contains("Window "), s"vocab regained a rank window")
    // global top-k must be TakeOrdered (per-partition heaps), not a sort
    assert(plan("topk_global").contains("TakeOrderedAndProject"),
      "topk_global lost TakeOrderedAndProject")
    // Q6: predicates reach the parquet scan
    assert(plan("agg_tpch_q6").contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "q6 lost scan pushdown")
    // Q19: Catalyst decomposes the 3-branch disjunction per table and
    // pushes each side down to its scan (quantity → lineitem,
    // brand/size → part) — visible as scan-level DataFilters
    val q19Scans = plan("agg_tpch_q19").linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    assert(q19Scans.exists(l => l.contains("[l_partkey") &&
        l.contains("l_quantity") && l.contains(">= 1.0")),
      "q19 quantity disjunction no longer pushed to the lineitem scan")
    // the derived p_size >= 1 bound exists ONLY because Catalyst
    // decomposed the disjunction per table; it prints at the head of
    // the scan's DataFilters so it survives plan-string truncation
    // (the Brand#12 literal further down the list does not, depending
    // on expr-id widths)
    assert(q19Scans.exists(l => l.contains("isnotnull(p_size") &&
        l.contains(">= 1)")),
      "q19 size/brand disjunction no longer pushed to the part scan")
    // Q21: top-20 must be TakeOrdered; EXISTS/NOT-EXISTS rewrite keeps
    // semi joins (no row multiplication against lineitem)
    val q21 = plan("agg_tpch_q21")
    assert(q21.contains("TakeOrderedAndProject"), "q21 lost TakeOrdered")
    assert(q21.contains("LeftSemi"), "q21 lost its semi joins")
    // Q2: the correlated min is ONE window over the candidate set, not
    // a second evaluation of the whole join subtree
    val q2 = plan("agg_tpch_q2")
    assert(q2.contains("Window"), "q2 lost the min-cost window")
    assert("Scan parquet".r.findAllIn(q2).size <= 5,
      "q2 re-scans inputs: candidate subtree evaluated more than once")
    // anomaly detectors: fit artifacts must come back via broadcast,
    // never a shuffle of the events fact table against tiny fit rows
    val rz = plan("anomaly_robust_zscore")
    assert(rz.contains("BroadcastHashJoin"), "robust_zscore fit not broadcast")
    assert(!rz.contains("SortMergeJoin"), "robust_zscore shuffles the fact side")
    // int8 quantization is a pure per-row projection: no exchange at all
    assert(!plan("vec_quantize_int8").contains("Exchange"),
      "vec_quantize_int8 gained a shuffle")
    // pivot with pinned values: Spark's two-phase shape — partial-agg
    // on (key, pivot-col) then pivot-agg on key; both exchanges carry
    // only aggregated rows, never the raw fact table
    val piv = plan("pivot_wide")
    assert(piv.contains("HashAggregate"), "pivot lost hash aggregation")
    assert("Exchange".r.findAllIn(piv).size <= 2, "pivot gained extra shuffles")
    // MLTransform fits come back via broadcast (BroadcastNestedLoopJoin
    // for the single-row cross join), never a shuffle of orders
    val zs = plan("ml_zscore_scale")
    assert(zs.contains("Broadcast"), "zscore fit not broadcast")
    assert(!zs.contains("SortMergeJoin"), "zscore shuffles the fact side")
    // interpolated buckets are a pure codegen projection: no exchange
    assert(!plan("ml_buckets_interp").contains("Exchange"),
      "ml_buckets_interp gained a shuffle")
    // bag-of-words: two-level aggregation — partial aggs before BOTH
    // exchanges, and no count-distinct expand
    val bow = plan("ml_ngrams_bow")
    assert("Exchange".r.findAllIn(bow).size <= 2, "bow gained extra shuffles")
    assert(!bow.contains("Expand"), "bow regressed to count-distinct expand")
    // per-row token dedup: zero shuffles
    assert(!plan("ml_dedupe_row_tokens").contains("Exchange"),
      "ml_dedupe_row_tokens gained a shuffle")
    // per-key inference is a pure mapPartitions pass: no exchange
    assert(!plan("ml_inference_per_key").contains("Exchange"),
      "ml_inference_per_key gained a shuffle")
    // C4 span dedup: exactly the documented inverted-index shape — one
    // exchange on the span value (window min) + one on the doc key
    // (reassembly agg); anything more means the span frequency started
    // materializing pairwise or the reassembly gained a sort
    val c4 = plan("text_c4_span_dedup")
    assert("Exchange".r.findAllIn(c4).size <= 2, s"c4 gained shuffles:\n$c4")
    assert(c4.contains("Window"), "c4 lost the first-occurrence window")
    // BMP decode is mapPartitions-only: no exchange at all
    assert(!plan("multimodal_decode_bmp").contains("Exchange"),
      "multimodal_decode_bmp gained a shuffle")
    // t-digest: imperative-sketch aggregate runs partial+final (only
    // centroids cross the exchange), via ObjectHashAggregate
    val td = plan("agg_tdigest_quantiles")
    assert(td.contains("ObjectHashAggregate"),
      "tdigest lost the imperative-aggregate path")
    assert("Exchange".r.findAllIn(td).size <= 1, "tdigest gained shuffles")
    // spill-safe secondary sort: ONE exchange, sort rides it
    val svs = plan("sortvalues_streamed")
    assert("Exchange".r.findAllIn(svs).size == 1,
      "sortvalues_streamed should shuffle exactly once")
    assert(svs.contains("Sort "), "sortvalues_streamed lost its sort")
    // hybrid skew join: hot-key tags arrive via BROADCAST on both
    // sides, and the two tiers recombine in a Union
    val hyb = plan("join_skew_hybrid")
    assert(hyb.contains("BroadcastHashJoin"), "hybrid hot-tag not broadcast")
    assert(hyb.contains("Union"), "hybrid lost its two-tier union")
    // EWMA: a sorted per-key SCAN (one shuffle, spill-safe sort) — a
    // Window formulation would be the O(n²)-or-explosive shape
    val ewma = plan("window_ewma")
    assert(!ewma.contains("Window "), "ewma regained a window operator")
    assert("Exchange".r.findAllIn(ewma).size == 1,
      "ewma should shuffle exactly once")
    assert(ewma.contains("Sort "), "ewma lost its group sort")
    // TPC-DS q3 analog: the dimension filter reaches the part scan
    // (classic star-join pruning — the fact join must see only PROMO
    // parts, not post-filter)
    val ds3 = plan("agg_tpcds_q3")
    assert(ds3.contains("EqualTo(p_type,PROMO)"),
      "tpcds q3 part filter not pushed to the scan")
    // TPC-DS q88 analog: eight conditional counts collapse to ONE
    // aggregation pass — a single exchange, no expand, no union
    val ds88 = plan("agg_tpcds_q88")
    assert("Exchange".r.findAllIn(ds88).size <= 1 &&
      !ds88.contains("Union"),
      "tpcds q88 no longer a single conditional-aggregation pass")
    // TPC-DS q67 analog: rollup + rank = one aggregation (Expand) and
    // one window, never a re-scan per grouping level
    val ds67 = plan("agg_tpcds_q67")
    assert("Scan parquet".r.findAllIn(ds67).size <= 2,
      "tpcds q67 re-scans inputs per rollup level")
    assert(ds67.contains("Window"), "tpcds q67 lost the rank window")
    // TPC-DS q1 analog: the decorrelated per-nation average (25 rows)
    // joins back via BROADCAST — the counts frame is never reshuffled
    // for the comparison
    val ds1 = plan("agg_tpcds_q1")
    assert(ds1.contains("BroadcastHashJoin"),
      "tpcds q1 nation-average join not broadcast")
    // TPC-DS q17 analog: since the r19 single-fact fusion, BOTH branch
    // aggregates fold into ONE li⋈ord pass with conditional sums — the
    // contract is now exactly one fact scan pair (2 scans), one
    // (partkey, custkey) aggregation, and NO branch-merge join; the
    // line-level multiplicity guard (no cartesian) stands
    val ds17 = plan("agg_tpcds_q17")
    assert("Scan parquet".r.findAllIn(ds17).size <= 3,
      "tpcds q17 re-scans a fact branch (single-pass fusion lost)")
    assert("SortMergeJoin".r.findAllIn(ds17).isEmpty ||
      "Exchange".r.findAllIn(ds17).size <= 3,
      "tpcds q17 regrew a branch-merge join")
    assert(!ds17.contains("CartesianProduct"),
      "tpcds q17 degenerated to a cross product")
    // TPC-DS q78 analog: since the r20 single-pass rewrite the
    // returned-pairs exclusion is a window max over the
    // (o_custkey, l_partkey) partition on ONE li⋈ord pass — the
    // contract is one lineitem scan (no forked fact chain), the
    // exclusion window present, and no anti join / no NOT-IN trap.
    // Scans are counted as file-scan NODES over the lineitem relation
    // in the final adaptive plan, so the guard cannot pass at zero
    val ds78 = plan("agg_tpcds_q78")
    assert(ds78.contains("Window"),
      "tpcds q78 lost the returned-pair exclusion window")
    val q78 = graft.SparkEntry.queries("agg_tpcds_q78")(spark, sfDir)
    q78.collect()
    val liScans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(q78.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => s
      }
    assert(liScans.size == 1,
      s"tpcds q78 should scan lineitem once, found ${liScans.size} scan nodes")
    assert(!ds78.contains("LeftAnti"),
      "tpcds q78 regressed to the two-pass anti-join form")
    // TPC-DS q62 analog: four lateness bands in ONE conditional-agg
    // pass over one join — no per-band re-scan, no union
    val ds62 = plan("agg_tpcds_q62")
    assert("Scan parquet".r.findAllIn(ds62).size <= 2 &&
      !ds62.contains("Union"),
      "tpcds q62 no longer a single conditional-aggregation pass")
    // TPC-DS q2/q59 analogs: the WITH-chain (monthly-sales frame) is
    // consumed twice through a self-join — the frame's aggregation
    // exchange must materialize ONCE and be REUSED by the second
    // consumer (at 100x the frame is worth computing exactly once),
    // not re-run the whole star join per CTE reference. Reuse is an
    // AQE runtime decision (ReusedExchange / reused query stage), so
    // execute and read the FINAL plan, as the hybrid-join guard does.
    def finalPlan(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    assert(finalPlan("agg_tpcds_q2").contains("Reused"),
      "tpcds q2 CTE self-join recomputes the monthly frame")
    assert(finalPlan("agg_tpcds_q59").contains("Reused"),
      "tpcds q59 CTE self-join recomputes the monthly frame")
    // TPC-DS q31 analog: SIX consumers of one quarterly aggregate —
    // the exchange must be reused, not the star join re-run per slice
    assert(finalPlan("agg_tpcds_q31").contains("Reused"),
      "tpcds q31 six-way CTE reuse lost")
    // TPC-DS q89/q98 analogs: window-over-aggregate in ONE pass — a
    // single windowed re-sort of the aggregate, never an input re-scan
    val ds89 = plan("agg_tpcds_q89")
    assert(ds89.contains("Window") &&
      "Scan parquet".r.findAllIn(ds89).size <= 3,
      "tpcds q89 deviation window no longer a single pass")
    val ds98 = plan("agg_tpcds_q98")
    assert(ds98.contains("Window") &&
      "Scan parquet".r.findAllIn(ds98).size <= 2,
      "tpcds q98 ratio-to-report no longer a single pass")
    // TPC-DS q21 analog: the before/after split is ONE conditional-agg
    // scan of the fact — never two passes unioned or re-joined
    val ds21 = plan("agg_tpcds_q21")
    assert("Scan parquet".r.findAllIn(ds21).size <= 3 &&
      !ds21.contains("Union"),
      "tpcds q21 no longer a single conditional-aggregation pass")
    // TPC-DS q35 analog: presence/absence stays semi/anti KEY-SET
    // joins — two left-semis, one left-anti, no correlated re-probe,
    // no cartesian
    val ds35 = plan("agg_tpcds_q35")
    assert("LeftSemi".r.findAllIn(ds35).size == 2 &&
      ds35.contains("LeftAnti") && !ds35.contains("CartesianProduct"),
      "tpcds q35 lost its semi/anti key-set join shape")
    // TPC-DS q39 analog: the variance filter runs INSIDE the monthly
    // aggregate (partial+final agg, then an equi self-join) — the
    // erratic-supplier test must not become a window or a re-scan of
    // the fact per month beyond the two month branches
    val ds39 = plan("agg_tpcds_q39")
    assert("Scan parquet".r.findAllIn(ds39).size <= 2 &&
      !ds39.contains("CartesianProduct"),
      "tpcds q39 re-scans the fact or lost the equi self-join")
    // TPC-DS q95 analog: the multi-supplier EXISTS and the returns
    // exclusion FUSE into one fact aggregate feeding a single
    // left-semi — exactly one lineitem scan, never a fact-to-fact
    // correlated probe
    val ds95 = plan("agg_tpcds_q95")
    assert(ds95.contains("LeftSemi") &&
      "Scan parquet".r.findAllIn(ds95).size <= 2,
      "tpcds q95 lost its fused single-scan semi shape")
    // TPC-DS q75 analog: the yearly (year, brand) frame is one plan
    // subtree consumed by both sides of the YoY self-join — assert the
    // aggregation exchange materializes once and is reused (AQE
    // runtime decision, so read the final plan)
    assert(finalPlan("agg_tpcds_q75").contains("Reused"),
      "tpcds q75 YoY self-join recomputes the yearly frame")
    // TPC-DS q64 analog: the deep cross_sales chain (refund key-set
    // semi + four-way star + per-(part, nation, year) aggregate) is
    // consumed by BOTH sides of the two-year self-join — its
    // aggregation exchange must materialize once and be REUSED (AQE
    // runtime decision → final plan), and the scan budget stays at
    // the chain's own tables (2x lineitem for the self-derived key
    // set + orders + part + supplier + nation), never doubled per
    // consumer
    val ds64final = finalPlan("agg_tpcds_q64")
    assert(ds64final.contains("Reused"),
      "tpcds q64 self-join recomputes the cross_sales chain")
    assert("Scan parquet".r.findAllIn(ds64final).size <= 6 &&
      !ds64final.contains("CartesianProduct"),
      "tpcds q64 scan budget exceeded or cross product appeared")
    // TPC-DS q65 analog: the per-store average is a WINDOW over the
    // (store, item) revenue aggregate — the fact is scanned ONCE by
    // construction (the textbook CTE self-join forks under per-
    // consumer pruning); total scans = fact + the two dim join-backs
    val ds65 = plan("agg_tpcds_q65")
    assert(ds65.contains("Window") &&
      "Scan parquet".r.findAllIn(ds65).size <= 3 &&
      !ds65.contains("CartesianProduct"),
      "tpcds q65 no longer the single-fact-scan window form")
    // TPC-DS q4 analog: FOUR cells (year × channel) from ONE
    // conditional-agg scan — no self-join, no union, no division
    val ds4 = plan("agg_tpcds_q4")
    assert("Scan parquet".r.findAllIn(ds4).size == 1 &&
      !ds4.contains("Join") && !ds4.contains("Union"),
      "tpcds q4 no longer a single conditional-aggregation pass")
    // Cohort retention: the first-purchase month is a window MIN over
    // the custkey partition — exactly ONE fact scan, no join at all
    // (the aggregate-then-re-join form scans twice)
    val coh = plan("agg_cohort_retention")
    assert("Scan parquet".r.findAllIn(coh).size == 1 &&
      !coh.contains("Join") && coh.contains("Window"),
      "cohort retention no longer a single-scan window plan")
    // SCD2 history: both window passes share ONE custkey shuffle — the
    // second pass re-sorts the same partitioning, it must not add an
    // exchange (nor a join: change-compression is pure windows)
    val scd = plan("scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(scd).size == 1 &&
      "Scan parquet".r.findAllIn(scd).size == 1,
      "scd2 history no longer single-shuffle/single-scan")
    // Data-quality profile: one scan; count-distincts legitimately
    // expand the aggregation but must never self-join the corpus
    val dq = plan("pipeline_data_quality")
    assert("Scan parquet".r.findAllIn(dq).size == 1 &&
      !dq.contains("Join"),
      "data-quality profile no longer a single-scan aggregation")
    // ===== round 17 TPC-DS analogs =====
    // q77: union of per-channel JOINED AGGREGATES + rollup — the
    // rollup (Expand) runs over the tiny per-channel aggregate union,
    // never over fact rows, and the channel sales/returns frames meet
    // in joins, not a re-scan per rollup level
    val ds77 = plan("agg_tpcds_q77")
    assert(ds77.contains("Expand") && ds77.contains("Union") &&
      !ds77.contains("CartesianProduct"),
      "tpcds q77 lost its union-of-joined-aggregates + rollup shape")
    // q57: TWO window frames (yearly sum/count + ordered lag/lead)
    // over ONE monthly aggregate — no fact re-scan per frame
    val ds57 = plan("agg_tpcds_q57")
    assert("Window".r.findAllIn(ds57).size >= 2 &&
      "Scan parquet".r.findAllIn(ds57).size <= 3,
      "tpcds q57 deviation bands no longer window-over-one-aggregate")
    // q10: the EXISTS tree stays two semi KEY-SET joins (period AND
    // either-big), no anti, no correlated re-probe
    val ds10 = plan("agg_tpcds_q10")
    assert("LeftSemi".r.findAllIn(ds10).size == 2 &&
      !ds10.contains("CartesianProduct"),
      "tpcds q10 lost its two-semi-join profile shape")
    // q54: cohort semi-join + TWO aggregation grains (per-customer
    // spend, then per-segment count) — the orders fact scans at most
    // twice (cohort keyset + spend window), never per segment
    val ds54 = plan("agg_tpcds_q54")
    assert(ds54.contains("LeftSemi") &&
      "Scan parquet".r.findAllIn(ds54).size <= 2,
      "tpcds q54 segment histogram re-scans the fact")
    // q70: the top-5 nation pre-selection is a TakeOrdered over a
    // 25-row aggregate broadcast back as a semi key set — never a
    // global sort or rank window over fact rows
    val ds70 = plan("agg_tpcds_q70")
    assert(ds70.contains("TakeOrdered") &&
      ds70.contains("BroadcastHashJoin") && ds70.contains("Expand") &&
      !ds70.contains("Window"),
      "tpcds q70 ranked pre-selection no longer TakeOrdered + broadcast semi")
    // q44: best/worst are two opposite TakeOrdered(10)s — never a
    // global rank window — and the per-part aggregate they both
    // consume must materialize once and be REUSED (AQE, final plan)
    val ds44 = plan("agg_tpcds_q44")
    assert("TakeOrdered".r.findAllIn(ds44).size == 2 &&
      !ds44.contains("Window"),
      "tpcds q44 dual ranking no longer two TakeOrdered cuts")
    assert(finalPlan("agg_tpcds_q44").contains("Reused"),
      "tpcds q44 recomputes the per-part aggregate per ranking")
    // q22: all four rollup levels through ONE Expand over one fact
    // pass — never a scan or union per level
    val ds22 = plan("agg_tpcds_q22")
    assert(ds22.contains("Expand") && !ds22.contains("Union") &&
      "Scan parquet".r.findAllIn(ds22).size <= 2,
      "tpcds q22 average rollup re-scans per grouping level")
    // q36: the lochierarchy rank is ONE window over the rollup
    // aggregate (Expand) — the fact is never re-sorted or re-scanned
    val ds36 = plan("agg_tpcds_q36")
    assert(ds36.contains("Expand") && ds36.contains("Window") &&
      "Scan parquet".r.findAllIn(ds36).size <= 2,
      "tpcds q36 lost its window-over-rollup shape")
    // q68: the dim≠dim cohort test is a conditional aggregate inside
    // ONE order-grain aggregation — exactly one lineitem scan, no
    // keyset semi pre-pass, no join-back for the names
    val ds68 = plan("agg_tpcds_q68")
    assert("Scan parquet".r.findAllIn(ds68).size <= 5 &&
      !ds68.contains("LeftSemi") && !ds68.contains("CartesianProduct"),
      "tpcds q68 regained a second pass over the fact")
    // q87: the EXCEPT chain plans as two anti key-set joins over
    // distinct sets — never a nested-loop or a re-scan per branch
    val ds87 = plan("agg_tpcds_q87")
    assert("LeftAnti".r.findAllIn(ds87).size == 2 &&
      !ds87.contains("CartesianProduct"),
      "tpcds q87 EXCEPT chain lost its two-anti-join shape")
    // q97: the overlap matrix is ONE full-outer key join + one
    // aggregation — never unioned per-quadrant scans
    val ds97 = plan("agg_tpcds_q97")
    assert(ds97.contains("FullOuter") && !ds97.contains("Union"),
      "tpcds q97 overlap matrix lost its single full-outer form")
    // q45: the disjunctive admission is an existence join against the
    // distinct buyer key set + ONE filter — the fact is never
    // scanned twice and unioned to express the OR
    val ds45 = plan("agg_tpcds_q45")
    assert(!ds45.contains("Union") && !ds45.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds45).size <= 6,
      "tpcds q45 disjunctive admission no longer a single-pass left-join form")
    // q66: the 12-month horizontal pivot is ONE aggregation pass —
    // thirteen conditional sums, never a scan or union per month
    val ds66 = plan("agg_tpcds_q66")
    assert("Scan parquet".r.findAllIn(ds66).size <= 3 &&
      !ds66.contains("Union") && !ds66.contains("Expand"),
      "tpcds q66 wide pivot no longer a single conditional-agg pass")
    // Nexmark Q8 batch analog: the per-kind presence tests are
    // conditional flags in ONE (user, window) aggregation — exactly
    // one fact scan, no self-join of distinct sets
    val q8b = plan("win_new_users")
    assert("Scan parquet".r.findAllIn(q8b).size == 1 &&
      !q8b.contains("Join"),
      "win_new_users regained the two-scan distinct-sets self-join")
    // the per-right grain (r18): SAME one-pass CoGBK — one scan, the
    // right list exploded post-agg (Generate), still no join
    val q8p = plan("win_new_users_pairs")
    assert("Scan parquet".r.findAllIn(q8p).size == 1 &&
      q8p.contains("Generate") && !q8p.contains("Join"),
      "win_new_users_pairs lost the one-pass agg+explode shape")
    // q11 (r18): two-channel year-over-year — each channel pivots to
    // (y1, y2) in its own single agg pass BEFORE the per-customer
    // join; the dim joins back after the filter. Four scans max
    // (orders x2, lineitem, customer), never a union-per-cell or a
    // cartesian
    val ds11 = plan("agg_tpcds_q11")
    assert(!ds11.contains("Union") && !ds11.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds11).size <= 4,
      "tpcds q11 channel compare no longer two pivoted aggs + one join")
    // q30 (r18): the per-group-average decorrelation runs via WINDOW
    // functions over the per-customer frame — no re-aggregate, no
    // extra join for the average
    val ds30 = plan("agg_tpcds_q30")
    assert(ds30.contains("Window") && !ds30.contains("Union") &&
      "Scan parquet".r.findAllIn(ds30).size <= 4,
      "tpcds q30 lost the window decorrelation (re-agg or re-scan crept in)")
    // q93 (r18): returns pre-aggregate to (orderkey, partkey) BEFORE
    // the fact-fact left join — the replacement CASE rides the join's
    // null flag; three scans (lineitem x2, orders), no cartesian
    val ds93 = plan("agg_tpcds_q93")
    assert(!ds93.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds93).size <= 3,
      "tpcds q93 returns-adjusted join re-scans or multiplies the fact")
    // q99 (r18): the (nation x month x 5-band) pivot grid is ONE
    // conditional-agg pass — dims broadcast, no expand/union per band
    val ds99 = plan("agg_tpcds_q99")
    assert(ds99.contains("BroadcastHashJoin") && !ds99.contains("Union") &&
      !ds99.contains("Expand") &&
      "Scan parquet".r.findAllIn(ds99).size <= 4,
      "tpcds q99 pivot grid no longer a single broadcast-star agg pass")
    // q58 (r18): two pre-aggregated channel passes joined at part
    // grain — the mutual ±10% band is a post-join filter, never a
    // range-join explosion or a union
    val ds58 = plan("agg_tpcds_q58")
    assert(!ds58.contains("Union") && !ds58.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds58).size <= 2,
      "tpcds q58 mutual-band compare no longer two agg passes + one join")
    // q92 (r18): the fact-side correlated average decorrelates to a
    // part-grain aggregate joined back to the windowed fact — the
    // ship-date window must reach BOTH scans as a pushed filter
    val ds92 = plan("agg_tpcds_q92")
    assert(!ds92.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds92).size <= 2 &&
      ds92.contains("GreaterThanOrEqual(l_shipdate"),
      "tpcds q92 excess-discount lost the pushed date window or re-scans")
    // q13 (r18): the OR-of-three-bands disjunction is ONE scan
    // predicate — never three unioned passes over the fact
    val ds13 = plan("agg_tpcds_q13")
    assert(!ds13.contains("Union") &&
      "Scan parquet".r.findAllIn(ds13).size <= 3,
      "tpcds q13 disjunctive bands no longer a single filtered pass")
    // q61 (r18): the two correlated scalar subqueries FUSE into one
    // conditional aggregate — one lineitem scan, no self-join of the
    // same slice
    val ds61 = plan("agg_tpcds_q61")
    assert(!ds61.contains("Union") && !ds61.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds61).size <= 3,
      "tpcds q61 promo ratio re-reads the slice per scalar subquery")
    // q6 (r18): the dim-side correlated average resolves INSIDE the
    // part dimension (dim-grain agg + broadcast join-back) — the fact
    // joins a pre-reduced broadcast key set, never a re-scan per row
    // six scans by design: part twice (dim-grain agg + join-back),
    // lineitem, orders, customer, nation — the FACT is read once
    val ds6 = plan("agg_tpcds_q6")
    assert(ds6.contains("BroadcastHashJoin") && !ds6.contains("Union") &&
      "Scan parquet".r.findAllIn(ds6).size <= 6 &&
      "Scan parquet .*lineitem".r.findAllIn(ds6).size == 1,
      "tpcds q6 dim-side decorrelation lost its broadcast key-set shape")
    // ---- r19 additions ----
    // q15: the cross-table OR evaluates post-join as ONE filter, but
    // the conjunctive date window must still reach the orders scan
    val ds15 = plan("agg_tpcds_q15")
    assert(!ds15.contains("Union") &&
      "Scan parquet".r.findAllIn(ds15).size <= 3 &&
      ds15.contains("o_orderdate"),
      "tpcds q15 disjunctive cross-table filter became unioned passes " +
        "or lost the pushed date window")
    // q16: both existence predicates decorrelate into ONE grouped
    // flag pass — lineitem twice (flags + sums), orders, customer; no
    // correlated re-scan per predicate
    val ds16 = plan("agg_tpcds_q16")
    assert(!ds16.contains("Union") && !ds16.contains("CartesianProduct") &&
      "Scan parquet".r.findAllIn(ds16).size <= 4,
      "tpcds q16 EXISTS/NOT-EXISTS no longer one grouped flag pass")
    // q24: the fine-grain CTE aggregates ONCE; the scalar threshold
    // broadcasts (no re-aggregation of ssales per outer row)
    val ds24 = plan("agg_tpcds_q24")
    assert(!ds24.contains("CartesianProduct") &&
      "Scan parquet .*lineitem".r.findAllIn(ds24).size <= 2,
      "tpcds q24 scalar-threshold HAVING re-scans the fact")
    // q14b: the INTERSECT brand sets are dim-grain and the scalar
    // broadcasts; the fact is scanned once per channel arm at most
    val ds14b = plan("agg_tpcds_q14b")
    assert(!ds14b.contains("CartesianProduct"),
      "tpcds q14b cross-items INTERSECT exploded into a cartesian")
    // q33/q56: the shared dim set broadcasts to every union arm
    val ds33 = plan("agg_tpcds_q33")
    assert(ds33.contains("BroadcastHashJoin") && ds33.contains("Union"),
      "tpcds q33 grouped-union lost the broadcast dim set")
    val ds56 = plan("agg_tpcds_q56")
    assert(ds56.contains("BroadcastHashJoin") && ds56.contains("Union"),
      "tpcds q56 grouped-union lost the broadcast dim set")
    // q69: three existence predicates = ONE grouped flag pass over
    // orders (never a semi/anti join per predicate)
    val ds69 = plan("agg_tpcds_q69")
    assert("Scan parquet .*orders".r.findAllIn(ds69).size == 1 &&
      !ds69.contains("Union"),
      "tpcds q69 channel flags no longer one orders pass")
    // q72: the deep chain keeps the inventory role pre-aggregated to
    // its join grain and the promo set broadcast; no cartesian
    val ds72 = plan("agg_tpcds_q72")
    assert(!ds72.contains("CartesianProduct") &&
      ds72.contains("BroadcastHashJoin"),
      "tpcds q72 many-join chain lost pre-agg/broadcast discipline")
    // q90: numerator and denominator come from the SAME single scan
    val ds90 = plan("agg_tpcds_q90")
    assert("Scan parquet".r.findAllIn(ds90).size == 1,
      "tpcds q90 scalar ratio re-scans per side")
    // q18: averages under rollup stay one Expand pass over one scan
    val ds18 = plan("agg_tpcds_q18")
    assert(ds18.contains("Expand") &&
      "Scan parquet .*orders".r.findAllIn(ds18).size == 1,
      "tpcds q18 rollup no longer a single expand pass")
  }

  test("GraftExtensions injects native functions at session build") {
    val spark0 = spark // force shared-session init before clearing
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      // `.withExtensions` ≡ what `spark.sql.extensions=graft.GraftExtensions`
      // does at SparkContext build time (that static conf is only read
      // when the context itself starts, which this shared-JVM test
      // can't redo)
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate() // reuses the JVM's SparkContext, new session state
      val got = s2.sql(
        """SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
                         array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)))""")
        .head().getDouble(0)
      assert(math.abs(got - 9.0) < 1e-12)
      val sh = s2.sql("SELECT simhash(array('hello'), 16)").head().getLong(0)
      assert(sh != 0L)
      // the injected builders are the ones register would install, so
      // register re-registers nothing in an extension session
      val reg2 = s2.sessionState.functionRegistry
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")
      val injected = reg2.lookupFunction(id).get
      graft.functions.GraftFunctions.register(s2)
      assert(reg2.lookupFunction(id).get eq injected,
        "register replaced an injected function")
    } finally {
      prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      prevDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      assert(spark0 eq spark)
    }
  }

  test("GraftFunctions.register a second time leaves every registry entry untouched") {
    val reg = spark.sessionState.functionRegistry
    graft.functions.GraftFunctions.register(spark)
    val before = reg.listFunction().map(id => id -> reg.lookupFunction(id).get)
    assert(before.exists(_._1.funcName == "vec_dot"))
    graft.functions.GraftFunctions.register(spark)
    val replaced = before.collect {
      case (id, info) if !reg.lookupFunction(id).exists(_ eq info) => id
    }
    assert(replaced.isEmpty, s"re-registered: ${replaced.mkString(", ")}")
  }

  test("GraftFunctions.register leaves Spark's built-in theta_sketch_agg in place") {
    graft.functions.GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT theta_sketch_estimate(theta_sketch_agg(id)) FROM range(1000)")
      .head().getLong(0)
    assert(n == 1000L)
  }

  test("AQE coalesces shuffle partitions on small data") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val agg = spark.range(1000).groupBy(col("id") % 10).count()
      agg.collect()
      val finalPlan = agg.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead") ||
        finalPlan.contains("coalesced"),
        s"expected AQE shuffle coalescing:\n$finalPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("AQE splits the skewed partition of a shuffle join at runtime") {
    // The OTHER half of the skew story (SCALE.md §2): Joins.saltedJoin
    // handles planned-for hot keys; AQE's skew-join split is the
    // runtime safety net when skew is discovered mid-query. Evidence
    // that the net exists: a 95%-hot-key fact shuffle-joined to a dim
    // must show skew handling in the final adaptive plan.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // payload = md5 hex: INCOMPRESSIBLE, so the hot partition's shuffle
    // bytes reflect its row count (200k near-identical longs alone
    // would lz4-compress to under the skew threshold and hide the skew)
    val fact = s.range(200000).select(
      when(col("id") % 20 =!= 0, 0L).otherwise(col("id")).as("k"),
      md5(col("id").cast("string")).as("payload"))
    val dim = s.range(10000).select(col("id").as("k"),
      concat(lit("payload-"), col("id")).as("p"))
    // global agg only — and it must CONSUME the payload bytes (max, not
    // count: count(non-nullable) rewrites to count(1) and pruning drops
    // the column from the shuffle). A groupBy("k") downstream would
    // REUSE the join's hash partitioning, and AQE (correctly) refuses
    // to skew-split a join whose output partitioning a later stage
    // depends on — that case is saltedJoin's territory. Partial
    // aggregation has no partitioning requirement, so the split is
    // legal here.
    val joined = fact.join(dim, "k").agg(max(col("payload")))
    joined.collect()
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan.toString
      case p => p.toString
    }
    assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
      s"expected a skew-split join in the adaptive plan:\n$finalPlan")
  }

  test("bloom_agg/bloom_contains: zero false negatives, bounded false positives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1k members out of a 20k universe; sketch sized for ~1% fpp
    val members = spark.range(0, 20000, 20).select(col("id"))
    val bf = members
      .agg(call_function("bloom_agg", col("id"), lit(10000L), lit(100000L)))
      .head().getAs[Array[Byte]](0)
    val tagged = spark.range(20000).select(col("id"),
      call_function("bloom_contains", lit(bf), col("id")).as("passes"),
      (col("id") % 20 === 0).as("member"))
    // bloom guarantee: every member passes
    assert(tagged.filter(col("member") && !col("passes")).count() == 0)
    // false positives stay under 5% of non-members at this sizing
    val fp = tagged.filter(!col("member") && col("passes")).count()
    assert(fp <= 19000 * 0.05, s"fp=$fp")
    // and the prune is a scan-side filter: no join/exchange in the plan
    val pruned = spark.range(20000)
      .filter(call_function("bloom_contains", lit(bf), col("id")))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("z-order layout: files stay skippable on BOTH dimensions (vs 1-col sort)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Layout
    // a 128x128 grid of (a, b) points, "written" as 64 files of 256
    // rows each under two orderings; a file can be skipped by footer
    // stats iff its [min,max] range misses the predicate
    val grid = (for (a <- 0 until 128; b <- 0 until 128) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    def filesTouched(ordered: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val chunked = ordered
        .withColumn("file", floor(monotonically_increasing_id() / 256))
        .groupBy("file")
        .agg(min("a").as("a_lo"), max("a").as("a_hi"),
          min("b").as("b_lo"), max("b").as("b_hi"))
      // thin range predicate on each dimension: a in [0,15] / b in [0,15]
      val byA = chunked.filter(col("a_lo") <= 15 && col("a_hi") >= 0).count()
      val byB = chunked.filter(col("b_lo") <= 15 && col("b_hi") >= 0).count()
      (byA, byB)
    }
    val zOrdered = grid.coalesce(1).withColumn("z",
        Layout.zValue2(col("a"), lit(0L), lit(127L),
          col("b"), lit(0L), lit(127L), bits = 7))
      .sortWithinPartitions("z").drop("z")
    val aOrdered = grid.coalesce(1).sortWithinPartitions("a", "b")
    val (zByA, zByB) = filesTouched(zOrdered)
    val (aByA, aByB) = filesTouched(aOrdered)
    // single-column sort: perfect on a (8/64 files), useless on b (all 64)
    assert(aByA == 8 && aByB == 64, s"a-sort touched ($aByA, $aByB)")
    // z-order: an eighth of the curve on EITHER dimension's slice
    assert(zByA <= 16 && zByB <= 16, s"z-order touched ($zByA, $zByB)")
  }

  test("zValueN round-robin interleave: 3-D clustering keeps every dimension skippable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Layout
    // 16x16x16 grid in 64 chunks of 64 rows: under z-order every
    // dimension's thin slice skips most chunks; under a 1-col sort
    // only the sorted column does
    val grid = (for (a <- 0 until 16; b <- 0 until 16; c <- 0 until 16)
      yield (a.toLong, b.toLong, c.toLong)).toDF("a", "b", "c")
    val z = Layout.zValueN(Seq(
      (col("a"), lit(0L), lit(15L)),
      (col("b"), lit(0L), lit(15L)),
      (col("c"), lit(0L), lit(15L))), bits = 4)
    val chunks = grid.coalesce(1).withColumn("z", z)
      .sortWithinPartitions("z")
      .withColumn("file", floor(monotonically_increasing_id() / 64))
      .groupBy("file")
      .agg(min("a").as("a_lo"), max("a").as("a_hi"),
        min("b").as("b_lo"), max("b").as("b_hi"),
        min("c").as("c_lo"), max("c").as("c_hi"))
    def touched(lo: String, hi: String): Long =
      chunks.filter(col(lo) <= 1 && col(hi) >= 0).count()
    // slice [0,1] on each dimension: 1/8 of the range → at most a
    // quarter of the 64 chunks under a balanced 3-D curve
    assert(touched("a_lo", "a_hi") <= 16)
    assert(touched("b_lo", "b_hi") <= 16)
    assert(touched("c_lo", "c_hi") <= 16)
  }

  test("bloom sizing: optimalNumBits hits the classic m = -n ln(p)/ln2^2") {
    import graft.operators.Pruning
    assert(Pruning.optimalNumBits(1000, 0.01) == 9586)
    assert(Pruning.optimalNumBits(1000000, 0.001) > 14000000)
    intercept[IllegalArgumentException](Pruning.optimalNumBits(0, 0.01))
    intercept[IllegalArgumentException](Pruning.optimalNumBits(10, 1.5))
  }

  test("clusterByZ2 preserves rows and sorts each output partition by z-value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Layout
    val df = (for (a <- 0 until 40; b <- 0 until 40)
      yield (a.toLong, b.toLong, s"$a-$b")).toDF("a", "b", "payload")
    val clustered = Layout.clusterByZ2(df, "a", "b", numFiles = 8, bits = 6)
    // lossless: same rows, no z column leaked into the schema
    assert(clustered.columns.toSeq == Seq("a", "b", "payload"))
    assert(clustered.count() == 1600)
    assert(clustered.exceptAll(df).isEmpty && df.exceptAll(clustered).isEmpty)
    // each output partition is non-decreasing in the z-value it was
    // clustered by (what makes parquet footer ranges narrow)
    val zOf = Layout.zValue2(col("a"), lit(0L), lit(39L),
      col("b"), lit(0L), lit(39L), bits = 6)
    val ok = clustered.withColumn("z", zOf).select("z")
      .mapPartitions { it =>
        val zs = it.map(_.getLong(0)).toSeq
        Iterator(zs.isEmpty || zs.sliding(2).forall(p => p.size < 2 || p(0) <= p(1)))
      }.collect()
    assert(ok.forall(identity))
  }

  test("theta sketch: truncated KMV estimates distinct/union/intersection within bound; merge ≡ single pass") {
    // The k < n regime the oracle query (agg_theta_overlap) can't
    // check: 80k-element sets with 40k overlap sketched at k=1024.
    // KMV rank error ~ 1/sqrt(k) ≈ 3.1%.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k = 1024
    val MAXH = math.pow(2.0, 60)
    val a = (0 until 80000).map(i => ("a", s"v$i"))
    val b = (40000 until 120000).map(i => ("b", s"v$i"))
    val df = (a ++ b).toDF("tag", "u")
    graft.functions.GraftFunctions.register(spark)
    val sk = df.groupBy("tag")
      .agg(call_function("kmv_sketch_agg", col("u"), lit(k)).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    def est(s: Seq[Long]): Double =
      if (s.size < k) s.size.toDouble else (k - 1) / (s(k - 1) / MAXH)
    assert(math.abs(est(sk("a")) - 80000) < 80000 * 0.10, s"estA=${est(sk("a"))}")
    assert(math.abs(est(sk("b")) - 80000) < 80000 * 0.10, s"estB=${est(sk("b"))}")
    // union: k smallest of the concatenation
    val union = (sk("a") ++ sk("b")).distinct.sorted.take(k)
    assert(math.abs(est(union) - 120000) < 120000 * 0.10, s"estU=${est(union)}")
    // intersection: common hashes below theta = min(theta_a, theta_b)
    val theta = math.min(sk("a")(k - 1), sk("b")(k - 1))
    val common = sk("a").toSet.intersect(sk("b").toSet).count(_ < theta)
    val estI = common / (theta / MAXH)
    assert(math.abs(estI - 40000) < 40000 * 0.25, s"estI=$estI")
    // rollup: 16 sub-sketches merged with kmv_merge_agg must equal
    // the single-pass sketch BIT FOR BIT (KMV merge is exact)
    val merged = df.filter(col("tag") === "a")
      .withColumn("sub", abs(hash(col("u"))) % 16)
      .groupBy("sub")
      .agg(call_function("kmv_sketch_agg", col("u"), lit(k)).as("s"))
      .agg(call_function("kmv_merge_agg", col("s"), lit(k)).as("m"))
      .collect().head.getSeq[Long](0)
    assert(merged == sk("a"), "merge-of-partials must equal single-pass KMV")
  }
}
