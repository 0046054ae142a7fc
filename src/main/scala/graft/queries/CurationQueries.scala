package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Round-6 additions: scan-pruning membership sketches, the remaining
  * Beam Distinct variant, median/mode aggregate surface, the
  * higher-order array-function surface, the SQL-text session-window TVF
  * front door, and two curation ops (fuzzy eval-set decontamination via
  * MinHash bands, per-source token-length distributions via t-digest).
  *
  * Reference anchors:
  *  - Distinct.withRepresentativeValueFn:
  *    sdks/java/core/.../transforms/Distinct.java:120
  *  - eval-set decontamination is the fuzzy sibling of
  *    `pipeline_decontaminate` (exact shingle semi-join) — same contract
  *    the reference expresses as a CoGBK over shingle keys.
  */
object CurationQueries {
  private def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.documents(s, d)
  private def ev(s: org.apache.spark.sql.SparkSession, d: String) = Tables.events(s, d)
  private def li(s: org.apache.spark.sql.SparkSession, d: String) = Tables.lineitem(s, d)

  def queries: Seq[Q] = Seq(

    // ===== Bloom-filter scan pruning — the 100 TB shape of "filter a
    // huge fact by membership in a small key set" when even a broadcast
    // semi-join is unwanted (e.g. the filter must survive into a
    // streaming stage or a non-join operator). The sketch is a fit
    // artifact: one distributed aggregate over the key side (O(1) rows
    // cross the exchange), collected once, and the fact scan applies a
    // codegen'd membership test — no shuffle, no join. Approximate
    // structure ⇒ the oracle gates the CONTRACT: zero false negatives
    // (bloom guarantee) and a false-positive rate under the configured
    // bound, alongside the exact member count both engines agree on.
    Q("bloom_prune",
      (s, d) => {
        val keys = Tables.customer(s, d).filter(col("c_nationkey") < 5)
          .select(col("c_custkey").cast("long").as("k"))
        val bf = graft.operators.Pruning.bloomFit(keys, "k",
          expectedItems = 100000L, fpp = 0.01)
        val o = Tables.orders(s, d)
        o.join(broadcast(keys), o("o_custkey") === keys("k"), "left")
          .withColumn("passes",
            graft.operators.Pruning.bloomContains(bf, col("o_custkey")))
          .agg(
            sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_member"),
            sum(when(col("k").isNotNull && !col("passes"), 1L).otherwise(0L)).as("fn"),
            sum(when(col("k").isNull && col("passes"), 1L).otherwise(0L)).as("fp"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_nonmember"))
          .select(col("n_member"),
            (col("fn") === 0).cast("long").as("no_false_negatives"),
            (col("fp") * 20 <= col("n_nonmember")).cast("long").as("fp_under_5pct"))
      },
      Some("""SELECT count(*) AS n_member,
          CAST(1 AS BIGINT) AS no_false_negatives,
          CAST(1 AS BIGINT) AS fp_under_5pct
        FROM orders WHERE o_custkey IN
          (SELECT c_custkey FROM customer WHERE c_nationkey < 5)""")),

    // ===== Beam Distinct.withRepresentativeValueFn (Distinct.java:120):
    // dedupe by a DERIVED representative, keep one deterministic full
    // element per representative. Same partial-agg-shuffle shape as
    // exact dedup — one exchange on the representative key.
    Q("distinct_representative",
      (s, d) => Dedup.exactByKey(ev(s, d), Seq("user_id", "event_type"),
          col("ts").asc, col("event_id").asc)
        .select("event_id", "user_id", "event_type"),
      Some("""SELECT event_id, user_id, event_type FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type
          ORDER BY ts, event_id) = 1""")),

    // ===== Median + deterministic mode — the remaining central-tendency
    // aggregate surface. Spark's native mode() breaks ties arbitrarily
    // (engine-specific), so the modal value is computed with an explicit
    // min-value tie-break: a two-level aggregate (per-(flag, qty) counts
    // are the first partial-agg exchange, then a top-1 over ≤50 rows per
    // flag) — the same deterministic-mode shape both engines replay.
    Q("agg_median_mode",
      (s, d) => {
        val rows = li(s, d)
        val modal = rows.groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("l_returnflag")
              .orderBy(col("n").desc, col("l_quantity").asc)))
          .filter(col("rk") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("modal_qty"),
            col("n").as("modal_n"))
        rows.groupBy("l_returnflag")
          .agg(round(median(col("l_extendedprice")), 4).as("median_price"),
            count(lit(1)).as("n_rows"))
          .join(modal, Seq("l_returnflag"))
      },
      Some("""WITH m AS (
          SELECT l_returnflag, l_quantity AS modal_qty, count(*) AS modal_n
          FROM lineitem GROUP BY 1, 2
          QUALIFY row_number() OVER (PARTITION BY l_returnflag
            ORDER BY count(*) DESC, l_quantity) = 1)
        SELECT a.l_returnflag,
          round(quantile_cont(a.l_extendedprice, 0.5), 4) AS median_price,
          count(*) AS n_rows, any_value(m.modal_qty) AS modal_qty,
          any_value(m.modal_n) AS modal_n
        FROM lineitem a JOIN m USING (l_returnflag)
        GROUP BY a.l_returnflag""")),

    // ===== Higher-order array functions — transform/filter/aggregate/
    // sort/slice over token arrays, all codegen-friendly column algebra
    // (zero shuffles; the scalar surface §2.9 extended to collections).
    Q("scalar_hof_arrays",
      (s, d) => {
        val t = TextAnalysis.tokens(col("text"))
        docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            size(t).cast("long").as("n_tokens"),
            size(filter(t, x => length(x) > 4)).cast("long").as("n_long"),
            aggregate(t, lit(0L), (acc, x) => acc + length(x).cast("long"))
              .as("tok_chars"),
            array_join(slice(array_sort(t), 1, 3), "|").as("first3"))
      },
      Some("""WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          FROM documents WHERE length(trim(text)) > 0)
        SELECT doc_id, len(tk) AS n_tokens,
          len(list_filter(tk, x -> length(x) > 4)) AS n_long,
          CAST(length(array_to_string(tk, '')) AS BIGINT) AS tok_chars,
          array_to_string(list_sort(tk)[1:3], '|') AS first3
        FROM t""")),

    // ===== SQL-text SESSION TVF front door — `GROUP BY
    // session_window(ts, gap)` in SQL text (the tumbling form is
    // sql_front_door_windowed; this closes the session TVF member of
    // §2.8's windowing-TVF row in SQL text, not just the DSL).
    Q("sql_session_tvf",
      (s, d) => Q.run(s, d, """SELECT user_id,
            CAST(unix_timestamp(session_window.start) AS BIGINT) AS sess_start,
            CAST(unix_timestamp(session_window.end) AS BIGINT) AS sess_end,
            count(1) AS n, round(sum(value), 4) AS sum_value
          FROM events
          GROUP BY session_window(ts, '30 minutes'), user_id"""),
      Some("""WITH g AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), se AS (
          SELECT user_id, ts, value,
            sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
        SELECT user_id,
          CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
          CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS sess_end,
          count(*) AS n, round(sum(value), 4) AS sum_value
        FROM se GROUP BY user_id, sid""")),

    // ===== FUZZY eval-set decontamination — `pipeline_decontaminate`
    // catches verbatim shingle overlap; near-duplicate contamination
    // (reworded benchmark items) needs the MinHash-band form: a corpus
    // doc is suspect iff ANY of its LSH band buckets collides with a
    // benchmark doc's. The benchmark bucket set is tiny (|bench| ×
    // bands rows) and broadcasts; the corpus side is one signature
    // projection + equi-join — never an all-pairs comparison. Shares
    // the affine hash family with dedup_minhash_pairs, so the DuckDB
    // oracle rebuilds identical buckets.
    Q("pipeline_decontaminate_fuzzy",
      (s, d) => {
        val base = docs(s, d).filter(length(trim(col("text"))) > 0)
        val sig = Dedup.minHashSignatures(base, "doc_id", "text", numHashes = 16)
        val buckets = Dedup.minHashBuckets(sig, "doc_id", 16, 4)
        val bench = buckets.filter(col("doc_id") % 10 === 0)
          .select("band", "bucket").distinct()
        buckets.filter(col("doc_id") % 10 =!= 0)
          .join(broadcast(bench), Seq("band", "bucket"))
          .groupBy("doc_id")
          .agg(countDistinct(col("band")).as("n_hit_bands"))
      },
      Some(s"""WITH ${TextQueries.minhashPairCtes}
        SELECT a.doc_id, count(DISTINCT a.band) AS n_hit_bands
        FROM band a
        WHERE a.doc_id % 10 <> 0 AND EXISTS (
          SELECT 1 FROM band b
          WHERE b.doc_id % 10 = 0
            AND b.band = a.band AND b.bucket = a.bucket)
        GROUP BY 1""")),

    // ===== Per-source token-length distributions — the curation
    // dashboard for a new corpus drop: how long are documents from each
    // source? Exact quantiles of a 100 TB column per source need a full
    // sort per group; the t-digest sketch gets there in one partial-agg
    // pass with O(compression) state per group. Gate: digest medians /
    // p90s inside exact ±5%-rank bounds (the same error-bound contract
    // as agg_tdigest_quantiles), plus exact per-source doc counts.
    Q("pipeline_token_quantiles",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(col("source"),
            size(TextAnalysis.tokens(col("text"))).cast("double").as("ntok"))
          .groupBy("source")
          .agg(expr("tdigest_agg(ntok, 200)").as("sk"),
            count(lit(1)).as("n_docs"),
            expr("percentile(ntok, array(0.45, 0.55, 0.85, 0.95))").as("ex"))
          .select(col("source"), col("n_docs"),
            expr("tdigest_quantile(sk, 0.5d)")
              .between(element_at(col("ex"), 1), element_at(col("ex"), 2))
              .cast("long").as("ok50"),
            expr("tdigest_quantile(sk, 0.9d)")
              .between(element_at(col("ex"), 3), element_at(col("ex"), 4))
              .cast("long").as("ok90"))
      },
      Some("""SELECT source, count(*) AS n_docs,
          CAST(1 AS BIGINT) AS ok50, CAST(1 AS BIGINT) AS ok90
        FROM documents WHERE length(trim(text)) > 0 GROUP BY 1""")),

    // ===== Z-ORDER clustering values — multi-dimensional file skipping
    // (Delta/Iceberg OPTIMIZE ZORDER BY; Morton curves). The z-value is
    // pure codegen'd bit algebra over a broadcast min/max fit; writing
    // range-partitioned by it gives parquet files whose footer min/max
    // are narrow in BOTH dimensions, so range predicates on EITHER
    // column skip most files (ScaleSpec quantifies the skip rate vs a
    // single-column sort). Spark and DuckDB replay the identical
    // interleave formula from one source of truth (Layout.zValue2Sql).
    Q("layout_zorder",
      (s, d) => {
        val rows = li(s, d)
        val fit = rows.agg(min(col("l_partkey")).as("a_min"),
          max(col("l_partkey")).as("a_max"),
          min(col("l_suppkey")).as("b_min"),
          max(col("l_suppkey")).as("b_max"))
        rows.crossJoin(broadcast(fit))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            graft.operators.Layout.zValue2(
              col("l_partkey"), col("a_min"), col("a_max"),
              col("l_suppkey"), col("b_min"), col("b_max")).as("zval"))
      },
      Some(s"""WITH fit AS (
          SELECT min(l_partkey) AS a_min, max(l_partkey) AS a_max,
            min(l_suppkey) AS b_min, max(l_suppkey) AS b_max
          FROM lineitem)
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          ${graft.operators.Layout.zValue2Sql("l_partkey", "a_min", "a_max",
            "l_suppkey", "b_min", "b_max")} AS zval
        FROM lineitem, fit""")),

    // ===== TFRecord round trip — the training-data container format
    // (Beam TFRecordIO; Spark has no native source). Documents' text
    // bytes go out as framed+CRC'd records (one file per partition)
    // and come back through the lazy streaming decoder; the gate
    // compares content-complete md5 aggregates against the source
    // table, so a dropped/duplicated/corrupted record fails the hash.
    Q("io_tfrecord_roundtrip",
      (s, d) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-tfr").resolve("docs").toString
        Tables.documents(s, d)
          // a record container has no null payload encoding — the
          // pipeline author drops them (rule mirrored in the oracle)
          .filter(col("text").isNotNull)
          .select(encode(col("text"), "UTF-8").as("payload"))
          .createOrReplaceTempView("tfr_src")
        graft.sources.TFRecordIO.write(
          s.table("tfr_src"), "payload", dir)
        graft.sources.TFRecordIO.read(s, dir)
          .select(md5(col("record")).as("m"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("m")).as("n_distinct"),
            min(col("m")).as("first_md5"), max(col("m")).as("last_md5"))
      },
      Some("""SELECT count(*) AS n,
          count(DISTINCT md5(text)) AS n_distinct,
          min(md5(text)) AS first_md5, max(md5(text)) AS last_md5
        FROM documents WHERE text IS NOT NULL""")),

    // ===== Avro container round trip — the self-describing interchange
    // format (Beam AvroIO; the spark-avro DataSource connector is not
    // in this container, so `sources/AvroIO` drives the Avro Java
    // library directly: schema-embedding files, one per partition out,
    // lazy streaming decode back, schema recovered from the file
    // header). Gate: numeric + string aggregates over the read-back
    // equal the SQL aggregates over the source rows.
    Q("io_avro_roundtrip",
      (s, d) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-avr").resolve("orders").toString
        graft.sources.AvroIO.write(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderstatus")), dir)
        graft.sources.AvroIO.read(s, dir)
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("sum_key"),
            round(sum(col("o_totalprice")), 2).as("sum_price"),
            countDistinct(col("o_orderstatus")).as("n_status"))
      },
      Some("""SELECT count(*) AS n,
          CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          round(sum(o_totalprice), 2) AS sum_price,
          count(DISTINCT o_orderstatus) AS n_status
        FROM orders""")),

    // ===== JDBC round trip — Beam JdbcIO over Spark's built-in JDBC
    // source, run for REAL against the embedded Derby that ships in
    // Spark's jars (swap the URL for postgres/mysql in prod; nothing
    // else changes). The read is PARTITIONED on the key range — four
    // parallel scans, JdbcIO.readWithPartitions' shape — and the gate
    // compares aggregates against the source table. Derby surfaces
    // DOUBLE sums as DECIMAL, hence the explicit double cast.
    Q("io_jdbc_roundtrip",
      (s, d) => {
        System.setProperty("derby.system.home",
          java.nio.file.Files.createTempDirectory("graft-derby-home").toString)
        val db = java.nio.file.Files
          .createTempDirectory("graft-derby").resolve("db").toString
        val url = s"jdbc:derby:$db;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        val src = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        src.write.mode("overwrite").jdbc(url, "t_orders", props)
        // coalesce: an empty source leaves max() NULL — bound the
        // partitioned read at 0 instead of NPE-ing
        val maxKey = src.agg(coalesce(max(col("o_orderkey")), lit(0L)))
          .head().getLong(0) // bounded: 1-row global agg
        s.read.jdbc(url, "t_orders", "o_orderkey", 0L, maxKey + 1, 4, props)
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).cast("long").as("sum_key"),
            round(sum(col("o_totalprice")).cast("double"), 2).as("sum_price"))
      },
      Some("""SELECT count(*) AS n,
          CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          round(sum(o_totalprice), 2) AS sum_price
        FROM orders""")),

    // ===== Approximate HEAVY HITTERS (Beam SketchFrequencies' top-k
    // read-out; Spark 4's approx_top_k sketch aggregate): the top words
    // of the corpus from ONE sketch pass — O(capacity) state per
    // partition instead of a full (token, count) shuffle. Contract
    // gate: with capacity ≥ distinct vocabulary the sketch counts are
    // exact, so each of the oracle's deterministic top-5 tokens must
    // appear in the approx top-50 with its exact count.
    Q("agg_approx_topk",
      (s, d) => {
        val toks = docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val approx = toks
          .agg(expr("approx_top_k(tok, 50, 20000)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("tok"), col("e.count").as("approx_n"))
        toks.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(5)
          .join(approx, Seq("tok"), "left")
          .select(col("tok"), col("n"),
            (col("approx_n") === col("n")).cast("long").as("count_exact"))
      },
      Some("""WITH tok AS (
          SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ), c AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1)
        SELECT tok, n, CAST(1 AS BIGINT) AS count_exact
        FROM c ORDER BY n DESC, tok LIMIT 5""")),

    // ===== CDC changelog apply — nightly incremental snapshot
    // maintenance as ONE full-outer key join (the relational MERGE
    // INTO; see Relational.applyChangelog). Deterministic change set:
    // keys ≡0 mod 9 delete, other ≡0 mod 3 double the price (exact in binary — no
    // HALF_UP-vs-HALF_EVEN rounding divergence),
    // keys ≡0 mod 7 that the snapshot lacks insert.
    Q("pipeline_cdc_apply",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"))
        val snapshot = o.filter(col("o_orderkey") % 7 =!= 0)
        val changes = o.filter(col("o_orderkey") % 3 === 0 ||
            col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 9 === 0, col("o_totalprice"))
              .otherwise(col("o_totalprice") * 2)
              .as("o_totalprice"),
            when(col("o_orderkey") % 9 === 0, "D").otherwise("U").as("op"))
        graft.operators.Relational
          .applyChangelog(snapshot, changes, "o_orderkey")
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      },
      Some("""WITH o AS (
          SELECT o_orderkey, o_totalprice FROM orders
        ), snap AS (
          SELECT * FROM o WHERE o_orderkey % 7 <> 0
        ), ch AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice
                 ELSE o_totalprice * 2 END AS o_totalprice,
            CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
          FROM o WHERE o_orderkey % 3 = 0 OR o_orderkey % 7 = 0)
        SELECT COALESCE(ch.o_orderkey, snap.o_orderkey) AS o_orderkey,
          round(COALESCE(ch.o_totalprice, snap.o_totalprice), 2) AS price
        FROM snap FULL OUTER JOIN ch ON snap.o_orderkey = ch.o_orderkey
        WHERE COALESCE(ch.op, '') <> 'D'""")),

    // ===== THETA (KMV) sketch set algebra — the distinct-count sketch
    // with closed-form UNION / INTERSECTION over merged sketches (what
    // HLL can't do): audience-overlap questions across segments answered
    // from stored sketches, no join, no rescan. Exactness gate: with
    // k ≥ distinct users the KMV holds every hash, so size(sketch),
    // size(array_union), size(array_intersect) must equal the exact
    // distinct/union/overlap counts the oracle computes (the truncated
    // k<n estimate regime is bound-checked in ScaleSpec).
    Q("agg_theta_overlap",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val k = 8192
        val e = ev(s, d).filter(col("event_type").isin("click", "view"))
          .select(col("event_type"), col("user_id").cast("string").as("u"))
        val sk = e.groupBy("event_type")
          .agg(call_function("theta_sketch_agg", col("u"), lit(k)).as("sk"),
            count_distinct(col("u")).as("n_exact"))
        val wide = sk.agg(
          first(when(col("event_type") === "click", col("sk")),
            ignoreNulls = true).as("sa"),
          first(when(col("event_type") === "view", col("sk")),
            ignoreNulls = true).as("sb"),
          first(when(col("event_type") === "click", col("n_exact")),
            ignoreNulls = true).as("n_click"),
          first(when(col("event_type") === "view", col("n_exact")),
            ignoreNulls = true).as("n_view"))
        val exact = e.groupBy("u").agg(
            max(when(col("event_type") === "click", 1).otherwise(0)).as("a"),
            max(when(col("event_type") === "view", 1).otherwise(0)).as("b"))
          .agg(count(lit(1)).as("n_union"),
            sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
              .as("n_overlap"))
        wide.crossJoin(exact).select(
          col("n_click"), col("n_view"), col("n_union"), col("n_overlap"),
          (size(col("sa")) === col("n_click")).cast("long").as("est_click_exact"),
          (size(col("sb")) === col("n_view")).cast("long").as("est_view_exact"),
          (size(array_union(col("sa"), col("sb"))) === col("n_union"))
            .cast("long").as("est_union_exact"),
          (size(array_intersect(col("sa"), col("sb"))) === col("n_overlap"))
            .cast("long").as("est_overlap_exact"))
      },
      Some("""WITH e AS (
          SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events
          WHERE event_type IN ('click', 'view')
        ), per AS (
          SELECT u,
            max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
            max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
          FROM e GROUP BY u)
        SELECT
          (SELECT count(*) FROM per WHERE a = 1) AS n_click,
          (SELECT count(*) FROM per WHERE b = 1) AS n_view,
          count(*) AS n_union,
          CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_overlap,
          CAST(1 AS BIGINT) AS est_click_exact,
          CAST(1 AS BIGINT) AS est_view_exact,
          CAST(1 AS BIGINT) AS est_union_exact,
          CAST(1 AS BIGINT) AS est_overlap_exact
        FROM per""")),

    // ===== TEMPERATURE-based source mixing — the multilingual /
    // multi-source sampling scheme (p_s ∝ share_s^(1/T), the
    // mBERT/XLM-R exponent-smoothed mix; DoReMi's fixed-weight cousin):
    // low-resource sources are up-weighted, dominant ones down-
    // weighted. Per-doc selection is DETERMINISTIC — keep doc iff
    // portable-hash(doc_id)/2^60 < rate(source) — so the exact kept
    // set is reproducible across runs AND engines (no RNG state), the
    // property that makes a 100 TB mix auditable. Rates derive from
    // one tiny per-source aggregate broadcast back; selection is a
    // zero-shuffle scan.
    Q("pipeline_temperature_mix",
      (s, d) => {
        val alpha = 0.5 // temperature 1/T = 0.5: square-root smoothing
        val target = 250.0 // target docs in the mix
        val perSrc = docs(s, d).groupBy("source")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val tot = perSrc.agg(
          sum(pow(col("n_docs"), alpha)).as("z"))
        val rates = perSrc.crossJoin(broadcast(tot))
          .select(col("source"),
            least(lit(1.0),
              lit(target) * pow(col("n_docs"), alpha) / col("z")
                / col("n_docs")).as("rate"))
        val u = graft.functions.PortableHash.md5Long(col("doc_id"))
          .cast("double") / lit(math.pow(2.0, 60))
        docs(s, d).join(broadcast(rates), Seq("source"))
          .filter(u < col("rate"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            min(col("doc_id")).as("first_kept"),
            max(col("doc_id")).as("last_kept"))
      },
      Some(s"""WITH per AS (
          SELECT source, CAST(count(*) AS DOUBLE) AS n_docs
          FROM documents GROUP BY source
        ), z AS (SELECT sum(pow(n_docs, 0.5)) AS z FROM per
        ), rates AS (
          SELECT source,
            least(1.0, 250.0 * pow(n_docs, 0.5) / z.z / n_docs) AS rate
          FROM per CROSS JOIN z)
        SELECT source, count(*) AS n_kept,
          min(doc_id) AS first_kept, max(doc_id) AS last_kept
        FROM documents JOIN rates USING (source)
        WHERE CAST(${graft.functions.PortableHash.md5LongSql("doc_id")}
            AS DOUBLE) / pow(2.0, 60) < rate
        GROUP BY source""")),

    // ===== Unigram-LM PERPLEXITY scoring — the CCNet/Wikipedia-LM
    // filtering step (Wenzek et al. 2020): score each doc by the
    // perplexity of a language model trained on the corpus itself;
    // degenerate/boilerplate text scores low, noise scores high. Model
    // = top-K unigrams + a single OOV symbol (the 100 TB shape: the
    // LM table is a TakeOrdered top-K broadcast, never a full-vocab
    // shuffle join). ppl = exp(−mean ln p(sym(tok))), p from corpus
    // counts — deterministic, so the oracle replays it exactly.
    Q("text_perplexity_unigram",
      (s, d) => {
        val K = 16 // the synthetic vocab is ~31 tokens; keep real OOV mass
        val toks = docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
            .as("tok"))
        val counts = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        val top = counts.orderBy(col("n").desc, col("tok").asc).limit(K)
        val tots = counts.agg(sum("n").as("n_total"))
          .crossJoin(top.agg(sum("n").as("n_top")))
        val lm = top.crossJoin(broadcast(tots))
          .select(col("tok"),
            log(col("n").cast("double") / col("n_total")).as("lp"))
        val oov = tots.select(
          log((col("n_total") - col("n_top")).cast("double") / col("n_total"))
            .as("lp_oov"))
        toks.join(broadcast(lm), Seq("tok"), "left")
          .crossJoin(broadcast(oov))
          .select(col("doc_id"), coalesce(col("lp"), col("lp_oov")).as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            round(exp(-avg(col("lp"))), 6).as("ppl"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ), counts AS (
          SELECT tok, count(*) AS n FROM tok GROUP BY tok
        ), top AS (
          SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 16
        ), tots AS (
          SELECT (SELECT sum(n) FROM counts) AS n_total,
                 (SELECT sum(n) FROM top) AS n_top
        ), lm AS (
          SELECT tok, ln(CAST(n AS DOUBLE) / n_total) AS lp
          FROM top CROSS JOIN tots
        ), oov AS (
          SELECT ln(CAST(n_total - n_top AS DOUBLE) / n_total) AS lp_oov
          FROM tots)
        SELECT doc_id, count(*) AS n_tok,
          round(exp(-avg(COALESCE(lm.lp, oov.lp_oov))), 6) AS ppl
        FROM tok LEFT JOIN lm USING (tok) CROSS JOIN oov
        GROUP BY doc_id""")),

    // ===== Bigram stupid-backoff PERPLEXITY — one LM order up from
    // text_perplexity_unigram, the web-scale recipe (Brants et al.
    // 2007, "Large Language Models in Machine Translation": no
    // discounting, score = count ratio, backoff × 0.4 — THE form that
    // trains on trillions of tokens because every statistic is one
    // counting pass). Scale shape: tokens map to a top-K + <oov>
    // SYMBOL alphabet first, so the bigram table is ≤ (K+1)² rows by
    // construction — broadcastable at any corpus size; the scorer is
    // two broadcast joins, never a vocab-sized shuffle.
    //   lp(s_i | s_{i-1}) = ln(n(s_{i-1} s_i) / n_ctx(s_{i-1}))   seen
    //                     = ln 0.4 + ln p_uni(s_i)                unseen
    //   doc-initial token scores p_uni; ppl = exp(−mean lp).
    Q("text_perplexity_bigram",
      (s, d) => {
        val K = 16
        val toks = docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
        val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(K)
        val symed = toks
          .join(broadcast(top.select(col("tok"), lit(true).as("__in"))),
            Seq("tok"), "left")
          .select(col("doc_id"), col("pos"),
            when(col("__in"), col("tok")).otherwise(lit("<oov>")).as("sym"))
        // one exchange on doc_id orders each doc's symbol stream
        val seq0 = symed.withColumn("prev", lag("sym", 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
        // symbol unigram LM (≤ K+1 rows) and bigram counts (≤ (K+1)²)
        val uni = symed.groupBy("sym").agg(count(lit(1)).as("nu"))
          .crossJoin(broadcast(symed.agg(count(lit(1)).as("nt"))))
          .select(col("sym"),
            log(col("nu").cast("double") / col("nt")).as("lp_uni"))
        val big = seq0.filter(col("prev").isNotNull)
          .groupBy("prev", "sym").agg(count(lit(1)).as("nb"))
        val ctx = big.groupBy("prev").agg(sum("nb").as("nc"))
        seq0.join(broadcast(uni), Seq("sym"))
          .join(broadcast(big), Seq("prev", "sym"), "left")
          .join(broadcast(ctx), Seq("prev"), "left")
          .select(col("doc_id"),
            when(col("prev").isNull, col("lp_uni"))
              .when(col("nb").isNotNull,
                log(col("nb").cast("double") / col("nc")))
              .otherwise(log(lit(0.4)) + col("lp_uni")).as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            round(exp(-avg(col("lp"))), 6).as("ppl_bi"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, i - 1 AS pos, t[i] AS tok
          FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM documents WHERE length(trim(text)) > 0)
          CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, len(t))) AS i) g
        ), top AS (
          SELECT tok FROM (SELECT tok, count(*) AS n FROM tok GROUP BY tok)
          ORDER BY n DESC, tok LIMIT 16
        ), symed AS (
          SELECT doc_id, pos,
            CASE WHEN top.tok IS NOT NULL THEN tok.tok ELSE '<oov>' END AS sym
          FROM tok LEFT JOIN top ON tok.tok = top.tok
        ), seq0 AS (
          SELECT doc_id, pos, sym,
            lag(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM symed
        ), uni AS (
          SELECT sym, ln(CAST(count(*) AS DOUBLE) /
            (SELECT count(*) FROM symed)) AS lp_uni
          FROM symed GROUP BY sym
        ), big AS (
          SELECT prev, sym, count(*) AS nb FROM seq0
          WHERE prev IS NOT NULL GROUP BY prev, sym
        ), ctx AS (
          SELECT prev, sum(nb) AS nc FROM big GROUP BY prev
        ), scored AS (
          SELECT s.doc_id,
            CASE WHEN s.prev IS NULL THEN u.lp_uni
                 WHEN b.nb IS NOT NULL THEN ln(CAST(b.nb AS DOUBLE) / c.nc)
                 ELSE ln(0.4) + u.lp_uni END AS lp
          FROM seq0 s
          JOIN uni u USING (sym)
          LEFT JOIN big b ON s.prev = b.prev AND s.sym = b.sym
          LEFT JOIN ctx c ON s.prev = c.prev)
        SELECT doc_id, count(*) AS n_tok,
          round(exp(-avg(lp)), 6) AS ppl_bi
        FROM scored GROUP BY doc_id""")),

    // ===== Deterministic train/val/test split assignment — the step
    // between curation and training: every doc lands in exactly one
    // split, reproducibly across runs/engines, with no coordination
    // (the portable-hash bucket IS the assignment; no sampling state,
    // no shuffle beyond the final per-split rollup). 98/1/1 by
    // md5-bucket of doc_id, like the reference's hash-valued
    // Partition/Sample idioms (transforms/Partition.java:77).
    Q("pipeline_split_assign",
      (s, d) => {
        val bucket = pmod(graft.functions.PortableHash
          .md5Long(col("doc_id")), lit(100))
        docs(s, d)
          .withColumn("split",
            when(bucket < 98, "train").when(bucket === 98, "val")
              .otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
      },
      Some(s"""WITH a AS (
          SELECT CASE
            WHEN ${graft.functions.PortableHash.md5LongSql("doc_id")} % 100 < 98
              THEN 'train'
            WHEN ${graft.functions.PortableHash.md5LongSql("doc_id")} % 100 = 98
              THEN 'val'
            ELSE 'test' END AS split, n_chars
          FROM documents)
        SELECT split, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM a GROUP BY split""")),

    // ===== DSIR importance weights (Xie et al. 2023, "Data Selection
    // for LMs via Importance Resampling"): score every raw doc by how
    // target-like its hashed-unigram distribution is —
    // w(doc) = Σ_tok log( p_target(h(tok)) / p_raw(h(tok)) ) with
    // add-1 smoothing over B=64 buckets. Target stand-in: sources
    // src0/src1. Scale shape: bucket counts are ONE partial-agg pass
    // (≤B rows cross the exchange), the B-row log-ratio table
    // broadcasts back, and scoring is a zero-extra-shuffle projection
    // + per-doc rollup — the corpus is scanned twice, never joined to
    // itself. Same hashed-feature trick as ml_feature_hash.
    Q("pipeline_dsir_weights",
      (s, d) => {
        val B = 64
        // Pre-aggregated to (doc, source, bucket) grain BEFORE any
        // reuse (r19 opt, guide §2.3 "aggregate before you shuffle"):
        // the token explode + md5 runs ONCE (the per-doc-bucket
        // exchange is byte-identical in both consumers, so AQE stage
        // reuse shares it — verified in the final plan), where the
        // previous form re-tokenized and re-exploded the whole corpus
        // for the scoring pass. ≤B rows per doc cross every later
        // exchange instead of one row per token.
        val docB = docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .withColumn("b",
            pmod(graft.functions.PortableHash.md5Long(col("tok")), lit(B)))
          .groupBy("doc_id", "source", "b")
          .agg(count(lit(1)).as("cnt"))
        val counts = docB.groupBy("b").agg(
          sum(when(col("source").isin("src0", "src1"), col("cnt"))
            .otherwise(0L)).as("tgt_n"),
          sum(col("cnt")).as("all_n"))
        val tots = counts.agg(sum("tgt_n").as("tgt_tot"),
          sum("all_n").as("all_tot"))
        val lw = counts.crossJoin(broadcast(tots))
          .select(col("b"),
            (log((col("tgt_n") + 1).cast("double") /
                 (col("tgt_tot") + B).cast("double")) -
             log((col("all_n") + 1).cast("double") /
                 (col("all_tot") + B).cast("double"))).as("lw"))
        // dsir_w = Σ_tok lw(b(tok)) = Σ_bucket cnt·lw — exact: cnt is
        // an integer and each bucket's lw is one shared double, so the
        // per-bucket product is the same value the per-token sum folds
        // in cnt times (verified to the 6-dp oracle at sf0.01 AND
        // sf0.1).
        docB.join(broadcast(lw), Seq("b"))
          .groupBy("doc_id")
          .agg(sum(col("cnt")).as("n_tok"),
            round(sum(col("lw") * col("cnt")), 6).as("dsir_w"))
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ), tb AS (
          SELECT doc_id, source,
            ${graft.functions.PortableHash.md5LongSql("tok")} % 64 AS b
          FROM tok
        ), counts AS (
          SELECT b,
            sum(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS tgt_n,
            count(*) AS all_n
          FROM tb GROUP BY b
        ), tots AS (
          SELECT sum(tgt_n) AS tgt_tot, sum(all_n) AS all_tot FROM counts
        ), lw AS (
          SELECT b,
            ln(CAST(tgt_n + 1 AS DOUBLE) / CAST(tgt_tot + 64 AS DOUBLE)) -
            ln(CAST(all_n + 1 AS DOUBLE) / CAST(all_tot + 64 AS DOUBLE)) AS lw
          FROM counts CROSS JOIN tots)
        SELECT doc_id, count(*) AS n_tok, round(sum(lw), 6) AS dsir_w
        FROM tb JOIN lw USING (b)
        GROUP BY doc_id""")),

    // ===== Longest cross-doc duplicated SPAN (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better" —
    // substring-level dedup): per doc, the longest run of CONSECUTIVE
    // 3-gram shingle positions whose shingle also appears in some
    // other document. Complements text_dup_ngram_fraction (which
    // counts duplicated shingles without contiguity): a 200-token
    // verbatim quote and 200 scattered common trigrams score the same
    // fraction but very different max spans. Scale shape: positional
    // explode → df over the distinct-(doc,shingle) inverted index →
    // one join back on the shingle key → per-doc gaps-and-islands
    // window; never a doc-to-doc pairwise join.
    Q("text_dup_span_max",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val sh = docs(s, d).filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), posexplode(call_function("shingles",
            TextAnalysis.tokens(col("text")), lit(3))))
          .toDF("doc_id", "pos", "sh")
        // r19 opt (guide §2.3/§2.4): the old form joined EVERY shingle
        // position to its document frequency just to carry a boolean,
        // and the join subtree was consumed twice (islands + n_pos) —
        // the full positional frame crossed the shingle exchange with
        // its ndocs payload, twice. n_pos never needed the join (the
        // df join was inner with a row per shingle, so n_pos is just
        // the per-doc shingle count), and the islands path only needs
        // positions whose shingle IS duplicated — a left_semi against
        // the (small) duplicated-shingle set, so only dup candidates
        // cross the join.
        val dupSh = sh.select("doc_id", "sh").distinct()
          .groupBy("sh").agg(count(lit(1)).as("ndocs"))
          .filter(col("ndocs") > 1).select("sh")
        val islands = sh.join(dupSh, Seq("sh"), "left_semi")
          .withColumn("island", col("pos") - row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")))
        val runs = islands.groupBy("doc_id", "island")
          .agg(count(lit(1)).as("run"))
          .groupBy("doc_id").agg(max("run").as("max_dup_run"))
        sh.groupBy("doc_id").agg(count(lit(1)).as("n_pos"))
          .join(runs, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_pos"),
            coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), sh AS (
          SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+2], ' ') AS sh
          FROM tok CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
        ), dfreq AS (
          SELECT sh, count(DISTINCT doc_id) AS ndocs FROM sh GROUP BY 1
        ), flagged AS (
          SELECT doc_id, pos, ndocs > 1 AS dup FROM sh JOIN dfreq USING (sh)
        ), islands AS (
          SELECT doc_id,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM flagged WHERE dup
        ), runs AS (
          SELECT doc_id, max(run) AS max_dup_run FROM (
            SELECT doc_id, island, count(*) AS run
            FROM islands GROUP BY doc_id, island)
          GROUP BY doc_id)
        SELECT f.doc_id, count(*) AS n_pos,
          COALESCE(any_value(r.max_dup_run), 0) AS max_dup_run
        FROM flagged f LEFT JOIN runs r ON f.doc_id = r.doc_id
        GROUP BY f.doc_id""")))
}
