package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Joins, Relational}
import graft.functions.PortableHash

/** Second-wave relational coverage (SURVEY §2.2-§2.9 entries that had
  * operators but no oracle-backed registry queries, plus capability
  * bonuses): Regex family, ToJson/JsonToRow round-trip, Partition,
  * WithFailures dead-lettering, GroupIntoBatches (batch form),
  * SortValues secondary sort, ROLLUP+GROUPING, array/map complex types,
  * nested-struct schema transforms, and the as-of join.
  */
/** Input row for the spill-safe secondary-sort demo (top-level so the
  * product encoder has no outer pointer). */
final case class SvRow(l_suppkey: Long, l_shipdate: java.sql.Timestamp,
    l_orderkey: Long, l_linenumber: Int)

object CoverageQueries {

  private def ord(s: org.apache.spark.sql.SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: org.apache.spark.sql.SparkSession, d: String) = Tables.customer(s, d)
  private def prt(s: org.apache.spark.sql.SparkSession, d: String) = Tables.part(s, d)
  private def li(s: org.apache.spark.sql.SparkSession, d: String) = Tables.lineitem(s, d)
  private def ev(s: org.apache.spark.sql.SparkSession, d: String) = Tables.events(s, d)

  def queries: Seq[Q] = Seq(

    // ===== Beam Regex family (transforms/Regex.java:44):
    // matches / find / replaceAll / split re-expressed as native
    // regexp_* expressions (codegen'd, no UDF).
    Q("regex_ops",
      (s, d) => prt(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        col("p_name").rlike("widget|bolt").as("is_hw"),
        size(split(col("p_name"), " ")).cast("long").as("n_words"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).cast("long").as("brand_num")),
      Some("""SELECT p_partkey,
        regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        regexp_matches(p_name, 'widget|bolt') AS is_hw,
        CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num
        FROM part"""), timed = false),

    // ===== Beam ToJson / JsonToRow (transforms/ToJson.java:38,
    // JsonToRow.java:83): serialize a struct to JSON text and parse it
    // back through a schema (round-trip proves both directions).
    Q("json_roundtrip",
      (s, d) => {
        val js = to_json(struct(col("o_orderkey"), col("o_orderstatus")))
        ord(s, d)
          .withColumn("js", js)
          .withColumn("parsed",
            from_json(col("js"), org.apache.spark.sql.types.StructType.fromDDL(
              "o_orderkey BIGINT, o_orderstatus STRING")))
          .select(col("o_orderkey"), col("js"),
            col("parsed.o_orderkey").as("rt_key"),
            col("parsed.o_orderstatus").as("rt_status"))
      },
      Some("""SELECT o_orderkey,
        to_json(struct_pack(o_orderkey := o_orderkey,
                            o_orderstatus := o_orderstatus)) AS js,
        o_orderkey AS rt_key, o_orderstatus AS rt_status
        FROM orders"""), timed = false),

    // ===== Beam Partition (transforms/Partition.java:83): split into N
    // disjoint outputs by predicate; recombined with a part tag so the
    // oracle can verify every branch at once.
    Q("partition_split",
      (s, d) => {
        val parts = Relational.partition(ord(s, d), Seq(
          col("o_totalprice") > 300000,
          col("o_totalprice") > 100000,
          lit(true)))
        parts.zipWithIndex.map { case (p, i) =>
          p.groupBy().agg(count(lit(1)).as("n"),
              round(sum("o_totalprice"), 2).as("total"))
            .select(lit(i).cast("long").as("part_id"), col("n"), col("total"))
        }.reduce(_ unionByName _)
      },
      Some("""SELECT part_id, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM (SELECT CAST(CASE WHEN o_totalprice > 300000 THEN 0
                    WHEN o_totalprice > 100000 THEN 1
                    ELSE 2 END AS BIGINT) AS part_id, o_totalprice
              FROM orders) t
        GROUP BY part_id"""), timed = false),

    // ===== Beam WithFailures (transforms/WithFailures.java:73):
    // dead-letter split on a failing parse (try_cast), success and
    // failure branches recombined with a branch tag.
    Q("with_failures",
      (s, d) => {
        val dirty = ord(s, d).withColumn("raw",
          when(col("o_orderkey") % 3 === 0, concat(lit("x"), col("o_orderkey")))
            .otherwise(col("o_orderkey").cast("string")))
        val (good, bad) = Relational.withFailures(dirty,
          expr("try_cast(raw AS BIGINT)"), col("parsed").isNull, "parsed")
        good.groupBy().agg(count(lit(1)).as("n"), sum("parsed").as("s"))
          .select(lit("ok").as("branch"), col("n"), col("s"))
          .unionByName(
            bad.groupBy().agg(count(lit(1)).as("n"),
              lit(null).cast("bigint").as("s"))
            .select(lit("dead_letter").as("branch"), col("n"), col("s")))
      },
      Some("""SELECT branch, count(*) AS n,
          CASE WHEN branch = 'ok' THEN sum(parsed) END AS s
        FROM (SELECT CASE WHEN TRY_CAST(
                CASE WHEN o_orderkey % 3 = 0
                     THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) IS NULL
              THEN 'dead_letter' ELSE 'ok' END AS branch,
              TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                     THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS parsed
              FROM orders) t
        GROUP BY branch"""), timed = false),

    // ===== Beam GroupIntoBatches (transforms/GroupIntoBatches.java:108),
    // batch form: deterministic per-key batches of 5 in event order
    // (streaming form with state+timer flush:
    // StatefulV2.groupIntoBatchesTws, exercised in StatefulV2Spec).
    Q("batch_per_key",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        ord(s, d)
          .withColumn("batch_id", ((row_number().over(w) - 1) / 5).cast("long"))
          .groupBy("o_custkey", "batch_id")
          .agg(count(lit(1)).as("n"), min("o_orderkey").as("first_ok"),
            max("o_orderkey").as("last_ok"))
      },
      Some("""SELECT o_custkey, CAST((rn - 1) // 5 AS BIGINT) AS batch_id,
        count(*) AS n, min(o_orderkey) AS first_ok, max(o_orderkey) AS last_ok
        FROM (SELECT o_custkey, o_orderkey,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
              FROM orders) t
        GROUP BY o_custkey, (rn - 1) // 5""")),

    // Beam GroupIntoBatches.withShardedKey (transforms/GroupIntoBatches
    // .java:270): a HOT key's batches are built per (key, shard) so
    // they form on MANY reducers in parallel instead of serializing
    // through one — the batching analog of salted aggregation. Shard =
    // portable hash of row identity (deterministic across engines and
    // retries); batches never span shards, stay ≤ size, and per-shard
    // ordering is preserved.
    Q("batch_per_key_sharded",
      (s, d) => {
        val shard = pmod(PortableHash.md5Long(col("o_orderkey")), lit(4))
          .cast("long")
        val w = Window.partitionBy(col("o_custkey"), col("shard"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        ord(s, d).withColumn("shard", shard)
          .withColumn("batch_id", ((row_number().over(w) - 1) / 5).cast("long"))
          .groupBy("o_custkey", "shard", "batch_id")
          .agg(count(lit(1)).as("n"), min("o_orderkey").as("first_ok"),
            max("o_orderkey").as("last_ok"))
      },
      Some(s"""SELECT o_custkey, shard, CAST((rn - 1) // 5 AS BIGINT) AS batch_id,
        count(*) AS n, min(o_orderkey) AS first_ok, max(o_orderkey) AS last_ok
        FROM (SELECT o_custkey, o_orderkey,
              ${PortableHash.md5LongSql("o_orderkey")} % 4 AS shard,
              row_number() OVER (PARTITION BY o_custkey,
                ${PortableHash.md5LongSql("o_orderkey")} % 4
                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
              FROM orders) t
        GROUP BY o_custkey, shard, (rn - 1) // 5""")),

    // ===== Beam SortValues (extensions/sorter/.../SortValues.java):
    // secondary sort — values ordered within each key group without a
    // global sort (sort_array over collected structs; shuffle spills via
    // the normal agg path).
    Q("sortvalues_secondary",
      (s, d) => li(s, d).groupBy(col("l_suppkey"))
        .agg(concat_ws(",",
          transform(
            sort_array(collect_list(struct(
              col("l_shipdate").as("s1"), col("l_orderkey").as("s2"),
              col("l_linenumber").as("v")))),
            x => x.getField("v").cast("string"))).as("lines_in_ship_order")),
      Some("""SELECT l_suppkey,
        string_agg(CAST(l_linenumber AS VARCHAR), ','
          ORDER BY l_shipdate, l_orderkey, l_linenumber) AS lines_in_ship_order
        FROM lineitem GROUP BY l_suppkey""")),

    // Same secondary sort through the SPILL-SAFE path — Beam's sorter
    // extension (BufferedExternalSorter): flatMapSortedGroups hands a
    // lazy sorted iterator off the exchange's external sort, so a
    // giant key streams instead of materializing like collect_list.
    // Identical oracle to sortvalues_secondary ⇒ both forms proven
    // equivalent.
    Q("sortvalues_streamed",
      (s, d) => {
        import s.implicits._
        val ds = li(s, d).select(col("l_suppkey"), col("l_shipdate"),
          col("l_orderkey"), col("l_linenumber")).as[SvRow]
        Relational.sortValuesStreamed[Long, SvRow, (Long, String)](
          ds, _.l_suppkey,
          Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))) {
          (k, it) => Iterator.single(
            (k, it.map(_.l_linenumber.toString).mkString(",")))
        }.toDF("l_suppkey", "lines_in_ship_order")
      },
      Some("""SELECT l_suppkey,
        string_agg(CAST(l_linenumber AS VARCHAR), ','
          ORDER BY l_shipdate, l_orderkey, l_linenumber) AS lines_in_ship_order
        FROM lineitem GROUP BY l_suppkey""")),

    // ===== ROLLUP + GROUPING() (capability bonus over Beam — SURVEY
    // §2.3 notes Beam SQL has single groupSet only).
    Q.sql("agg_rollup", """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        coalesce(l_linestatus, 'ALL') AS ls,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        count(*) AS n, round(sum(l_quantity), 4) AS qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    // ===== Array / map complex types (Beam FieldType.array/map —
    // schema.proto:120,134; BeamSqlDslArrayTest / BeamSqlMapTest).
    Q("complex_types",
      (s, d) => {
        val arr = array(col("p_size"), col("p_size") * 2, col("p_size") + 1)
        val m = map(lit("sz"), col("p_size"), lit("dbl"), col("p_size") * 2)
        prt(s, d).select(
          col("p_partkey"),
          concat_ws(",", transform(sort_array(arr), _.cast("string"))).as("arr_sorted"),
          array_contains(arr, 10).as("has_ten"),
          element_at(arr, 2).cast("long").as("second"),
          size(slice(arr, 1, 2)).cast("long").as("slice_n"),
          element_at(m, "sz").cast("long").as("m_sz"),
          size(m).cast("long").as("m_n"))
      },
      Some("""SELECT p_partkey,
        array_to_string(list_sort([p_size, p_size * 2, p_size + 1]), ',') AS arr_sorted,
        list_contains([p_size, p_size * 2, p_size + 1], 10) AS has_ten,
        CAST(([p_size, p_size * 2, p_size + 1])[2] AS BIGINT) AS second,
        CAST(len(([p_size, p_size * 2, p_size + 1])[1:2]) AS BIGINT) AS slice_n,
        CAST(map_extract(map(['sz', 'dbl'], [p_size, p_size * 2]), 'sz')[1] AS BIGINT) AS m_sz,
        CAST(cardinality(map(['sz', 'dbl'], [p_size, p_size * 2])) AS BIGINT) AS m_n
        FROM part"""), timed = false),

    // ===== Nested-row schema transforms (schemas/transforms/: AddFields/
    // DropFields/RenameFields/nested Select — SURVEY M3): build a nested
    // struct, add a computed field with withField, read nested paths
    // back out flat.
    Q("schema_nested",
      (s, d) => {
        val nested = struct(
          col("o_orderkey").as("id"),
          struct(col("o_totalprice").as("amt"),
            col("o_orderstatus").as("st")).as("fin"))
        ord(s, d).select(nested.as("row"))
          .withColumn("row", col("row").withField("fin.tier",
            when(col("row.fin.amt") > 200000, "big").otherwise("small")))
          .withColumn("row", col("row").dropFields("fin.st"))
          .select(
            col("row.id").as("id"),
            round(col("row.fin.amt"), 2).as("amt"),
            col("row.fin.tier").as("tier"))
      },
      Some("""SELECT o_orderkey AS id, round(o_totalprice, 2) AS amt,
        CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS tier
        FROM orders"""), timed = false),

    // ===== SchemaOps facade end-to-end (schemas/transforms/
    // RenameFields.java:64, AddFields.java:65, Cast.java:60,
    // Select.java:121 flattenedSchema): build a 3-level nested row,
    // rename a nested field, add a computed nested field, narrow-cast
    // it, then flatten every struct leaf to `_`-joined top-level
    // columns. All pure projections — one codegen'd stage, no shuffle.
    // Spark double→long cast TRUNCATES toward zero while DuckDB CAST
    // rounds half-away, so the oracle spells trunc() explicitly.
    Q("schema_flatten_rename",
      (s, d) => {
        import graft.operators.SchemaOps
        val nested = ord(s, d).select(col("o_orderkey").as("id"),
          struct(col("o_totalprice").as("amt"),
            col("o_orderstatus").as("st"),
            struct(col("o_orderpriority").as("pr")).as("meta")).as("fin"))
        val renamed = SchemaOps.renameFields(nested, "fin.amt" -> "amount")
        val added = SchemaOps.addFields(renamed,
          "fin.tier" -> when(col("fin.amount") > 200000, "big")
            .otherwise("small"))
        val narrowed = SchemaOps.castFields(added,
          "fin.amount" -> org.apache.spark.sql.types.LongType)
        SchemaOps.flattenSchema(narrowed)
          .select("id", "fin_st", "fin_meta_pr", "fin_amount", "fin_tier")
      },
      Some("""SELECT o_orderkey AS id, o_orderstatus AS fin_st,
          o_orderpriority AS fin_meta_pr,
          CAST(trunc(o_totalprice) AS BIGINT) AS fin_amount,
          CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END
            AS fin_tier
        FROM orders"""), timed = false),

    // ===== As-of join (SURVEY §2.4 capability bonus; absent in Beam):
    // each purchase matched to the user's latest click at-or-before it.
    // Single-shuffle union trick — no range join, no BNLJ; verified
    // against DuckDB's native ASOF LEFT JOIN. Both sides reduced to
    // microsecond timestamps first so engines agree on ties.
    Q("join_asof",
      (s, d) => {
        val e = ev(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val clicks = e.filter(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("click_event_id"))
        Joins.asOfJoin(purchases, clicks, "user_id", "ts",
            leftCols = Seq("event_id"), valueCols = Seq("click_event_id"))
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id").as("purchase_event"), col("r_click_event_id"))
      },
      Some("""WITH p AS (
          SELECT user_id, make_timestamp(epoch_us(ts)) AS tsu, event_id
          FROM events WHERE event_type = 'purchase'
        ), c AS (
          SELECT user_id, make_timestamp(epoch_us(ts)) AS tsu,
            max(event_id) AS click_event_id
          FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.user_id, epoch_us(p.tsu) AS ts_us,
          p.event_id AS purchase_event, c.click_event_id AS r_click_event_id
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.tsu >= c.tsu""")),

    // ===== Banded INTERVAL join (Flink's interval join; Beam users
    // hand-roll it with CoGBK + windows): same-user event pairs where
    // the right event falls in (0, 6h] after the left. The naive form
    // is a per-key non-equi cross product; [[Joins.intervalJoin]]
    // banding turns it into a hash EQUI-join on (key, time-bucket)
    // with a constant ≤2 bucket explode — the shape that survives
    // 100 TB. Oracle: DuckDB's native range-condition join.
    Q("join_interval",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        Joins.intervalJoin(e, e, "user_id", "ts_us", "ts_us",
            lowerUs = 1L, upperUs = 21600000000L)
          .select(col("user_id"),
            col("event_id_l"), col("event_id_r"),
            (col("ts_us_r") - col("ts_us_l")).as("gap_us"))
      },
      Some("""SELECT l.user_id, l.event_id AS event_id_l,
          r.event_id AS event_id_r,
          epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
        FROM events l JOIN events r ON l.user_id = r.user_id
          AND epoch_us(r.ts) >= epoch_us(l.ts) + 1
          AND epoch_us(r.ts) <= epoch_us(l.ts) + 21600000000""")),

    // ===== WithKeys / Keys / Values / KvSwap / MapKeys / MapValues
    // (transforms/WithKeys.java:58 etc.): KV-shape manipulation as
    // column projections.
    Q("kv_ops",
      (s, d) => ord(s, d)
        .select(col("o_custkey").as("key"), col("o_totalprice").as("value"))
        .select(col("value").as("key"), col("key").as("value"))   // KvSwap
        .select((col("key") * 2).as("key"), col("value"))          // MapKeys
        .select(col("key"), concat(lit("c"), col("value")).as("value")) // MapValues
        .groupBy("value").agg(round(sum("key"), 4).as("sum_key")),
      Some("""SELECT 'c' || CAST(o_custkey AS VARCHAR) AS value,
        round(sum(o_totalprice * 2), 4) AS sum_key
        FROM orders GROUP BY 1"""), timed = false),

    // ===== Reshuffle / Reshuffle.viaRandomKey (transforms/
    // Reshuffle.java:62): values pass through a keyed redistribution
    // AND a round-robin one unchanged — the oracle's order-insensitive
    // row-set compare verifies exactly Beam's contract (identity on
    // values, physical placement free); the partition-count contract
    // is ScaleSpec's.
    Q("reshuffle_roundtrip",
      (s, d) => ev(s, d)
        .repartition(32, pmod(col("event_id"), lit(97)))  // Reshuffle (keyed)
        .repartition(16)                                  // viaRandomKey
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value")),
      Some("""SELECT event_id, user_id, event_type,
          round(value, 4) AS value
        FROM events"""), timed = false),

    // ===== Tee / LogElements (transforms/Tee.java:40): a side
    // observation attached to the main path — `observe` registers
    // per-batch accumulators without altering the flow, so the output
    // must be exactly the input row set (the dead-letter/metrics tee
    // the reference threads through pipelines).
    Q("observe_tee",
      (s, d) => ord(s, d)
        .observe("tee_stats", count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_tp"))
        .select(col("o_orderkey"), col("o_orderstatus")),
      Some("SELECT o_orderkey, o_orderstatus FROM orders"), timed = false),

    // ===== Sample.fixedSizeGlobally (transforms/Sample.java:50):
    // exact-size deterministic sample — smallest n by portable hash
    // (a reproducible reservoir; Beam's is random, ours is stable for
    // golden tests).
    Q("sample_fixed_size",
      (s, d) => ord(s, d)
        .orderBy(graft.functions.PortableHash.md5Long(
          col("o_orderkey").cast("string")).asc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_custkey"),
      Some(s"""SELECT o_orderkey, o_custkey FROM orders
        ORDER BY ${graft.functions.PortableHash.md5LongSql(
          "CAST(o_orderkey AS VARCHAR)")} ASC, o_orderkey ASC LIMIT 100"""), timed = false),

    // ===== Combine.withFanout (transforms/Combine.java — hot-key
    // fanout): two-stage salted aggregation over a 3-distinct-value key
    // (maximal skew — every row hits one of 3 reducers without the
    // salt). Result is identical to the direct groupBy; only the
    // physical shuffle shape differs.
    Q("agg_salted_fanout",
      (s, d) => Relational.saltedAgg(li(s, d), Seq(col("l_returnflag")),
          fanout = 16,
          stage1Aggs = Seq(sum("l_quantity").as("qty"),
            count(lit(1)).as("n"), max("l_extendedprice").as("mx")),
          stage2Aggs = Seq(round(sum("qty"), 4).as("qty"),
            sum("n").as("n"), max("mx").as("mx"))),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 4) AS qty,
        count(*) AS n, max(l_extendedprice) AS mx
        FROM lineitem GROUP BY l_returnflag""")),

    // ===== SQL front door (SURVEY §3.2: Catalyst replaces Calcite
    // wholesale): the full pipeline expressed as one SQL string over
    // the base tables — parser, analyzer, optimizer, codegen all
    // native.
    Q.sql("sql_front_door", """SELECT c_mktsegment, CAST(year(o_orderdate) AS BIGINT) AS yr,
        count(*) AS n, round(sum(o_totalprice), 2) AS revenue,
        CAST(rank() OVER (PARTITION BY c_mktsegment
          ORDER BY round(sum(o_totalprice), 2) DESC) AS BIGINT) AS yr_rank
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, year(o_orderdate)"""),

    // ===== SQL-text TVF windowing (rule/BeamAggregationRule.java:121-165
    // rewrites GROUP BY TUMBLE(ts, …) into windowed aggregation; Spark
    // SQL accepts GROUP BY window(ts, '1 hour') natively — parser,
    // window assignment, and agg all from SQL text).
    Q("sql_front_door_windowed",
      (s, d) => Q.run(s, d, """
          SELECT CAST(unix_timestamp(window.start) AS BIGINT) AS win_start,
                 event_type, count(*) AS n, round(sum(value), 4) AS sum_value
          FROM events
          GROUP BY window(ts, '1 hour'), event_type"""),
      Some("""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2"""), timed = false),

    // ===== User CombineFn → SQL UDAF (transforms/Combine.java:88
    // CombineFn contract; SQL wrap ≡ impl/UdafImpl.java): a user
    // Aggregator[IN,BUF,OUT] (geometric mean — no Spark built-in)
    // registered via spark.udf.register and called from SQL text;
    // partial-agg lifted like any native aggregate.
    Q("sql_udaf_geomean",
      (s, d) => {
        graft.functions.UserAggregators.register(s)
        Q.run(s, d, """
          SELECT o_orderpriority, round(geo_mean(o_totalprice), 4) AS gm,
                 count(*) AS n
          FROM orders GROUP BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority,
        round(exp(avg(ln(o_totalprice))), 4) AS gm, count(*) AS n
        FROM orders GROUP BY 1""")),

    // ===== n-ary schema CoGroup (schemas/transforms/CoGroup.java:819):
    // three keyed inputs cogrouped on nationkey with per-input
    // participation — INNER on customer (keys absent from customer
    // drop), OUTER on supplier and nation (absent → empty array).
    Q("cogroup_3way",
      (s, d) => Joins.coGroup(
        Seq(
          (cust(s, d).select(col("c_nationkey").cast("long").as("nationkey"),
            col("c_name")), "c_name"),
          (Tables.supplier(s, d).select(
            col("s_nationkey").cast("long").as("nationkey"),
            col("s_name")), "s_name"),
          (Tables.nation(s, d).select(
            col("n_nationkey").cast("long").as("nationkey"),
            col("n_name")), "n_name")),
        key = "nationkey", inner = Seq(true, false, false))
        // The grouped lists are emitted as '|'-joined strings, not
        // arrays: the driver's pandas-based checker cannot sort/hash
        // array cells (it crashed on them in round 3), and a joined
        // sorted list carries the same information.
        .select(col("nationkey"),
          array_join(sort_array(col("values_0")), "|").as("values_0"),
          array_join(sort_array(col("values_1")), "|").as("values_1"),
          array_join(sort_array(col("values_2")), "|").as("values_2")),
      Some("""WITH c AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
            list_sort(list(c_name)) AS values_0 FROM customer GROUP BY 1
        ), su AS (
          SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
            list_sort(list(s_name)) AS values_1 FROM supplier GROUP BY 1
        ), na AS (
          SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
            list_sort(list(n_name)) AS values_2 FROM nation GROUP BY 1)
        SELECT c.nationkey,
          coalesce(array_to_string(values_0, '|'), '') AS values_0,
          coalesce(array_to_string(values_1, '|'), '') AS values_1,
          coalesce(array_to_string(values_2, '|'), '') AS values_2
        FROM c LEFT JOIN su USING (nationkey)
               LEFT JOIN na USING (nationkey)""")),

    // ===== Exception-catching dead-letter (transforms/WithFailures
    // .java:73 — the throwing-DoFn path, complementing the
    // expression-level try_cast form of `with_failures`): a transform
    // that throws on small values routes (input, error) to the failure
    // branch; successes carry the computed result. One frame, two
    // branches, one evaluation.
    Q("with_failures_caught",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val evts = ev(s, d).select(col("event_id"), col("value"))
          .as[(Long, Double)]
        Relational.tryMap[(Long, Double), (Long, Double)](evts, {
          case (id, v) =>
            if (v < 0.2) throw new IllegalArgumentException(s"too_small:$id")
            (id, BigDecimal(math.sqrt(v))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }).map { case (ok, failed, err) =>
          (ok.map(_._1).orElse(failed.map(_._1)).get, ok.map(_._2), Option(err))
        }.toDF("event_id", "sqrt_value", "err")
      },
      Some("""SELECT event_id,
        CASE WHEN value >= 0.2 THEN round(sqrt(value), 6) END AS sqrt_value,
        CASE WHEN value < 0.2
          THEN 'java.lang.IllegalArgumentException: too_small:' || event_id
        END AS err
        FROM events"""), timed = false),

    // ===== DDL/catalog front door (SURVEY §2.8 — Beam SQL's
    // CREATE EXTERNAL TABLE / Calcite catalog, parser/.../SqlDdlNodes):
    // DDL statements run through the same SQL entry point as queries —
    // a view defined by CREATE TEMPORARY VIEW is queried downstream.
    Q("sql_ddl_catalog",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("v_nation_raw")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW v_nation_filtered AS
          SELECT n_nationkey, n_name, n_regionkey FROM v_nation_raw
          WHERE n_regionkey IN (1, 3)""")
        s.sql("""SELECT n_regionkey, count(*) AS n,
          min(n_name) AS first_name FROM v_nation_filtered
          GROUP BY n_regionkey""")
      },
      Some("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        FROM nation WHERE n_regionkey IN (1, 3) GROUP BY n_regionkey"""), timed = false),

    // ===== GroupByEncryptedKey (transforms/GroupByEncryptedKey.java:52):
    // group on an HMAC'd key so the plaintext never crosses the shuffle.
    Q("group_by_encrypted",
      (s, d) => cust(s, d)
        .groupBy(sha2(concat(col("c_mktsegment"), lit(":pepper")), 256).as("ek"))
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 4).as("bal")),
      Some("""SELECT sha256(c_mktsegment || ':pepper') AS ek,
        count(*) AS n, round(sum(c_acctbal), 4) AS bal
        FROM customer GROUP BY 1"""), timed = false),

    // ===== Reify (transforms/Reify.java:45): expose element timestamp
    // and assigned window as ordinary values.
    Q("reify_metadata",
      (s, d) => ev(s, d).select(
        col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_timestamp(window(col("ts"), "1 hour").getField("start"))
          .as("win_start"),
        unix_timestamp(window(col("ts"), "1 hour").getField("end"))
          .as("win_end")),
      Some("""SELECT event_id, epoch_us(make_timestamp(epoch_us(ts))) AS ts_us,
        CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS win_end
        FROM events"""), timed = false),

    // ===== ApproximateQuantiles / TDigestQuantiles (sketching ext):
    // the approximate VALUES are engine-specific, but the RANK-ERROR
    // BOUND is the operator's contract (Greenwald-Khanna with
    // accuracy=1000 → ε = 1/1000): each approx quantile must lie
    // between the exact percentiles at q ∓ 0.005 (5× ε padding; exact
    // interpolated percentile ≡ DuckDB quantile_cont). Spark's sketch
    // is deterministic → the three bound flags are exact reproducible
    // facts the oracle asserts, alongside the exact median.
    Q("agg_approx_quantiles",
      (s, d) => li(s, d).groupBy("l_linestatus")
        .agg(expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000)")
          .as("aq"),
          expr("percentile(l_quantity, array(0.245, 0.255, 0.495, 0.505, 0.745, 0.755))")
            .as("ex"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("exact_q50"))
        .select(col("l_linestatus"), col("exact_q50"),
          (element_at(col("aq"), 1) >= element_at(col("ex"), 1) &&
           element_at(col("aq"), 1) <= element_at(col("ex"), 2))
            .cast("long").as("ok25"),
          (element_at(col("aq"), 2) >= element_at(col("ex"), 3) &&
           element_at(col("aq"), 2) <= element_at(col("ex"), 4))
            .cast("long").as("ok50"),
          (element_at(col("aq"), 3) >= element_at(col("ex"), 5) &&
           element_at(col("aq"), 3) <= element_at(col("ex"), 6))
            .cast("long").as("ok75")),
      Some("""SELECT l_linestatus,
          round(quantile_cont(l_quantity, 0.5), 6) AS exact_q50,
          CAST(1 AS BIGINT) AS ok25, CAST(1 AS BIGINT) AS ok50,
          CAST(1 AS BIGINT) AS ok75
        FROM lineitem GROUP BY 1""")),

    // HLL sketch REUSE — the pre-aggregate rollup pattern
    // (HllCount.MergePartial, extensions/zetasketch/HllCount.java): fine
    // -grained sketches (per returnflag×linestatus) merge UPWARD into
    // coarser distinct counts without rescanning raw data — at 100 TB
    // the fine sketches live in a pre-agg table and every rollup is
    // O(groups), not O(rows). Gate: merged estimate within 10% of the
    // exact distinct, which the oracle recomputes.
    Q("agg_hll_rollup",
      (s, d) => {
        val fine = li(s, d).groupBy("l_returnflag", "l_linestatus")
          .agg(expr("hll_sketch_agg(l_orderkey)").as("sk"))
        val rolled = fine.groupBy("l_returnflag")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
        val exact = li(s, d).groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
        rolled.join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("exact_orders"),
            (abs(col("approx") - col("exact_orders")) * 10
              <= col("exact_orders")).cast("long").as("within_10pct"))
      },
      Some("""SELECT l_returnflag,
          count(DISTINCT l_orderkey) AS exact_orders,
          CAST(1 AS BIGINT) AS within_10pct
        FROM lineitem GROUP BY 1""")),

    // ===== TDigestQuantiles (extensions/sketching/TDigestQuantiles
    // .java:139): OUR OWN mergeable t-digest as a TypedImperativeAggregate
    // (functions/TDigest.scala) — per-key digests built per partition,
    // merged in the exchange (O(compression) centroids cross, O(1) in
    // data), quantiles read back out of the sketch. Same deterministic
    // contract gate as agg_approx_quantiles: each estimate must land
    // within the exact ±2%-rank value bounds the oracle recomputes.
    Q("agg_tdigest_quantiles",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        li(s, d).groupBy("l_linestatus")
          .agg(expr("tdigest_agg(l_extendedprice, 200)").as("sk"),
            expr("percentile(l_extendedprice, array(0.23, 0.27, 0.48, 0.52, 0.73, 0.77))")
              .as("ex"),
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_q50"))
          .select(col("l_linestatus"), col("exact_q50"),
            (expr("tdigest_quantile(sk, 0.25d)")
              .between(element_at(col("ex"), 1), element_at(col("ex"), 2)))
              .cast("long").as("ok25"),
            (expr("tdigest_quantile(sk, 0.5d)")
              .between(element_at(col("ex"), 3), element_at(col("ex"), 4)))
              .cast("long").as("ok50"),
            (expr("tdigest_quantile(sk, 0.75d)")
              .between(element_at(col("ex"), 5), element_at(col("ex"), 6)))
              .cast("long").as("ok75"))
      },
      Some("""SELECT l_linestatus,
          round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_q50,
          CAST(1 AS BIGINT) AS ok25, CAST(1 AS BIGINT) AS ok50,
          CAST(1 AS BIGINT) AS ok75
        FROM lineitem GROUP BY 1""")),

    // T-digest ROLLUP — the same pre-aggregate reuse for QUANTILES:
    // per-(returnflag, linestatus) digests merge upward via
    // tdigest_merge_agg into per-returnflag quantiles without touching
    // raw values again; gate = merged estimate inside exact ±2%-rank
    // bounds (merging loses a little accuracy vs a direct digest, well
    // inside the bound).
    Q("agg_tdigest_rollup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val fine = li(s, d).groupBy("l_returnflag", "l_linestatus")
          .agg(expr("tdigest_agg(l_extendedprice, 200)").as("sk"))
        val rolled = fine.groupBy("l_returnflag")
          .agg(expr("tdigest_quantile(tdigest_merge_agg(sk, 200), 0.5d)")
            .as("approx_q50"))
        val exact = li(s, d).groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.48, 0.52))").as("ex"),
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_q50"))
        rolled.join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("exact_q50"),
            col("approx_q50").between(element_at(col("ex"), 1),
              element_at(col("ex"), 2)).cast("long").as("ok50"))
      },
      Some("""SELECT l_returnflag,
          round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_q50,
          CAST(1 AS BIGINT) AS ok50
        FROM lineitem GROUP BY 1""")),

    // ===== HllCount.Init/Extract (extensions/zetasketch/HllCount.java):
    // mergeable HLL sketch bytes + estimate (DataSketches, lgK=12 →
    // ~1.6% rsd); same error-bound contract as agg_approx_distinct —
    // the 10% bound flag is deterministic and oracle-asserted, next to
    // the exact cardinality. Sketch MERGEABILITY is spec'd in
    // ScaleSpec (hll_union of partial sketches).
    Q("agg_hll_sketch",
      (s, d) => li(s, d).groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey))")
          .as("approx"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx") - col("exact_orders")) * 10
            <= col("exact_orders")).cast("long").as("within_10pct")),
      Some("""SELECT l_returnflag,
          count(DISTINCT l_orderkey) AS exact_orders,
          CAST(1 AS BIGINT) AS within_10pct
        FROM lineitem GROUP BY 1""")),

    // ===== MLTransform min-max scaling (ml/transforms/base.py:298 —
    // fit artifacts then transform): global min/max fit in one agg,
    // broadcast back over the data. Two narrow passes, no shuffle of
    // the main table.
    Q("ml_minmax_scale",
      (s, d) => {
        val fit = ord(s, d).agg(min("o_totalprice").as("mn"),
          max("o_totalprice").as("mx"))
        ord(s, d).crossJoin(broadcast(fit))
          .select(col("o_orderkey"),
            // degenerate range (constant column / single row): scaled
            // value undefined → NULL, never a divide-by-zero crash
            when(col("mx") > col("mn"),
              round((col("o_totalprice") - col("mn"))
                / (col("mx") - col("mn")), 6))
              .as("scaled"))
      },
      Some("""SELECT o_orderkey,
        CASE WHEN max(o_totalprice) OVER () > min(o_totalprice) OVER () THEN
          round((o_totalprice - min(o_totalprice) OVER ())
            / (max(o_totalprice) OVER () - min(o_totalprice) OVER ()), 6)
        END AS scaled
        FROM orders""")),

    // ===== PIVOT (long → wide rotation): Beam reaches this through the
    // pandas DeferredDataFrame facade (dataframe/frames.py pivot);
    // Spark has it natively as a relational op. Pinned value list so
    // the output schema is static (no extra values-discovery job) —
    // the form that scales (discovery over 100 TB is its own pass).
    Q("pivot_wide",
      (s, d) => ord(s, d).groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_filled"),
          coalesce(col("P"), lit(0L)).as("n_pending")),
      Some("""SELECT o_orderpriority,
        count(*) FILTER (o_orderstatus = 'O') AS n_open,
        count(*) FILTER (o_orderstatus = 'F') AS n_filled,
        count(*) FILTER (o_orderstatus = 'P') AS n_pending
        FROM orders GROUP BY o_orderpriority""")),

    // ===== UNPIVOT / melt (wide → long): the inverse rotation, Spark
    // Dataset.unpivot (pandas DeferredDataFrame melt in Beam).
    Q("unpivot_long",
      (s, d) => li(s, d).groupBy("l_returnflag").agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value"),
      Some("""WITH wide AS (SELECT l_returnflag,
          round(sum(l_quantity), 2) AS sum_qty,
          round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price' AS metric, sum_price FROM wide""")),

    // ===== UDTF surface (§2.13): generator expressions. stack() turns
    // N column groups into rows — the SQL-native FlatMapElements shape
    // (Beam SQL reaches table functions through Calcite UNNEST).
    Q("udtf_stack",
      (s, d) => prt(s, d).selectExpr("p_partkey",
        "stack(2, 'brand', p_brand, 'type', p_type) AS (attr, val)"),
      Some("""SELECT p_partkey, 'brand' AS attr, p_brand AS val FROM part
        UNION ALL SELECT p_partkey, 'type', p_type FROM part""")),

    // posexplode_outer: ordinal-preserving explode that keeps rows with
    // EMPTY collections (null pos/word) — Beam FlatMap drops them, the
    // outer generator is the join-preserving variant. ~37% of parts
    // have no >=5-char word at this data, so both branches are live.
    Q("udtf_posexplode_outer",
      (s, d) => prt(s, d)
        .withColumn("long_words",
          filter(split(col("p_name"), " "), w => length(w) >= 5))
        .select(col("p_partkey"),
          posexplode_outer(col("long_words")).as(Seq("pos", "word"))),
      Some("""WITH lw AS (SELECT p_partkey,
          list_filter(string_split(p_name, ' '), w -> len(w) >= 5) AS ws
        FROM part)
        SELECT p_partkey, CAST(i - 1 AS INT) AS pos, ws[i] AS word
        FROM lw CROSS JOIN LATERAL
          (SELECT unnest(generate_series(1, len(ws))) AS i) g
        UNION ALL
        SELECT p_partkey, NULL, NULL FROM lw WHERE len(ws) = 0""")),

    // ===== Data profiling (the describe()/ApproximateUnique-adjacent
    // surface a curation pipeline runs first on a new 100 TB drop).
    // One single-pass aggregate over the fact table: row count, null
    // counts, exact distinct cardinalities, min/max/mean per column —
    // one partial-agg shuffle of a single row (count_distinct expands
    // to the expand-operator plan; still one pass over the scan).
    Q.sql("profile_columns", """SELECT count(*) AS n_rows,
        CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null_shipdate,
        count(DISTINCT l_returnflag) AS d_returnflag,
        count(DISTINCT l_partkey) AS d_partkey,
        min(l_extendedprice) AS min_price,
        max(l_extendedprice) AS max_price,
        round(avg(l_extendedprice), 4) AS avg_price,
        round(avg(l_quantity), 4) AS avg_qty
        FROM lineitem"""),

    // Fixed-bin histogram with literal bounds: bin = min(floor(x/w), K)
    // — zero-shuffle binning then one tiny partial-agg exchange of at
    // most K+1 rows. Literal bin edges (not a data-dependent fit) are
    // the 100 TB form: no extra pass, reproducible across drops.
    Q.sql("profile_histogram", """SELECT CAST(least(floor(l_extendedprice / 5000), 19) AS BIGINT) AS bin,
        count(*) AS n,
        round(min(l_extendedprice), 2) AS lo,
        round(max(l_extendedprice), 2) AS hi
        FROM lineitem GROUP BY 1"""),
  )
}
