package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, TextAnalysis}

/** Text-analysis + dedup coverage over the `documents` table: token
  * stats, language ID, quality scoring, fingerprinting, SimHash, exact
  * dedup, MinHash-LSH and n-gram-Jaccard near-dup pairs. Every hash is
  * [[graft.functions.PortableHash]]-derived so DuckDB reproduces it
  * bit-for-bit.
  */
object TextQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)

  /** DuckDB token-list expression mirroring TextAnalysis.tokens. */
  private val toksSql =
    """CASE WHEN length(trim(text)) = 0 THEN []
       ELSE string_split_regex(trim(text), '\s+') END"""

  /** BM25 (k1 = 1.2, b = 0.75) document scores for a fixed query term
    * set in ONE corpus scan: per-term tf columns, then a 1-row global
    * fit (N, avgdl, per-term df) broadcast back over the scored scan —
    * the corpus is never self-joined. Shared by `text_bm25_search` and
    * `rag_rrf_fusion` (reference retrieval shape:
    * sdks/java/extensions/ml uses external search; this is the
    * in-engine equivalent). Scores round to 4 so downstream ranking
    * is deterministic cross-engine. */
  private[queries] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      d: String, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val k1 = 1.2
    val base = docs(s, d)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("dl", size(col("toks")).cast("double"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter(col("toks"), x => x === lit(t))).cast("double"))
    }.drop("toks", "text", "lang", "source", "n_chars")
    val fitAggs = count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val fit = withTf.agg(fitAggs.head, fitAggs.tail: _*)
    val score = terms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0))
      idf * col(s"tf$i") * lit(k1 + 1) /
        (col(s"tf$i") + lit(k1) *
          (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(fit))
      .filter(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(score, 4).as("bm25"))
  }

  /** [[bm25Scores]] for SEVERAL query term-sets in ONE corpus scan
    * (r19 opt, guide §1.2 "don't pass over the data twice"): tf columns
    * for the distinct term union, one global fit (N, avgdl, every
    * term's df — all identical to the per-set fits, since each is a
    * whole-corpus statistic), then every query's score emitted from the
    * same scored scan via a per-query struct explode. Scores and the
    * any-term filter replicate [[bm25Scores]] exactly, term by term —
    * `rag_rrf_fusion` previously paid 2 tokenizing corpus scans + 2 fit
    * aggregations for its two queries. Returns (query_id, doc_id,
    * bm25). */
  private[queries] def bm25ScoresMulti(s: org.apache.spark.sql.SparkSession,
      d: String, termsByQuery: Seq[(Long, Seq[String])])
      : org.apache.spark.sql.DataFrame = {
    val k1 = 1.2
    val allTerms = termsByQuery.flatMap(_._2).distinct
    val base = docs(s, d)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("dl", size(col("toks")).cast("double"))
    val withTf = allTerms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter(col("toks"), x => x === lit(t))).cast("double"))
    }.drop("toks", "text", "lang", "source", "n_chars")
    val fitAggs = count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      allTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val fit = withTf.agg(fitAggs.head, fitAggs.tail: _*)
    val perQuery = termsByQuery.map { case (qid, terms) =>
      val idx = terms.map(allTerms.indexOf)
      val score = idx.map { i =>
        val idf = log((col("n") - col(s"df$i") + lit(0.5)) /
          (col(s"df$i") + lit(0.5)) + lit(1.0))
        idf * col(s"tf$i") * lit(k1 + 1) /
          (col(s"tf$i") + lit(k1) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
      }.reduce(_ + _)
      val anyTf = idx.map(i => col(s"tf$i") > 0).reduce(_ || _)
      struct(lit(qid).as("query_id"),
        when(anyTf, round(score, 4)).as("bm25"))
    }
    withTf.crossJoin(broadcast(fit))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("q"))
      .filter(col("q.bm25").isNotNull)
      .select(col("q.query_id").as("query_id"), col("doc_id"),
        col("q.bm25").as("bm25"))
  }

  /** DuckDB mirror of [[bm25Scores]] producing (doc_id, bm25). */
  private[queries] def bm25ScoresSql(terms: Seq[String]): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n          ")
    val dfAggs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i")
      .mkString(",\n          ")
    val scoreTerms = terms.indices.map(i =>
      s"""ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * tf$i * 2.2
              / (tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))""")
      .mkString("\n          + ")
    val anyTf = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        dd AS (SELECT doc_id,
          CAST(len(toks) AS DOUBLE) AS dl,
          $tfCols
          FROM t),
        g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
          $dfAggs
          FROM dd)
        SELECT doc_id, round($scoreTerms, 4) AS bm25
        FROM dd, g
        WHERE $anyTf"""
  }

  /** Shared DuckDB CTE body producing sh(doc_id, simhash) — the
    * `bits`-wide SimHash replicated bit-for-bit (used by text_simhash
    * at 16 bits and dedup_simhash_pairs at 64). The token hash is the
    * SIGNED 64-bit value of md5's first 8 bytes; DuckDB's BIGINT can't
    * hold the unsigned form and `<<` is overflow-checked, so bit b is
    * read from the 15-hex-char prefix / 16th nibble split and bit 63
    * contributes the negative two's-complement constant via HUGEINT. */
  private def simhashCtes(bits: Int) =
    s"""tk AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0
        ), h AS (
          SELECT doc_id,
            CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h60,
            CAST('0x' || substr(md5(tok), 16, 1) AS BIGINT) AS nib
          FROM tk
        ), v AS (
          SELECT doc_id, b.bit,
            sum(CASE WHEN (CASE WHEN b.bit >= 4 THEN h60 >> (b.bit - 4)
                                ELSE nib >> b.bit END) & 1 = 1
                THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN (SELECT unnest(generate_series(0, ${bits - 1})) AS bit) b
          GROUP BY 1, 2
        ), sh AS (
          SELECT d.doc_id,
            CAST(coalesce(sum(CASE WHEN v.vote > 0 THEN
              CASE WHEN v.bit = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                   ELSE CAST(CAST(1 AS BIGINT) << v.bit AS HUGEINT) END
              ELSE 0 END), 0) AS BIGINT) AS simhash
          FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
          GROUP BY d.doc_id)"""

  /** DuckDB CTE chain rebuilding the MinHash-LSH candidate pairs
    * (tok → shingles → affine signatures → band buckets → pair), shared
    * by dedup_minhash_pairs and dedup_clusters. */
  private[queries] val minhashPairCtes: String = s"""tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), sh AS (
          SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
          FROM tok CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
        ), sig AS (
          SELECT doc_id, ab.hid,
            min((ab.a * (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483648) + ab.b)
                % ${Dedup.MinHashPrime}) AS hv
          FROM sh CROSS JOIN (SELECT * FROM (VALUES ${
            (0 until 16).map { i =>
              val (a, b) = Dedup.affineParams(i)
              s"($i, $a, $b)"
            }.mkString(", ")
          }) AS t(hid, a, b)) ab
          GROUP BY 1, 2
        ), band AS (
          SELECT doc_id, hid // 4 AS band,
            md5(string_agg(CAST(hv AS VARCHAR), '_' ORDER BY hid)) AS bucket
          FROM sig GROUP BY doc_id, hid // 4
        ), pair AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM band a JOIN band b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )"""

  /** Full language-ID SELECT (doc_id, lang_guess) — reused by
    * text_lang_id and the curation pipeline oracle. */
  private val langIdSelect: String = """WITH t AS (
          SELECT doc_id,
            CASE WHEN length(trim(lower(text))) = 0 THEN []
                 ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
          FROM documents
        ), sc AS (
          SELECT doc_id,
            len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS s_en,
            len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS s_de,
            len(list_filter(toks, x -> x IN ('le','la','et','les','est'))) AS s_fr,
            len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS s_es
          FROM t)
        SELECT doc_id,
          CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
               WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
               WHEN s_de = greatest(s_de, s_fr, s_es) THEN 'de'
               WHEN s_fr = greatest(s_fr, s_es) THEN 'fr'
               ELSE 'es' END AS lang_guess
        FROM sc"""

  /** Full quality-score SELECT (doc_id, quality) — reused by
    * text_quality and the curation pipeline oracle. */
  private lazy val qualitySelect: String = s"""WITH t AS (
          SELECT doc_id,
            CAST(length(text) AS DOUBLE) AS nc,
            CAST(len($toksSql) AS DOUBLE) AS nt,
            CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
            CAST(len(list_filter(
              CASE WHEN length(trim(lower(text))) = 0 THEN []
                   ELSE string_split_regex(trim(lower(text)), '\\s+') END,
              x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE) AS ns
          FROM documents)
        SELECT doc_id, round(
          least(nt / 50.0, 1.0) * 0.4
          + (CASE WHEN nt > 0 AND nc / nt >= 3 AND nc / nt <= 10 THEN 1.0 ELSE 0.5 END) * 0.3
          + least((CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END) * 4.0, 1.0) * 0.2
          + least((CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END) * 10.0, 1.0) * 0.1, 6) AS quality
        FROM t"""

  def queries: Seq[Q] = Seq(

    // Token counting + document fingerprints (rolling content hash).
    Q("text_stats",
      (s, d) => docs(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.fingerprint64(col("text")).as("fp64")),
      Some(s"""SELECT doc_id,
        CAST(len($toksSql) AS BIGINT) AS n_tokens,
        CAST(length(text) AS BIGINT) AS len_chars,
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
        CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15) AS BIGINT) AS fp64
        FROM documents""")),

    // ===== URL canonicalization — the web-corpus curation pass before
    // per-URL dedup and host grouping (CommonCrawl-style normalize +
    // SURT): lowercase host, drop fragment + tracking params
    // (utm_*/fbclid/gclid), reversed SURT host so one site's pages
    // cluster in one sort range at 100 TB. Synthetic URLs derive
    // deterministically from (source, doc_id) — mixed-case host and
    // interleaved utm params prove the normalization is real. All
    // native parse_url/HOF codegen, zero shuffle.
    Q("text_url_canonicalize",
      (s, d) => {
        val url = concat(lit("https://WWW."), upper(col("source")),
          lit(".Example.COM/docs/"), col("doc_id"),
          lit("?utm_source=feed&page="), pmod(col("doc_id"), lit(5)),
          lit("&utm_campaign=x&q="), pmod(col("doc_id"), lit(3)),
          lit("#sec"))
        docs(s, d).select(col("doc_id"),
          TextAnalysis.urlHost(url).as("host"),
          TextAnalysis.urlSurtHost(url).as("surt_host"),
          TextAnalysis.urlCanonical(url).as("canonical"))
      },
      Some("""SELECT doc_id,
          'www.' || source || '.example.com' AS host,
          'com,example,' || source || ',www' AS surt_host,
          'www.' || source || '.example.com/docs/' || doc_id
            || '?page=' || doc_id % 5 || '&q=' || doc_id % 3 AS canonical
        FROM documents""")),

    // Language-ID n-gram heuristic (argmax of marker-token hits).
    Q("text_lang_id",
      (s, d) => docs(s, d).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess")),
      Some(langIdSelect), timed = false),

    // Quality scoring (length / punctuation / stopword-ratio heuristic).
    Q("text_quality",
      (s, d) => docs(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      Some(qualitySelect)),

    // ===== THE CURATION PIPELINE — the composed end-to-end pass a
    // training-data pipeline runs before tokenization: quality filter →
    // language filter → exact dedup (keep smallest id per fingerprint)
    // → near-dup clustering (keep each MinHash cluster's canonical
    // doc). Every stage is an operator verified on its own above; this
    // query proves they COMPOSE, and the oracle replays the identical
    // pass in one SQL statement.
    Q("pipeline_curation",
      (s, d) => {
        // r20 (guide §2 scale-adaptive partitioning): the sf-scale
        // documents table is ONE parquet split, so the expensive text
        // projections (quality/langId/fingerprint ≈ 0.7 s CPU, minhash
        // signatures ≈ 0.4 s) each ran as a single task. Re-shard the
        // small input once — shared by BOTH consumers via AQE stage
        // reuse — so the per-row work spreads across the session; a
        // many-split input takes the helper's no-op branch. Applied at
        // the QUERY level, not inside minHashCandidates: that operator
        // also backs dedup_minhash_pairs, a member of the bench's
        // fixed calibration probe, which must stay byte-stable.
        val docsP = graft.operators.Layout.parallelizeSmallInput(docs(s, d))
        val base = docsP.select(col("doc_id"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.langId(col("text")).as("lang"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        val w = Window.partitionBy(col("fp"))
        val exactKeep = base
          .withColumn("keep_id", min("doc_id").over(w))
          .filter(col("doc_id") === col("keep_id"))
        val filtered = exactKeep
          .filter(col("quality") >= 0.5 && col("lang") === "en")
        val clusters = Dedup.connectedComponents(
          Dedup.minHashCandidates(docsP, "doc_id", "text",
            numHashes = 16, numBands = 4),
          "id_a", "id_b")
        filtered
          .join(clusters.withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left")
          .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
          .select(col("doc_id"), col("quality"), col("lang"))
      },
      Some(s"""WITH RECURSIVE $minhashPairCtes,
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pair
          UNION SELECT id_b, id_a FROM pair
        ), reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        ), clusters AS (
          SELECT id, min(r) AS cluster FROM reach GROUP BY id
        ), q AS ($qualitySelect), lg AS ($langIdSelect),
        exact_keep AS (
          SELECT doc_id FROM documents
          QUALIFY doc_id = min(doc_id) OVER (PARTITION BY
            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
        )
        SELECT d.doc_id, q.quality, lg.lang_guess AS lang
        FROM exact_keep d
        JOIN q ON d.doc_id = q.doc_id
        JOIN lg ON d.doc_id = lg.doc_id
        LEFT JOIN clusters c ON d.doc_id = c.id
        WHERE q.quality >= 0.5 AND lg.lang_guess = 'en'
          AND (c.cluster IS NULL OR c.cluster = d.doc_id)""")),

    // SimHash document fingerprint: per-bit majority vote of token hashes.
    Q("text_simhash",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        docs(s, d).select(col("doc_id"),
          Dedup.simHash(col("text"), 16).as("simhash"))
      },
      Some(s"""WITH ${simhashCtes(16)}
        SELECT doc_id, simhash FROM sh""")),

    // SimHash near-dup pairs within Hamming distance 3, banded (by
    // pigeonhole, hamming<=3 over 4 bands forces one identical band —
    // candidate generation is an equi-join, never O(n²)). 64-bit hash
    // → 16-bit band slices: 65536 bucket values per band, the
    // cardinality that holds up at corpus scale. Oracle is the
    // brute-force pairwise scan.
    Q("dedup_simhash_pairs",
      (s, d) => Dedup.simHashPairs(docs(s, d), "doc_id", "text",
        bits = 64, bands = 4, maxHamming = 3),
      Some(s"""WITH ${simhashCtes(64)}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")),

    // Repetition-based quality signals (the Gopher/C4 filtering rules a
    // curation pipeline runs before training): duplicate-word fraction
    // and most-frequent-bigram fraction per document. Word stats are
    // pure expressions; the bigram mode is one (doc, gram) shuffle.
    Q("text_repetition",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val toks = TextAnalysis.tokens(col("text"))
        val wordStats = docs(s, d).select(col("doc_id"),
          when(size(toks) > 0,
            round(lit(1.0) - size(array_distinct(toks)).cast("double")
              / size(toks), 6)).otherwise(0.0).as("dup_word_frac"))
        val grams = docs(s, d).select(col("doc_id"),
          explode(call_function("shingles", toks, lit(2))).as("g"))
        val gramCounts = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        val top = gramCounts.groupBy("doc_id")
          .agg(round(max(col("c")).cast("double") / sum(col("c")), 6)
            .as("top_bigram_frac"))
        wordStats.join(top, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_word_frac"),
            coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
      },
      Some(s"""WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents
        ), words AS (
          SELECT doc_id, CASE WHEN len(toks) > 0
            THEN round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
            ELSE 0.0 END AS dup_word_frac
          FROM t
        ), grams AS (
          SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
          FROM t CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i) ix
        ), gc AS (
          SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
        ), top AS (
          SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6)
            AS top_bigram_frac
          FROM gc GROUP BY 1)
        SELECT w.doc_id, dup_word_frac,
          coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
        FROM words w LEFT JOIN top USING (doc_id)""")),

    // Stratified (per-group proportional) sampling — exact 10% of each
    // event_type, selected deterministically by portable-hash rank so
    // every engine picks the identical sample. One exchange on the
    // stratum key; both window functions share it.
    Q("sample_stratified",
      (s, d) => {
        val h = graft.functions.PortableHash
          .md5Long(col("event_id").cast("string"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("hv").asc, col("event_id").asc)
        val cw = Window.partitionBy(col("event_type"))
        Tables.events(s, d).select(col("event_id"), col("event_type"),
            h.as("hv"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(cw))
          .filter(col("rn") <= ceil(col("n") * 0.1))
          .select(col("event_id"), col("event_type"))
      },
      Some(s"""SELECT event_id, event_type FROM events
        QUALIFY row_number() OVER (PARTITION BY event_type
            ORDER BY ${graft.functions.PortableHash.md5LongSql("CAST(event_id AS VARCHAR)")} ASC,
              event_id ASC)
          <= ceil(count(*) OVER (PARTITION BY event_type) * 0.1)""")),

    // Beam Sample.fixedSizePerKey (transforms/Sample.java:50): exactly
    // min(n, |group|) rows per key, selected deterministically by
    // portable-hash rank (Beam's reservoir is random per run; the hash
    // rank is the reproducible equivalent — same engine-portable
    // sample every run, rerun-safe under retries).
    Q("sample_fixed_per_key",
      (s, d) => {
        val h = graft.functions.PortableHash
          .md5Long(col("event_id").cast("string"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("hv").asc, col("event_id").asc)
        Tables.events(s, d).select(col("event_id"), col("event_type"),
            h.as("hv"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 25)
          .select(col("event_id"), col("event_type"))
      },
      Some(s"""SELECT event_id, event_type FROM events
        QUALIFY row_number() OVER (PARTITION BY event_type
            ORDER BY ${graft.functions.PortableHash.md5LongSql("CAST(event_id AS VARCHAR)")} ASC,
              event_id ASC) <= 25"""), timed = false),

    // Exact dedup by normalized-content hash (hash-groupBy).
    Q("dedup_exact_docs",
      (s, d) => docs(s, d)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups")),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1""")),

    // MinHash + LSH near-dup candidate pairs with estimated Jaccard
    // (16 hashes, 4 bands × 4 rows, word 3-gram shingles). The affine
    // hash-family constants are generated from Dedup.affineParams so
    // Spark and the oracle share one source of truth.
    Q("dedup_minhash_pairs",
      (s, d) => Dedup.minHashCandidates(docs(s, d), "doc_id", "text",
        numHashes = 16, numBands = 4),
      Some(s"""WITH $minhashPairCtes
        SELECT p.id_a, p.id_b,
          round(CAST(sum(CASE WHEN x.hv = y.hv THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
        FROM pair p
        JOIN sig x ON x.doc_id = p.id_a
        JOIN sig y ON y.doc_id = p.id_b AND y.hid = x.hid
        GROUP BY 1, 2""")),

    // Ingestion ADMISSION filter (the crawl gate): incoming docs
    // (doc_id % 5 = 0) are admitted unless a VERIFIED MinHash
    // near-duplicate of the standing corpus (the rest). LSH band
    // equi-join batch x corpus + signature-agreement verify; the
    // oracle replays pairs corpus-wide and keeps only
    // boundary-crossing verified dups.
    Q("dedup_admit_novel",
      (s, d) => {
        val all = docs(s, d)
        val corpus = all.filter(col("doc_id") % 5 =!= 0)
        val incoming = all.filter(col("doc_id") % 5 === 0)
        val corpusSig = Dedup.minHashSignatures(corpus, "doc_id", "text", 16)
        Dedup.admitNovel(incoming, corpusSig, "doc_id", "text",
            numHashes = 16, numBands = 4, minEstJaccard = 0.5)
          .select(col("doc_id"))
      },
      Some(s"""WITH $minhashPairCtes,
        ver AS (
          SELECT p.id_a, p.id_b,
            CAST(sum(CASE WHEN x.hv = y.hv THEN 1 ELSE 0 END) AS DOUBLE)
              / 16 AS est
          FROM pair p
          JOIN sig x ON x.doc_id = p.id_a
          JOIN sig y ON y.doc_id = p.id_b AND y.hid = x.hid
          GROUP BY 1, 2
        ), dup AS (
          SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS inc_id
          FROM ver
          WHERE est >= 0.5 AND ((id_a % 5 = 0) <> (id_b % 5 = 0)))
        SELECT doc_id FROM documents
        WHERE doc_id % 5 = 0
          AND doc_id NOT IN (SELECT inc_id FROM dup)""")),

    // Near-dup CLUSTERS: the step after pair generation in a dedup
    // pipeline — connected components over the MinHash candidate graph,
    // cluster id = min doc id (the canonical keeper under
    // keep-smallest). Spark: iterative min-label propagation
    // (O(diameter) rounds of edge-join + min-agg); oracle: recursive
    // transitive closure + min(reachable).
    Q("dedup_clusters",
      // r20: re-shard the single-split input so the signature pass
      // parallelizes (see pipeline_curation's note; the operator itself
      // stays byte-stable for the dedup_minhash_pairs calibration probe)
      (s, d) => Dedup.connectedComponents(
        Dedup.minHashCandidates(
          graft.operators.Layout.parallelizeSmallInput(docs(s, d)),
          "doc_id", "text", numHashes = 16, numBands = 4),
        "id_a", "id_b"),
      Some(s"""WITH RECURSIVE $minhashPairCtes,
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pair
          UNION SELECT id_b, id_a FROM pair
        ), reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        )
        SELECT id, min(r) AS cluster FROM reach GROUP BY id""")),

    // Exact n-gram Jaccard pairs above threshold (shingle inverted index).
    Q("dedup_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.1),
      Some("""WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
          FROM tok CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
        ), sz AS (
          SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        ), inter AS (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_i
          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
          round(CAST(n_i AS DOUBLE) / (a.sz + b.sz - n_i), 6) AS jaccard
        FROM inter JOIN sz a ON a.doc_id = id_a JOIN sz b ON b.doc_id = id_b
        WHERE round(CAST(n_i AS DOUBLE) / (a.sz + b.sz - n_i), 6) >= 0.1"""), timed = false),

    // ===== PII redaction — the pre-training scrub pass: emails, phone
    // numbers and IPv4s replaced by typed placeholder tokens, with
    // per-category hit counts proving full coverage. The corpus is
    // synthetic word-salad with no real PII, so the demo embeds
    // deterministic doc_id-derived PII first (both engines build the
    // identical string); the redaction chain itself is the operator —
    // three codegen'd regexp_replace passes, zero shuffles, scan-
    // parallel at any corpus size.
    Q("text_pii_redact",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\b\\d{3}-\\d{4}\\b"
        val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        docs(s, d)
          .withColumn("raw", concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
            lit(" call 555-01"),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
            lit(" host 10.0."), pmod(col("doc_id"), lit(256)), lit(".7")))
          .select(col("doc_id"),
            regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_email"),
            regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phone"),
            regexp_count(col("raw"), lit(ipRe)).cast("long").as("n_ip"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("raw"), emailRe, "<EMAIL>"),
                ipRe, "<IP>"),
              phoneRe, "<PHONE>").as("redacted"))
      },
      Some("""WITH raw AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example.com call 555-01'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
        FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(raw, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
          CAST(len(regexp_extract_all(raw,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
          regexp_replace(
            regexp_replace(
              regexp_replace(raw,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        FROM raw""")),

    // ===== Gopher-style document quality filters (Rae et al. 2021 —
    // the word-level repetition/shape rules every pretraining corpus
    // pass applies): word count bounds, mean word length window,
    // stopword floor, distinct-word floor, composed into one KEEP
    // verdict. All narrow codegen'd expressions over one split() —
    // the array is projected ONCE then referenced by the lambdas (the
    // HOF-over-computed-array trap in TextAnalysis.shingles' scaladoc
    // doesn't bite: lambdas here reference only the attribute).
    Q("text_gopher_filters",
      (s, d) => {
        val stop = Seq("the", "a", "and", "of", "to", "in")
        val nw = size(col("words"))
        docs(s, d)
          .withColumn("words", split(col("text"), " "))
          .select(col("doc_id"),
            nw.cast("long").as("n_words"),
            round(aggregate(col("words"), lit(0.0),
              (acc, w) => acc + length(w)) / nw, 6).as("mean_word_len"),
            round(size(filter(col("words"),
              w => w.isin(stop: _*))).cast("double") / nw, 6).as("stop_frac"),
            round(size(array_distinct(col("words"))).cast("double") / nw, 6)
              .as("uniq_frac"))
          .withColumn("keep",
            col("n_words").between(30, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("stop_frac") >= 0.03 && col("uniq_frac") >= 0.5)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents),
        m AS (SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          round(CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
            / len(ws), 6) AS mean_word_len,
          round(CAST(len(list_filter(ws,
            x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
            / len(ws), 6) AS stop_frac,
          round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
            AS uniq_frac
        FROM w)
        SELECT doc_id, n_words, mean_word_len, stop_frac, uniq_frac,
          (n_words BETWEEN 30 AND 100000
           AND mean_word_len BETWEEN 3.0 AND 10.0
           AND stop_frac >= 0.03 AND uniq_frac >= 0.5) AS keep
        FROM m""")),

    // ===== BM25 full-text retrieval (Okapi k1=1.2, b=0.75): score every
    // document against a fixed term query. Corpus statistics (N, avgdl,
    // per-term df) are ONE single-row aggregate broadcast back — at
    // 100 TB that is one partial-agg shuffle of a constant-size row,
    // then a zero-shuffle scoring scan; no per-term join against an
    // inverted index is needed when the query is a handful of terms.
    Q("text_bm25_search",
      (s, d) => bm25Scores(s, d, Seq("data", "query", "spark")),
      Some(bm25ScoresSql(Seq("data", "query", "spark")))),

    // ===== C4 repeated-span removal (Raffel et al. 2020 §2.2; the
    // reference ecosystem's flagship public pipeline — C4 itself was
    // built as a Beam job, TFDS c4.py remove_duplicate_text): keep
    // only the FIRST corpus-wide occurrence of every span, reassemble
    // docs in order. Spans here are fixed 10-word windows (the
    // synthetic corpus has no newlines); the word-soup corpus makes
    // collisions real. Inverted-index shape: one exchange on the span
    // value + one on the doc key — never pairwise.
    Q("text_c4_span_dedup",
      (s, d) => {
        val toks = graft.operators.TextAnalysis.tokens(col("text"))
        val nLines = ceil(size(col("ln")).cast("double") / 10.0).cast("int")
        val framed = docs(s, d)
          .filter(length(trim(col("text"))) > 0)
          .withColumn("ln", toks)
          .withColumn("lines", transform(
            sequence(lit(0), nLines - 1),
            i => array_join(slice(col("ln"), i * 10 + 1, lit(10)), " ")))
        Dedup.removeRepeatedLines(framed, "doc_id", "lines", sep = "\n")
          .select(col("doc_id"), col("n_kept"),
            md5(col("clean_text")).as("clean_md5"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), pl AS (
          SELECT doc_id, t,
            unnest(generate_series(0,
              CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS pos
          FROM tok
        ), lines AS (
          SELECT doc_id, pos,
            array_to_string(list_slice(t, pos * 10 + 1, pos * 10 + 10), ' ')
              AS line
          FROM pl
        ), occ AS (
          SELECT doc_id, pos, line,
            min(doc_id * 1048576 + pos) OVER (PARTITION BY line)
              AS first_occ
          FROM lines)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
        FROM occ
        WHERE doc_id * 1048576 + pos = first_occ
        GROUP BY doc_id""")),

    // ===== REAL BPE tokenization (Sennrich 2016; the GPT-2 tokenizer
    // family): 200 merges trained from ONE distributed word-histogram
    // aggregation (top-2^14 TakeOrdered fit artifact, driver merge
    // loop), applied corpus-wide through the native bpe_encode
    // expression (merge table as a plan-time reference object — the
    // broadcast-fit pattern every MLTransform op here uses). The
    // oracle can't re-learn merges in SQL, so the gate checks the
    // operator's CONTRACT: per-doc word counts match DuckDB exactly,
    // every word round-trips losslessly from its pieces (code-point
    // symbols), and subword counts respect the structural bounds
    // n_words ≤ n_subwords ≤ n_chars — engine-computed, oracle-pinned.
    Q("text_bpe_tokens",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val merges = graft.functions.Bpe.fitMerges(
          docs(s, d).filter(length(trim(col("text"))) > 0),
          "text", nMerges = 200)
        val mergesLit = typedLit(merges.map(p => Seq(p._1, p._2)))
        docs(s, d)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .withColumn("pieces", transform(col("toks"),
            t => call_function("bpe_encode", t, mergesLit)))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_words"),
            forall(zip_with(col("toks"), col("pieces"),
              (t, ps) => array_join(ps, "") === t), x => x)
              .cast("long").as("roundtrip_ok"),
            aggregate(col("pieces"), lit(0L),
              (acc, ps) => acc + size(ps)).as("n_subwords_internal"),
            aggregate(col("toks"), lit(0L),
              (acc, t) => acc + length(t)).as("n_chars_internal"))
          .select(col("doc_id"), col("n_words"), col("roundtrip_ok"),
            (col("n_words") <= col("n_subwords_internal") &&
              col("n_subwords_internal") <= col("n_chars_internal"))
              .cast("long").as("bounds_ok"))
      },
      Some(s"""SELECT doc_id,
          CAST(len($toksSql) AS BIGINT) AS n_words,
          CAST(1 AS BIGINT) AS roundtrip_ok,
          CAST(1 AS BIGINT) AS bounds_ok
        FROM documents""")),
  )
}
