package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, Similarity}

/** Vector-similarity coverage over the `embeddings` table: norms,
  * brute-force cosine top-k (broadcast query set — the corpus is scanned
  * once, never shuffled), per-label centroids, embedding-cosine near-dup
  * pairs, and the SRP-LSH approximate variant as the 100 TB scale path.
  *
  * The DuckDB oracle reproduces Spark's `aggregate()` fold exactly with
  * `list_reduce` (both are sequential left folds in double), so cosine
  * values hash-match bit-for-bit after rounding.
  */
object VectorQueries {

  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)

  /** DuckDB sequential left-fold sum of a double list expression. */
  private def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  private def dotSql(a: String, b: String): String =
    foldSum(s"list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))")

  private def norm2Sql(a: String): String =
    s"sqrt(${foldSum(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${norm2Sql(a)} * ${norm2Sql(b)}))"

  def queries: Seq[Q] = Seq(

    Q("vec_norms",
      (s, d) => {
        graft.functions.GraftFunctions.register(s) // l2Norm is native vec_norm (r20)
        emb(s, d).select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(Similarity.l2Norm(col("embedding")), 6).as("norm"))
      },
      Some(s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        round(${norm2Sql("embedding")}, 6) AS norm FROM embeddings"""), timed = false),

    // Brute-force cosine top-k: small query set (vec_id % 100 = 0)
    // broadcast against the full corpus — the baseline ANN oracle.
    Q("vec_cosine_topk",
      (s, d) => Similarity.cosineTopK(
          emb(s, d).filter(col("vec_id") % 100 === 0), emb(s, d),
          "vec_id", "embedding", k = 5)
        .withColumn("rk", col("rk").cast("long")),
      Some(s"""WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id % 100 = 0
        ), c AS (
          SELECT vec_id AS match_id, embedding AS cv FROM embeddings
        ), sc AS (
          SELECT query_id, match_id,
            round(${cosineSql("qv", "cv")}, 6) AS sim
          FROM q JOIN c ON query_id != match_id)
        SELECT query_id, match_id, sim,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, match_id ASC) AS BIGINT) AS rk
        FROM sc QUALIFY rk <= 5""")),

    // Per-label centroids (posexplode + partial-aggregated shuffle).
    Q("vec_centroids",
      (s, d) => Similarity.centroids(emb(s, d), "label", "embedding")
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("pos"), col("mean_v")),
      Some("""SELECT CAST(label AS BIGINT) AS label,
        CAST(g.i - 1 AS BIGINT) AS pos,
        round(avg(CAST(embedding[g.i] AS DOUBLE)), 6) AS mean_v
        FROM embeddings CROSS JOIN LATERAL
          (SELECT unnest(generate_series(1, len(embedding))) AS i) g
        GROUP BY 1, 2""")),

    // Embedding-cosine near-duplicate pairs (exact, brute force): the
    // correctness baseline for near-dedup; LSH below is the scale path.
    // Threshold 0.35 ≈ the top 0.1% of the data's pairwise-similarity
    // distribution (max observed 0.51), so the oracle compares a
    // non-empty result set and actually exercises the value path.
    // Registered form is the distributed block kernel — no driver
    // materialization anywhere in the plan.
    Q("dedup_embedding_cosine",
      (s, d) => Similarity.cosinePairsAboveBlocked(emb(s, d), "vec_id", "embedding",
        threshold = 0.35),
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.35""")),

    // SEMANTIC dedup (the SemDeDup recipe, public literature): embed →
    // cluster → drop near-duplicates WITHIN each cluster only. The
    // pairwise work is confined to cluster cells (bounded by the
    // k-means k the pipeline picks — `Similarity.kmeansSeeds` is the
    // scale path; the label column stands in for the assignment here so
    // the oracle is exact), so the join is a label equi-join, never a
    // corpus cross-product. Keep rule: a vector is dropped iff ANY
    // lower-id cluster-mate sits at cosine ≥ τ — the deterministic
    // one-pass variant both engines replay identically (sim rounded to
    // 6dp before the threshold so engine arithmetic agrees at the
    // boundary).
    Q("dedup_semantic_keep",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = emb(s, d)
        // norms are projected ONCE per row before the pair join (the
        // codegen'd vec_norm), so each of the O(Σ cell²) pairs costs
        // one vec_dot — not a dot plus two recomputed norms
        val a = e.select(col("label"), col("vec_id").as("id_a"),
          col("embedding").as("va"),
          call_function("vec_norm", col("embedding")).as("na"))
        val b = e.select(col("label"), col("vec_id").as("id_b"),
          col("embedding").as("vb"),
          call_function("vec_norm", col("embedding")).as("nb"))
        val dropped = a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(call_function("vec_dot", col("va"), col("vb")) /
            (col("na") * col("nb")), 6) >= 0.3)
          .select(col("id_b").as("vec_id")).distinct()
        e.join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label").cast("long").as("label"))
      },
      Some(s"""SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
        FROM embeddings e
        WHERE e.vec_id NOT IN (
          SELECT b.vec_id
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3)""")),

    // ±1 RANDOM PROJECTION (Achlioptas/JL family): project dim-64
    // embeddings to 8 dimensions through the same md5-parity ±1 weight
    // family as SRP-LSH — deterministic, so DuckDB rebuilds the weight
    // matrix bit-for-bit and verifies the projections themselves (not
    // just a distance-preservation bound). Shape here is the relational
    // form (posexplode + broadcast weight table + partial-agg sum —
    // one (vec_id, j) exchange); at 100 TB the projection compiles
    // into a single-dispatch expression exactly like `srp_buckets`
    // (same weights, float sums instead of sign bits). 8x fewer floats
    // per vector is the bandwidth story for ANN pre-filtering.
    Q("vec_random_projection",
      (s, d) => {
        val outDim = 8; val dim = 64; val seed = 7
        val w = Similarity.srpWeights(outDim, dim, seed)
        import s.implicits._
        val wt = broadcast((for (j <- 0 until outDim; k <- 0 until dim)
          yield (j.toLong, k.toLong, w(j)(k))).toDF("j", "k", "wt"))
        emb(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "x")))
          .join(wt, Seq("k"))
          .groupBy("vec_id", "j")
          .agg(round(sum(col("x").cast("double") * col("wt")), 4).as("p"))
      },
      Some("""WITH dims AS (
          SELECT j.j, k.k FROM
            (SELECT unnest(generate_series(0, 7)) AS j) j
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) k
        ), w AS (
          SELECT j, k,
            CASE WHEN CAST('0x' || substr(md5('7:' || j || ':' || k), 32, 1)
                      AS INT) % 2 = 1
                 THEN 1.0 ELSE -1.0 END AS wt
          FROM dims
        ), ex AS (
          SELECT vec_id, g.k - 1 AS k, CAST(embedding[g.k] AS DOUBLE) AS x
          FROM embeddings CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, len(embedding))) AS k) g)
        SELECT ex.vec_id, w.j, round(sum(ex.x * w.wt), 4) AS p
        FROM ex JOIN w ON ex.k = w.k
        GROUP BY 1, 2""")),

    // Banded multi-table SRP-LSH approximate top-k: candidate
    // generation is an equi-join on (table, bucket) — never O(n²).
    // 8 bits × 8 tables here (bucket count sized to this corpus's
    // ~10³ near-orthogonal vectors; at 10⁹ rows raise bits to
    // ~log2(n/bucket_target) and add tables to recover recall — the
    // recall@1 spec in VectorSpec demonstrates 16-bit × 4 tables on
    // planted near-duplicates). Recall < 1 by construction →
    // rows-only check.
    // The verification contract for an APPROXIMATE search is a RECALL
    // BOUND on planted structure, not engine-specific result lists
    // (the raw synthetic corpus is near-orthogonal — its "exact top-5"
    // is noise no ANN should be expected to recover). Queries are
    // deterministic perturbations of every 25th corpus vector
    // (v -> 1.02v + 0.01, cosine ≈ 0.99 to the source, ≈ 0 to all
    // others); the query's planted source must appear in its ANN
    // top-5. All hashing is portable-deterministic, so the hit count
    // is exact and the oracle asserts recall >= 80% as a hard gate.
    Q("vec_ann_lsh",
      (s, d) => {
        val qs = emb(s, d).filter(col("vec_id") % 25 === 0)
          .select((-col("vec_id") - 1).as("vec_id"),
            transform(col("embedding"),
              v => (v * 1.02d + 0.01d).cast("float")).as("embedding"))
        val ann = Similarity.lshCosineTopK(qs, emb(s, d),
          "vec_id", "embedding", k = 5, bits = 8, dim = 64, tables = 8)
        val planted = ann.filter(col("match_id") === -col("query_id") - 1)
        qs.agg(count(lit(1)).as("n_queries"))
          .crossJoin(planted.agg(count(lit(1)).as("hits")))
          .select(lit(5L).as("k"), col("n_queries"),
            (col("hits") * 10 >= col("n_queries") * 8).cast("long")
              .as("recall_ok"))
      },
      Some("""SELECT 5 AS k, count(*) AS n_queries, CAST(1 AS BIGINT)
          AS recall_ok
        FROM embeddings WHERE vec_id % 25 = 0""")),

    // IVF ANN: coarse-quantizer cells + multi-probe — the other scale
    // path; same planted-recall contract as vec_ann_lsh.
    Q("vec_ann_ivf",
      (s, d) => {
        val qs = emb(s, d).filter(col("vec_id") % 25 === 0)
          .select((-col("vec_id") - 1).as("vec_id"),
            transform(col("embedding"),
              v => (v * 1.02d + 0.01d).cast("float")).as("embedding"))
        val ann = Similarity.ivfCosineTopK(qs, emb(s, d),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
        val planted = ann.filter(col("match_id") === -col("query_id") - 1)
        qs.agg(count(lit(1)).as("n_queries"))
          .crossJoin(planted.agg(count(lit(1)).as("hits")))
          .select(lit(5L).as("k"), col("n_queries"),
            (col("hits") * 10 >= col("n_queries") * 8).cast("long")
              .as("recall_ok"))
      },
      Some("""SELECT 5 AS k, count(*) AS n_queries, CAST(1 AS BIGINT)
          AS recall_ok
        FROM embeddings WHERE vec_id % 25 = 0""")),

    // IVF-PQ ANN: coarse cells prune, m-byte PQ codes rank via ADC
    // (per-query lookup table, m array hits per candidate — the
    // memory-bound path a 100 TB float corpus actually scans on), and
    // a bounded exact re-rank refines the shortlist (FAISS IndexIVFPQ
    // + refine shape). Same planted-recall contract as vec_ann_lsh.
    Q("vec_ann_ivfpq",
      (s, d) => {
        val qs = emb(s, d).filter(col("vec_id") % 25 === 0)
          .select((-col("vec_id") - 1).as("vec_id"),
            transform(col("embedding"),
              v => (v * 1.02d + 0.01d).cast("float")).as("embedding"))
        val ann = Similarity.ivfPqTopK(qs, emb(s, d),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
          m = 16, kCodes = 32, pqIters = 1, rerank = 4)
        val planted = ann.filter(col("match_id") === -col("query_id") - 1)
        qs.agg(count(lit(1)).as("n_queries"))
          .crossJoin(planted.agg(count(lit(1)).as("hits")))
          .select(lit(5L).as("k"), col("n_queries"),
            (col("hits") * 10 >= col("n_queries") * 8).cast("long")
              .as("recall_ok"))
      },
      Some("""SELECT 5 AS k, count(*) AS n_queries, CAST(1 AS BIGINT)
          AS recall_ok
        FROM embeddings WHERE vec_id % 25 = 0""")),

    // ===== EMBEDDING-level ingestion admission (round 9): the online
    // form of semantic dedup — per-batch ANN against the persisted
    // IVF-PQ index drops incoming vectors whose exact cosine vs the
    // corpus clears 0.95, admits the rest. Incoming = exact COPIES of
    // every 25th corpus vector (a copy ranks its original's cell first
    // and survives every shortlist cut → always caught, so the
    // admitted set is DETERMINISTIC despite ANN) + basis-vector
    // "novels" (max true corpus cosine ≈ 0.58 — far under threshold
    // whichever candidates ANN surfaces). The oracle brute-forces the
    // true max cosine per incoming row: decision-level equivalence,
    // the same contract the streaming foreachBatch gate runs on.
    Q("dedup_admit_novel_embedding",
      (s, d) => {
        val corpus = emb(s, d)
        val copies = corpus.filter(col("vec_id") % 25 === 0)
          .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
        val novels = corpus.filter(col("vec_id") % 25 === 7)
          .select((-col("vec_id") - 100001L).as("vec_id"),
            transform(sequence(lit(0), lit(63)), j =>
              when(j.cast("long") === pmod(col("vec_id"), lit(64L)),
                lit(1.0f)).otherwise(lit(0.0f))).as("embedding"))
        val index = Similarity.fitPqIndex(corpus, "vec_id", "embedding",
          nCells = 16, m = 16, kCodes = 32, pqIters = 1)
        val incoming = copies.unionByName(novels)
        // empty corpus → no index to encode; everything is novel
        if (index.isEmpty) incoming.select("vec_id")
        else {
          val encoded = Similarity.encodePq(corpus, "vec_id", "embedding", index)
          Dedup.admitNovelByEmbedding(incoming, encoded,
              corpus, "vec_id", "embedding", index, minSim = 0.95)
            .select("vec_id")
        }
      },
      Some("""WITH inc AS (
          SELECT -vec_id - 1 AS id, embedding AS v
          FROM embeddings WHERE vec_id % 25 = 0
          UNION ALL
          SELECT -vec_id - 100001 AS id,
            list_transform(range(0, 64), j ->
              CAST(CASE WHEN j = vec_id % 64 THEN 1.0 ELSE 0.0 END AS FLOAT)) AS v
          FROM embeddings WHERE vec_id % 25 = 7
        ), m AS (
          SELECT inc.id, max(list_cosine_similarity(inc.v, e.embedding)) AS mc
          FROM inc CROSS JOIN embeddings e GROUP BY inc.id)
        SELECT id AS vec_id FROM m WHERE mc < 0.95""")),

    // ===== INT8 embedding quantization — the storage/bandwidth path a
    // 100 TB embedding corpus ships on (4x smaller, SIMD-friendly):
    // symmetric per-vector scheme, scale = max|x|/127, q = clamp(round
    // (x/scale)). Emits the scale, the L2 reconstruction error, and the
    // first 4 codes (joined — the checker can't hash arrays), so the
    // oracle verifies the actual quantized codes, not just a summary.
    // All work is per-row codegen'd HOFs over projected columns (each
    // lambda references only attributes — no recompute trap), zero
    // shuffles. Both engines fold the error sum sequentially in double
    // (aggregate ≡ list_reduce), so values hash-match bit-for-bit.
    Q("vec_quantize_int8",
      (s, d) => emb(s, d)
        .withColumn("xd", transform(col("embedding"), v => v.cast("double")))
        .withColumn("scale",
          array_max(transform(col("xd"), v => abs(v))) / lit(127.0))
        .withColumn("q", transform(col("xd"), v =>
          least(greatest(floor(v / col("scale") + 0.5), lit(-127.0)),
            lit(127.0)).cast("int")))
        // err_l2 gets its OWN projection: aliasing round(scale) to the
        // name "scale" in the same select would rebind the sibling
        // lambda's col("scale") to the ROUNDED value (projection
        // collapse resolves same-name refs against the output), which
        // shifts the reconstruction error in the 4th decimal.
        .withColumn("err_l2", round(sqrt(aggregate(
          zip_with(col("xd"), col("q"), (a, b) =>
            (a - b.cast("double") * col("scale")) *
            (a - b.cast("double") * col("scale"))),
          lit(0.0), (acc, v) => acc + v)), 6))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          col("err_l2"),
          array_join(slice(col("q"), 1, 4), ",").as("q_head")),
      Some(s"""WITH x AS (SELECT vec_id,
            list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
          FROM embeddings),
        m AS (SELECT vec_id, xd,
            list_max(list_transform(xd, v -> abs(v))) / 127.0 AS scale
          FROM x),
        qz AS (SELECT vec_id, xd, scale,
            list_transform(xd, v -> CAST(least(greatest(
              floor(v / scale + 0.5), -127.0), 127.0) AS INT)) AS qv
          FROM m)
        SELECT vec_id, round(scale, 6) AS scale,
          round(sqrt(${foldSum("list_transform(list_zip(xd, qv), z -> (z[1] - z[2] * scale) * (z[1] - z[2] * scale))")}), 6) AS err_l2,
          array_to_string(qv[1:4], ',') AS q_head
        FROM qz""")),

    // ===== Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    // HYBRID-SEARCH merge: a lexical BM25 ranking and a semantic
    // cosine ranking per query, fused by Σ 1/(60 + rank) over a FULL
    // OUTER join on (query, doc). Scale shape: each side is its own
    // top-k (lexical: one corpus scan + 1-row fit broadcast; semantic:
    // broadcast query set against one corpus scan — never corpus ×
    // corpus), the fusion join then touches only ≤ 2k rows per query.
    // All rankings order by ROUNDED scores with id tie-breaks, so
    // ranks — and therefore RRF scores — are deterministic
    // cross-engine. Docs and embeddings share the id space by
    // construction (row i of embeddings embeds doc i); the full-outer
    // fusion would be correct under partial overlap too.
    Q("rag_rrf_fusion",
      (s, d) => {
        val termsByQuery = Seq(
          0L -> Seq("data", "query", "spark"),
          250L -> Seq("join", "hash", "stream"))
        // ONE tokenizing corpus scan + ONE fit for both queries (r19
        // opt, guide §1.2) — bm25ScoresMulti replicates the per-set
        // scores exactly; the union-of-two-bm25Scores form paid the
        // corpus tokenization and the fit aggregation twice.
        val lexScores = TextQueries.bm25ScoresMulti(s, d, termsByQuery)
        val wLex = Window.partitionBy("query_id")
          .orderBy(col("bm25").desc, col("doc_id").asc)
        val lex = lexScores
          .withColumn("rk_lex", row_number().over(wLex).cast("long"))
          .filter(col("rk_lex") <= 20)
          .select(col("query_id"), col("doc_id"), col("rk_lex"))
        val sem = Similarity.cosineTopK(
            emb(s, d).filter(col("vec_id").isin(0L, 250L)), emb(s, d),
            "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("match_id").as("doc_id"),
            col("rk").cast("long").as("rk_sem"))
        val wFused = Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)
        lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60.0) + col("rk_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rk_sem")), lit(0.0)), 6))
          .withColumn("rk_fused", row_number().over(wFused).cast("long"))
          .select(col("query_id"), col("doc_id"), col("rk_lex"),
            col("rk_sem"), col("rrf"), col("rk_fused"))
      },
      Some(s"""WITH lex AS (
          SELECT query_id, doc_id,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk_lex
          FROM (
            SELECT CAST(0 AS BIGINT) AS query_id, doc_id, bm25
            FROM (${TextQueries.bm25ScoresSql(Seq("data", "query", "spark"))})
            UNION ALL
            SELECT CAST(250 AS BIGINT) AS query_id, doc_id, bm25
            FROM (${TextQueries.bm25ScoresSql(Seq("join", "hash", "stream"))}))
          QUALIFY rk_lex <= 20
        ), sem AS (
          SELECT query_id, match_id AS doc_id,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, match_id) AS BIGINT) AS rk_sem
          FROM (
            SELECT query_id, match_id,
              round(${cosineSql("qv", "cv")}, 6) AS sim
            FROM (SELECT vec_id AS query_id, embedding AS qv
                  FROM embeddings WHERE vec_id IN (0, 250)) q
            JOIN (SELECT vec_id AS match_id, embedding AS cv
                  FROM embeddings) c
              ON query_id != match_id)
          QUALIFY rk_sem <= 20)
        SELECT query_id, doc_id, rk_lex, rk_sem, rrf,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk_fused
        FROM (
          SELECT query_id, doc_id, rk_lex, rk_sem,
            round(coalesce(CAST(1 AS DOUBLE) / (60 + rk_lex), 0) +
                  coalesce(CAST(1 AS DOUBLE) / (60 + rk_sem), 0), 6) AS rrf
          FROM lex FULL JOIN sem USING (query_id, doc_id))""")),
  )
}
