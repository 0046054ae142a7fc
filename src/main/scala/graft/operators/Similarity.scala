package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Vector-similarity operators over `array<float>` embedding columns.
  *
  * Beam analog: the embeddings/RAG surface
  * (reference: sdks/python/apache_beam/ml/transforms/base.py:259
  * EmbeddingsManager, ml/rag/) produces embedding columns; similarity
  * search itself is the capability a training-data pipeline adds on top.
  *
  * Scale design:
  *  - dot products run through [[graft.functions.VectorDot]] — a native
  *    codegen'd Catalyst expression (tight primitive loop, no HOF
  *    lambda overhead) since it is evaluated O(candidate pairs) times;
  *  - L2 norms are computed ONCE PER ROW before any join, never per
  *    pair (an O(n²·dim) → O(n·dim) reduction);
  *  - brute-force top-k broadcasts the (small) query set — a single
  *    scan of the corpus, no shuffle of the corpus itself;
  *  - the LSH variant buckets by random-hyperplane signs so candidate
  *    generation is an equi-join on (bucket), avoiding the full cross
  *    product when both sides are large. Hyperplane weights are
  *    plan-time literals (zero per-row hashing).
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double.
    * HOF form for ad-hoc use; hot paths below use vec_dot + norm cols. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Native [[graft.functions.VectorNorm]] (r20 opt, guide §4 prefer
    * codegen): the HOF transform+aggregate form cost ~50µs/row in
    * interpreted lambda dispatch — measured 0.18 s per 2000-row corpus
    * scan, paid by EVERY norm projection in every vector operator.
    * Same ascending sequential double fold, bit-identical values.
    * Callers need [[GraftFunctions.register]] (every operator entry
    * point here does it; query-side ad-hoc callers must too). */
  def l2Norm(a: Column): Column = call_function("vec_norm", a)

  /** Brute-force cosine top-k: for every row of `queries`, the k nearest
    * rows of `corpus` (excluding self-matches by id). `queries` is
    * broadcast — corpus is scanned once; the only shuffle is the final
    * per-query top-k (tiny: k rows per query). Rounding before ranking
    * keeps the result oracle-stable across fp summation orders. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    // CALIBRATION-PROBE STABILITY (r20): vec_cosine_topk is a member of
    // Bench.calibration — the fixed never-changing host-speed probe —
    // so this operator keeps the r19 HOF norm byte-for-byte instead of
    // the native vec_norm every other operator moved to. Changing the
    // probe's speed would silently re-anchor cross-round `cal` totals
    // and make every untouched query read as a regression (VERDICT r19
    // item 3/6). Same values either way (identical sequential fold).
    def probeStableNorm(a: Column): Column =
      sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), probeStableNorm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("match_id"),
      col(vecCol).as("cv"), probeStableNorm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("match_id"))
      .select(col("query_id"), col("match_id"),
        round(call_function("vec_dot", col("qv"), col("cv"))
          / (col("qn") * col("cn")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("match_id"), col("sim"),
        col("rk").cast("int").as("rk"))
  }

  /** All pairs with cosine similarity above `threshold` (exact, brute
    * force over id_a < id_b): the correctness baseline for
    * embedding-space near-dedup. Norms are per-row columns; the pair
    * loop is one codegen'd vec_dot per candidate. */
  def cosinePairsAbove(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      l2Norm(col(vecCol)).as("na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    val sim = round(call_function("vec_dot", col("va"), col("vb"))
      / (col("na") * col("nb")), 6)
    // The similarity predicate lives INSIDE the join condition: the
    // nested-loop join then evaluates one codegen'd vec_dot per
    // candidate and only materializes the (rare) matching pairs —
    // never the O(n²) joined rows with their embedding payloads.
    a.join(broadcast(b), col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
  }

  /** [[cosinePairsAbove]] as a DISTRIBUTED block kernel: rows hash into
    * `nBlocks` blocks (`id % nBlocks`), every unordered block pair
    * {x, y} (x <= y) becomes one task, and each task runs one tight
    * primitive pair loop over its two blocks.
    * Nothing is ever materialized on the driver: blocks are built by a
    * `collect_list` aggregation on the executors and the block-pair
    * cross join replicates each block only `nBlocks` times. At 100 TB
    * pick `nBlocks` so one block fits a task's memory (replication
    * factor and task count are both O(nBlocks)); LSH stays the
    * sub-quadratic scale path — this is the exact baseline.
    * Arithmetic is bit-identical to the declarative form: sequential
    * double fold for dot/norm, HALF_UP rounding applied only to
    * near-threshold candidates. */
  def cosinePairsAboveBlocked(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Block on a hash of the id, not a numeric cast: a non-numeric id
    // would cast to a null block that never satisfies bx <= by and its
    // rows would silently vanish from every pair. The id itself must
    // still be long-castable (output schema) — a non-castable id now
    // fails loudly at encoding (non-nullable Long field) instead of
    // dropping silently.
    val blocks = df
      .select(pmod(xxhash64(col(idCol).cast("string")), lit(nBlocks))
          .cast("int").as("b"),
        col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .groupBy("b")
      .agg(collect_list(struct(col("id"), col("v"))).as("rows"))
    val pairs = blocks.toDF("bx", "xs")
      .join(blocks.toDF("by", "ys"), col("bx") <= col("by"))
      .repartition(col("bx"), col("by")) // one block pair per task
      .as[(Int, Seq[(Long, Array[Float])], Int, Seq[(Long, Array[Float])])]
    val margin = threshold - 5e-7 // below this, rounding can't reach it
    pairs.flatMap { case (bx, xsRaw, by, ysRaw) =>
      def norm(v: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
        math.sqrt(s)
      }
      val xs = xsRaw.toArray
      val ys = if (bx == by) xs else ysRaw.toArray
      val nxs = xs.map(r => norm(r._2))
      val nys = if (bx == by) nxs else ys.map(r => norm(r._2))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val sameBlock = bx == by
      var i = 0
      while (i < xs.length) {
        val (idX, vx) = xs(i)
        var j = 0
        while (j < ys.length) {
          val (idY, vy) = ys(j)
          // same block: each unordered pair appears at (i,j) and (j,i) —
          // keep only idX < idY. Cross block: the pair appears exactly
          // once, in whatever order — emit it as (min, max).
          if (if (sameBlock) idX < idY else idX != idY) {
            var s = 0.0; var p = 0
            val n = math.min(vx.length, vy.length)
            while (p < n) { s += vx(p).toDouble * vy(p).toDouble; p += 1 }
            val sim = s / (nxs(i) * nys(j))
            if (sim >= margin) {
              val rounded = java.math.BigDecimal.valueOf(sim)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (rounded >= threshold)
                out += (if (idX < idY) (idX, idY, rounded)
                        else (idY, idX, rounded))
            }
          }
          j += 1
        }
        i += 1
      }
      out
    }.toDF("id_a", "id_b", "sim")
  }

  /** Per-label centroids: mean of each vector component. Shuffles once on
    * (label, pos) after a posexplode — partial aggregation collapses each
    * partition to at most |labels|·dim rows before the exchange. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v").cast("double")), 6).as("mean_v"))

  /** Deterministic ±1 hyperplane weights for SRP-LSH, derived from md5
    * at PLAN time (JVM) — the per-row path is pure arithmetic. Shared
    * with the compiled [[graft.functions.SrpBuckets]] kernel. */
  private[graft] def srpWeights(bits: Int, dim: Int, seed: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def parity(s: String): Double = {
      val d = md.digest(s.getBytes("UTF-8"))
      if ((d(d.length - 1) & 1) == 1) 1.0 else -1.0
    }
    (0 until bits).map(b => (0 until dim).map(i => parity(s"$seed:$b:$i")))
  }

  /** Sign-random-projection LSH bucket id: `bits` hyperplanes with
    * deterministic ±1 weights (literal arrays — no per-row hashing).
    * Bucketing both sides turns ANN search into an equi-join on
    * (bucket). `dim` must cover the vector length. */
  def srpBucket(vec: Column, bits: Int = 8, dim: Int = 64, seed: Int = 7): Column = {
    val weights = srpWeights(bits, dim, seed)
    val bitCols = (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(vec, typedlit(weights(b)), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << b)).otherwise(lit(0L))
    }
    // Plan-time contract check at runtime: a dim mismatch would silently
    // zero-pad projections (zip_with pads with null) and collapse every
    // row into bucket 0, turning the LSH equi-join into a cross product.
    when(size(vec) === dim, bitCols.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"srp_bucket: vector length != dim=$dim, got "),
        size(vec).cast("string"))).cast("long"))
  }

  /** Top-`n` nearest cells for a fixed seed set (cosine, ties → lowest
    * cell id), best first, as ONE native [[graft.functions.IvfCells]]
    * dispatch — array<int>. The pre-r16 form (sort_array over an
    * nCells-wide array(struct(vec_dot…)) tree) generated code linear
    * in nCells and blew whole-stage codegen's 64 KB method limit near
    * nCells ≈ 200 — the √N-cells deployment rule makes large nCells
    * the NORMAL regime at scale, so the assignment loop is native
    * (same rationale and bit-identical ranking as pq_encode/pq_lut;
    * see the expression's Scaladoc). Seeds ride as one plan-time
    * reference object. */
  private def cellsTopN(seeds: Seq[Seq[Float]], n: Int)(
      vec: Column, norm: Column): Column =
    call_function("ivf_cells", vec, norm, typedlit(seeds), lit(n))

  /** Deterministic initial seeds (smallest md5(id)) optionally refined
    * by `iters` spherical-k-means Lloyd rounds: assign every corpus row
    * to its nearest seed (one narrow scan, the SAME assignment
    * expression the quantizer uses), average per cell (posexplode +
    * partial-agg shuffle — at most nCells·dim rows cross), collect the
    * nCells·dim fit artifact, repeat. Empty cells keep their previous
    * seed. This is the production IVF training path; iters=0 is the
    * plan-time-deterministic quantizer. */
  /** The deterministic seed-row scan shared by [[kmeansSeeds]] and
    * [[pqCodebooks]]: the `n` corpus vectors with the smallest
    * md5(id) — ONE scan + top-n, collected as a bounded fit artifact.
    * Factored out (r19 opt, guide §1.2 "remove unnecessary passes") so
    * [[fitPqIndex]] collects max(nCells, kCodes) rows once instead of
    * running the identical scan-sort-collect job twice. */
  private[operators] def seedRowsByHash(corpus: DataFrame, idCol: String,
      vecCol: String, n: Int): Seq[Seq[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col(idCol).cast("string").as("id"), col(vecCol).as("v"))
      .withColumn("h", graft.functions.PortableHash.md5Long(col("id")))
      .orderBy("h").limit(n)
      .select("v").as[Seq[Float]].collect().toSeq // bounded: limit(n) fit artifact
  }

  def kmeansSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 0): Seq[Seq[Float]] = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._
    var seeds: Seq[Seq[Float]] =
      seedRowsByHash(corpus, idCol, vecCol, nCells)
    // empty corpus → no seeds; skip refinement (cellsRankedFor over
    // zero seeds is not a well-typed expression)
    for (_ <- 0 until (if (seeds.isEmpty) 0 else iters)) {
      val cents = corpus
        .select(col(vecCol).as("__v"), l2Norm(col(vecCol)).as("__n"))
        .withColumn("cell",
          element_at(cellsTopN(seeds, 1)(col("__v"), col("__n")), 1))
        .select(col("cell"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .as[(Int, Int, Double)].collect() // bounded: nCells x dim centroid agg
        .groupBy(_._1)
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_._2).map(_._3.toFloat).toSeq
        }
      seeds = seeds.indices.map(c => cents.getOrElse(c, seeds(c)))
    }
    seeds
  }

  /** IVF (inverted-file) ANN: a coarse quantizer — `nCells` seed
    * vectors, optionally k-means-refined ([[kmeansSeeds]],
    * `kmeansIters`) — partitions the corpus into cells (each corpus row
    * assigned to its nearest seed); queries probe their `nProbe`
    * nearest cells and rank candidates by exact cosine.
    *
    * The other classic ANN scale path next to SRP-LSH ([[lshCosineTopK]]):
    * candidate generation is an equi-join on cell id, so corpus work is
    * one narrow assignment scan + a hash join — never O(n²). Seeds are
    * plan-time literals. */
  def ivfCosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 0): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val seeds = kmeansSeeds(corpus, idCol, vecCol, nCells, kmeansIters)
    if (seeds.isEmpty)
      // empty corpus (or all-empty partitions at fit time): no cells,
      // no candidates — emit zero rows with the output schema intact
      return queries.select(col(idCol).as("query_id"),
        col(idCol).as("match_id"), lit(0.0).as("sim")).limit(0)
    val c = corpus.select(col(idCol).as("match_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"))
      .withColumn("cell",
        element_at(cellsTopN(seeds, 1)(col("cv"), col("cn")), 1))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2Norm(col(vecCol)).as("qn"))
      .withColumn("cell",
        explode(cellsTopN(seeds, nProbe)(col("qv"), col("qn"))))
    // No candidate dedup needed (r20 opt, guide §2.4 "remove shuffles
    // outright"): every corpus row is assigned EXACTLY ONE cell
    // (element_at(cellsTopN(seeds, 1), 1)), so a (query_id, match_id)
    // pair can only surface through the one probed cell the match
    // lives in — the old distinct() was a full exchange of the
    // candidate set deduplicating a set that is unique by
    // construction (unlike [[lshCosineTopK]], where multi-table
    // collisions make the distinct load-bearing). That also lets the
    // corpus vectors ride THROUGH the cell join instead of being
    // re-fetched by a second corpus scan + match_id shuffle join:
    // one corpus scan, zero corpus shuffles, one vec_dot per pair —
    // plan-guarded in VectorSpec.
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val cand = c.join(broadcast(q.select("query_id", "cell")), Seq("cell"))
      .filter(col("query_id") =!= col("match_id"))
    val scored = cand.join(broadcast(q0), "query_id")
      .select(col("query_id"), col("match_id"),
        round(call_function("vec_dot", col("qv"), col("cv"))
          / (col("qn") * col("cn")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** ANN top-k via banded multi-table SRP-LSH: each row hashes into
    * `tables` independent `bits`-bit sign-random-projection buckets
    * (one compiled [[graft.functions.SrpBuckets]] dispatch per row);
    * query and corpus rows sharing a (table, bucket) cell become
    * candidates — an equi-join, never O(n²) — then candidates are
    * ranked by exact cosine.
    *
    * OR-amplification across tables is the classic recall knob: more
    * `bits` → smaller (scale-safe) buckets and lower per-table recall;
    * more `tables` → recall back up at linear cost. Size
    * `bits ≈ log2(n / target_bucket_size)` — 16 bits gives 65536
    * buckets per table, the shape that holds at 10^9 rows, where a
    * single low-bit table (e.g. 4 bits = 16 buckets) goes quadratic.
    * Candidate (query, match) pairs deduplicate across tables BEFORE
    * scoring, so each survivor costs one vec_dot. */
  def lshCosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 16, dim: Int = 64,
      tables: Int = 4, seed: Int = 7): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    def buckets(vec: Column): Column =
      call_function("srp_buckets", vec, lit(bits), lit(dim), lit(tables), lit(seed))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"),
      posexplode(buckets(col(vecCol))).as(Seq("table", "bucket")))
    val c = corpus.select(col(idCol).as("match_id"),
      posexplode(buckets(col(vecCol))).as(Seq("table", "bucket")))
    val cand = q.select("query_id", "table", "bucket")
      .join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("match_id"))
      .select("query_id", "match_id").distinct()
    val qVecs = broadcast(q.select("query_id", "qv", "qn").distinct())
    val cVecs = corpus.select(col(idCol).as("match_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = cand.join(qVecs, "query_id").join(cVecs, "match_id")
      .select(col("query_id"), col("match_id"),
        round(call_function("vec_dot", col("qv"), col("cv"))
          / (col("qn") * col("cn")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  // ---- product quantization (PQ) ----

  private def normSqD(v: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.size) { s += v(i).toDouble * v(i); i += 1 }
    s
  }

  /** Per-subspace nearest-code assignment: for each of the `m`
    * subspaces, the index of the codebook centroid L2-nearest to the
    * row's subvector (ties → lowest code). One native
    * [[graft.functions.PqEncode]] expression — the codebooks ride as a
    * plan-time literal; the equivalent m·kCodes-node Catalyst tree
    * generates hundreds of janino methods and dominates the runtime at
    * encode scale. Returns array<int>, length m. */
  private[graft] def pqCodesExpr(vec: Column,
      books: Seq[Seq[Seq[Float]]]): Column =
    call_function("pq_encode", vec, typedLit(books))

  /** Train PQ codebooks: the vector space is split into `m` disjoint
    * subspaces of dim/m coordinates; each gets `kCodes` centroids via
    * k-means over the corpus's subvectors. ALL subspaces train in the
    * same distributed pass per iteration — one narrow scan assigns
    * every row its m codes, one posexplode + partial-agg shuffle
    * averages coordinates per (position, code) (≤ dim·kCodes groups),
    * and the collected fit artifact is dim·kCodes floats (bounded,
    * broadcast back as plan-time literals). Empty cells keep their
    * previous centroid. Deterministic: portable-hash seed order.
    *
    * Returns books(s)(j) = centroid j of subspace s (length dim/m),
    * or empty when the corpus has fewer than 1 row. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int, iters: Int = 1): Seq[Seq[Seq[Float]]] =
    pqCodebooksFrom(corpus, idCol, vecCol,
      seedRowsByHash(corpus, idCol, vecCol, kCodes), m, kCodes, iters)

  /** [[pqCodebooks]] over PRE-COLLECTED seed rows (the first `kCodes`
    * entries of a [[seedRowsByHash]] result) — lets [[fitPqIndex]]
    * share one seed scan between the coarse quantizer and the PQ
    * codebooks. */
  private[operators] def pqCodebooksFrom(corpus: DataFrame, idCol: String,
      vecCol: String, seedRows: Seq[Seq[Float]], m: Int, kCodes: Int,
      iters: Int): Seq[Seq[Seq[Float]]] = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._
    if (seedRows.isEmpty) return Seq.empty
    val dim = seedRows.head.size
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m subspaces")
    val sd = dim / m
    // fewer corpus rows than kCodes: every row is its own centroid
    var books: Seq[Seq[Seq[Float]]] =
      (0 until m).map(s => seedRows.map(_.slice(s * sd, s * sd + sd)))
    for (_ <- 0 until iters) {
      val cents = corpus
        .select(col(vecCol).as("__v"))
        .withColumn("__codes", pqCodesExpr(col("__v"), books))
        .select(col("__codes"), posexplode(col("__v")).as(Seq("pos", "x")))
        // pos determines the subspace; group by (pos, that subspace's
        // assigned code) — ≤ dim·kCodes groups cross the exchange
        .withColumn("code", element_at(col("__codes"),
          floor(col("pos") / lit(sd)).cast("int") + 1))
        .groupBy("pos", "code")
        .agg(avg(col("x").cast("double")).as("mu"))
        .as[(Int, Int, Double)].collect() // bounded: dim x kCodes centroid agg
        .groupBy { case (pos, code, _) => (pos / sd, code) }
      books = books.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (old, j) =>
          cents.get((s, j)) match {
            case Some(rows) =>
              val byPos = rows.map(r => (r._1 % sd) -> r._3.toFloat).toMap
              // a position can only be absent if the cell is empty —
              // byPos is either complete or the cell kept `old`
              (0 until sd).map(p => byPos.getOrElse(p, old(p)))
            case None => old
          }
        }
      }
    }
    books
  }

  /** IVF-PQ ANN top-k — the memory-bound scale path: the coarse
    * quantizer ([[kmeansSeeds]]) prunes the corpus to `nProbe` probed
    * cells per query (an equi-join, never O(n²)), and candidates are
    * ranked by ADC (asymmetric distance computation) over `m`-byte PQ
    * codes instead of the raw vectors — each query precomputes ONE
    * m×kCodes lookup table of subspace dot products, so a candidate
    * costs m array lookups, and a 100 TB float corpus scans as an
    * (m·n)-byte code table (dim·4/m × compression; 64-dim float → 16
    * codes is 16×). The top `rerank·k` ADC survivors are re-ranked by
    * exact cosine (the standard FAISS-style refine stage; only that
    * bounded candidate set ever touches the raw vectors again).
    *
    * Approximate cosine under ADC: q·x̂ / (|q|·|x̂|) with x̂ the PQ
    * reconstruction — subspaces are disjoint coordinates, so
    * |x̂|² = Σ_s |c_{s,code_s}|² exactly. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      m: Int = 16, kCodes: Int = 32, pqIters: Int = 1,
      rerank: Int = 4): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val index = fitPqIndex(corpus, idCol, vecCol, nCells, m, kCodes, pqIters)
    if (index.isEmpty)
      return queries.select(col(idCol).as("query_id"),
        col(idCol).as("match_id"), lit(0.0).as("sim")).limit(0)
    ivfPqTopKEncoded(queries, encodePq(corpus, idCol, vecCol, index),
      corpus, idCol, vecCol, index, k, nProbe, rerank)
  }

  /** A fitted IVF-PQ index: the coarse-quantizer seeds and the PQ
    * codebooks — the ONLY training state. A few KB at any corpus size;
    * fit once, [[writePqIndex]] it, and every later job
    * [[readPqIndex]]s + [[encodePq]]s or queries without re-training
    * (the production index lifecycle — FAISS train/add/search split). */
  final case class PqIndex(seeds: Seq[Seq[Float]],
      books: Seq[Seq[Seq[Float]]]) {
    def isEmpty: Boolean = seeds.isEmpty || books.isEmpty
    def m: Int = books.size
  }

  /** Fit the coarse quantizer + PQ codebooks (see [[kmeansSeeds]] and
    * [[pqCodebooks]] for the per-stage scale shapes). */
  def fitPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 16, kCodes: Int = 32,
      pqIters: Int = 1): PqIndex = {
    // ONE seed scan serves both stages (r19 opt, guide §1.2): the
    // coarse-quantizer seeds and the PQ codebook seeds are both "the n
    // smallest-md5(id) corpus rows" — collect max(nCells, kCodes) once
    // and slice, instead of two identical scan-sort-collect jobs.
    GraftFunctions.register(corpus.sparkSession)
    val top = seedRowsByHash(corpus, idCol, vecCol, math.max(nCells, kCodes))
    PqIndex(top.take(nCells),
      pqCodebooksFrom(corpus, idCol, vecCol, top.take(kCodes), m, kCodes,
        pqIters))
  }

  /** Encode a corpus against a fitted index: one narrow scan emitting
    * (match_id, cell, codes, cn_hat) — the compressed, persistable form
    * (m bytes + cell + norm per row; 64-dim float → m=16 is 16×). Write
    * this once; the ADC query path never touches raw vectors again
    * except the bounded re-rank. */
  def encodePq(corpus: DataFrame, idCol: String, vecCol: String,
      index: PqIndex): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    require(!index.isEmpty, "encodePq: empty index")
    val normSqLit = typedLit(index.books.map(_.map(normSqD)))
    corpus.select(col(idCol).as("match_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"))
      .withColumn("cell",
        element_at(cellsTopN(index.seeds, 1)(col("cv"), col("cn")), 1))
      .withColumn("codes", pqCodesExpr(col("cv"), index.books))
      .withColumn("cn_hat", sqrt(
        (0 until index.m).map(s => element_at(element_at(normSqLit, s + 1),
          element_at(col("codes"), s + 1) + 1)).reduce(_ + _)))
      .select("match_id", "cell", "codes", "cn_hat")
  }

  /** Persist a fitted index: two tiny parquet tables (seeds, books)
    * under `path`. */
  def writePqIndex(spark: org.apache.spark.sql.SparkSession,
      index: PqIndex, path: String): Unit = {
    import spark.implicits._
    index.seeds.zipWithIndex.map { case (v, c) => (c, v) }
      .toDF("cell", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/seeds")
    index.books.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, j) => (s, j, c) }
    }.toDF("s", "j", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/books")
  }

  /** Load an index written by [[writePqIndex]]. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): PqIndex = {
    import spark.implicits._
    val seeds = spark.read.parquet(s"$path/seeds")
      .as[(Int, Seq[Float])].collect() // bounded: nCells rows
      .sortBy(_._1).map(_._2).toSeq
    val flat = spark.read.parquet(s"$path/books")
      .as[(Int, Int, Seq[Float])].collect() // bounded: m x kCodes rows
    val books = flat.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    PqIndex(seeds, books)
  }

  /** ANN query over a PRE-ENCODED corpus ([[encodePq]] output, usually
    * read back from storage): probe `nProbe` cells, rank candidates by
    * ADC over the codes, exact-refine the top `rerank·k` against
    * `corpusVecs` (the raw-vector table, joined only for the bounded
    * shortlist). `queries` must carry UNIQUE ids (the per-query frames
    * project pre-explode without a dedup). */
  def ivfPqTopKEncoded(queries: DataFrame, encoded: DataFrame,
      corpusVecs: DataFrame, idCol: String, vecCol: String,
      index: PqIndex, k: Int, nProbe: Int = 4,
      rerank: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    require(!index.isEmpty, "ivfPqTopKEncoded: empty index")
    val m = index.m
    // per-query ADC lookup table: lut(s)(j) = q_s · c_{s,j} — one
    // native PqLut expression (dim·kCodes multiplies, once per query).
    // lut/qv frames project from the PRE-explode q0: selecting them
    // post-explode would need a distinct() that shuffles the m·kCodes
    // lut array (and the raw vector) nProbe× per query just to undo
    // the explode.
    val lutCol = call_function("pq_lut", col("qv"), typedLit(index.books))
    val spark = queries.sparkSession
    // ONE driver collect of the query-side artifact (r20 opt, guide
    // §1.2 "remove unnecessary passes"): the query frame is
    // broadcast-sized BY CONTRACT (every downstream join already ships
    // it to each executor), so collecting it once and re-emitting the
    // three query-side join inputs as LOCAL relations replaces
    //  - the separate probed-cells distinct+collect job (r19 shape),
    //  - three broadcast-exchange builds that each re-executed the
    //    query subtree (scan + lut + cell assignment)
    // with one job; every later broadcast builds from a LocalTableScan.
    // At bench scale the ADC search ran ~8 sequential tiny stages and
    // the chain LATENCY, not work, was the wall (VERDICT r19 item 1).
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2Norm(col(vecCol)).as("qn"))
      .withColumn("lut", lutCol)
      .withColumn("cells",
        cellsTopN(index.seeds, nProbe)(col("qv"), col("qn")))
    val qRows = q0.collect() // bounded: the broadcast-by-contract query set
    val idType = q0.schema("query_id").dataType
    def localDf(schema: org.apache.spark.sql.types.StructType,
        rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    }
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, StructField, StructType}
    import org.apache.spark.sql.Row
    // (query_id, cell) pairs — the probe fan-out, exploded on the driver
    val qCells = localDf(
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("query_id", idType))),
      qRows.toSeq.flatMap(r =>
        r.getSeq[Int](4).map(cell => Row(cell, r.get(0)))))
    // per-query ADC lookup tables and raw vectors for the two later
    // query-side joins
    val qLutRows = localDf(
      StructType(Seq(StructField("query_id", idType),
        StructField("lut", ArrayType(ArrayType(DoubleType))),
        StructField("qn", DoubleType))),
      qRows.toSeq.map(r => Row(r.get(0), r.get(3), r.get(2))))
    val qVecRows = localDf(
      StructType(Seq(StructField("query_id", idType),
        StructField("qv", ArrayType(FloatType)),
        StructField("qn", DoubleType))),
      qRows.toSeq.map(r => Row(r.get(0), r.get(1), r.get(2))))
    // The probed-cell IN filter prunes the corpus scan at the source
    // (r19): under a cell-clustered corpus layout it becomes
    // partition/cached-batch pruning and the scan is O(candidates),
    // not O(corpus). bounded: ≤ queries × nProbe distinct cell ids.
    val probedCells = qRows.toSeq.flatMap(_.getSeq[Int](4)).distinct
    val cellFilter =
      if (probedCells.isEmpty) lit(false)
      else col("cell").isInCollection(probedCells)
    // BROADCAST the (query, probed-cell) side (r19 — measured at 10M
    // corpus rows): a plain equi-join shuffles the WHOLE encoded
    // corpus on cell to meet a few hundred query-cell rows; broadcast
    // flips it to one streaming corpus scan probing a tiny hash table
    // — the query path never shuffles the corpus.
    // excludeSelf drops (id, id) pairs — right for intra-corpus top-k
    // where every query IS a corpus row; admission gates set false
    // (an incoming row legitimately shares its duplicate's id)
    val cand0 = encoded.select("match_id", "cell", "codes", "cn_hat")
      .filter(cellFilter)
      .join(broadcast(qCells), Seq("cell"))
    // No candidate dedup (r20 opt, guide §2.4): every encoded row
    // carries EXACTLY ONE cell ([[encodePq]]'s nearest-cell
    // assignment), so a (query_id, match_id) pair surfaces only via
    // the single probed cell the match lives in — the old distinct()
    // was a full exchange of the candidate set deduplicating a set
    // unique by construction. Plan-guarded in VectorSpec.
    val cand = (if (excludeSelf)
        cand0.filter(col("query_id") =!= col("match_id"))
      else cand0)
      .select("query_id", "match_id", "codes", "cn_hat")
    val qLut = broadcast(qLutRows)
    // ADC as ONE native expression (r20 opt, guide §1.2 per-task work /
    // §4 "prefer codegen-friendly expressions"): the m-term
    // element_at(element_at(...)) chain paid ~17µs per candidate in
    // generic array dispatch — 0.7 s of vec_ann_ivfpq's 2.0 s wall at
    // sf0.1, and O(candidates) at any scale. pq_adc is the identical
    // ascending-subspace left fold in double (bit-identical sums).
    val adc = call_function("pq_adc", col("lut"), col("codes"))
    val approx = cand.join(qLut, "query_id")
      .select(col("query_id"), col("match_id"),
        (adc / (col("qn") * col("cn_hat"))).as("sim_hat"))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("sim_hat").desc, col("match_id").asc)
    val shortlist = approx.withColumn("rk", row_number().over(wa))
      .filter(col("rk") <= k * rerank)
      .select("query_id", "match_id")
    // refine: exact cosine on the bounded shortlist only
    val qVecs = broadcast(qVecRows)
    val cVecs = corpusVecs.select(col(idCol).as("match_id"),
      col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
    // same discipline for the exact-rerank fetch: the shortlist is
    // queries×k×rerank rows — broadcast IT so the corpus-vector fetch
    // is a streamed scan, never a shuffle+sort of the corpus (at 10M
    // vectors the SMJ shuffle dominated the whole search wall)
    val scored = cVecs
      .join(broadcast(shortlist.join(qVecs, "query_id")), "match_id")
      .select(col("query_id"), col("match_id"),
        round(call_function("vec_dot", col("qv"), col("cv"))
          / (col("qn") * col("cn")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** Diagnostic: the EXACT candidate-set cardinality the ADC stage of
    * [[ivfPqTopKEncoded]] scans for the given queries — the probed-cell
    * equi-join size, pre-dedup. Computed as Σ over (query, probed cell)
    * of the cell's encoded-row count (a broadcast-size histogram join,
    * so the diagnostic itself is cheap at any corpus size). One row:
    * (n_queries, candidates). This is the number ScaleProbe gates for
    * the admission path: with nCells scaled ~√corpus (the deployment
    * rule), candidates-per-query grows ~√10 per corpus decade, never
    * linearly. */
  def ivfCandidateCount(queries: DataFrame, encoded: DataFrame,
      idCol: String, vecCol: String, index: PqIndex,
      nProbe: Int = 4): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    require(!index.isEmpty, "ivfCandidateCount: empty index")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2Norm(col(vecCol)).as("qn"))
      .withColumn("cell",
        explode(cellsTopN(index.seeds, nProbe)(col("qv"), col("qn"))))
      .select("query_id", "cell")
    val cellSizes = encoded.groupBy("cell").agg(count(lit(1)).as("sz"))
    q.join(broadcast(cellSizes), Seq("cell"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        sum(coalesce(col("sz"), lit(0L))).as("candidates"))
  }
}
