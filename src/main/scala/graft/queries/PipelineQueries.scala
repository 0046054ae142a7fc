package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.sources.Tables
import graft.operators.{Dedup, Enrichment, Inference, MatchRecognize, Multimodal}
import graft.functions.{CountMinEstimate, PortableHash}

/** Input row for the MATCH_RECOGNIZE demo (top-level so the product
  * encoder has no outer pointer). */
final case class PmEvent(user_id: Long, event_id: Long, event_type: String,
    ts_us: Long)
/** Output row: one per matched (view+ purchase) run. */
final case class PmMatch(user_id: Long, match_id: Long, n_views: Long,
    purchase_event_id: Long)
/** Input row for the correlated-condition MATCH_RECOGNIZE demo. */
final case class DrEvent(user_id: Long, event_id: Long, ts_us: Long,
    value: Double)
/** Output row: one per maximal strictly-descending value run. */
final case class DrMatch(user_id: Long, match_seq: Long, run_len: Long,
    peak: Double, trough: Double)
/** Output row for the SKIP TO NEXT ROW demo: one per (overlapping)
  * adjacent descending pair. */
final case class SnMatch(user_id: Long, match_seq: Long,
    a_val: Double, b_val: Double)

/** Training-data-pipeline coverage: count-min sketch frequencies,
  * batched model inference, multimodal binary plumbing, RAG chunking,
  * BPE-ish tokenization, anomaly detection, lookup enrichment, and
  * MATCH_RECOGNIZE row-pattern matching. Every query is oracle-backed —
  * including the sketch and the NFA, whose hash/automaton semantics are
  * deliberately deterministic.
  */
object PipelineQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) = Tables.embeddings(s, d)
  private def ev(s: org.apache.spark.sql.SparkSession, d: String) = Tables.events(s, d)

  private val CmDepth = 4
  private val CmWidth = 64

  def queries: Seq[Q] = Seq(

    // ===== SketchFrequencies (extensions/sketching/.../SketchFrequencies
    // .java) as a custom TypedImperativeAggregate: build one count-min
    // sketch over all events (depth×width longs cross the shuffle, O(1)
    // in data size), then read per-type estimates back out of the
    // sketch. est >= actual always (CMS bound); the oracle rebuilds the
    // exact counter matrix from the shared md5-affine hash family.
    Q("countmin_freq",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val sketch = ev(s, d)
          .agg(call_function("countmin_agg", col("event_type"),
            lit(CmDepth), lit(CmWidth)).as("sk"))
        val types = ev(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("actual"))
        types.crossJoin(broadcast(sketch))
          .select(col("event_type"),
            call_function("countmin_est", col("sk"), col("event_type"),
              lit(CmDepth), lit(CmWidth)).as("est"),
            col("actual"))
      },
      Some(s"""WITH params(j, a, b) AS (VALUES ${
          (0 until CmDepth).map { i =>
            val (a, b) = Dedup.affineParams(i)
            s"($i, $a, $b)"
          }.mkString(", ")
        }),
        h AS (
          SELECT event_type, count(*) AS actual,
            ${PortableHash.md5LongSql("event_type")} % 2147483648 AS h31
          FROM events GROUP BY event_type
        ), bk AS (
          SELECT h.event_type, h.actual, p.j,
            ((p.a * h.h31 + p.b) % ${Dedup.MinHashPrime}) % $CmWidth AS bucket
          FROM h CROSS JOIN params p
        ), counters AS (
          SELECT j, bucket, sum(actual) AS c FROM bk GROUP BY 1, 2
        )
        SELECT b.event_type, CAST(min(c.c) AS BIGINT) AS est,
          CAST(min(b.actual) AS BIGINT) AS actual
        FROM bk b JOIN counters c ON b.j = c.j AND b.bucket = c.bucket
        GROUP BY b.event_type""")),

    // ===== RunInference (ml/inference/base.py:171): batched linear
    // scorer over embeddings — model loaded once per partition, rows
    // scored in batches of 128; the oracle replays the identical
    // sequential dot product + sigmoid.
    Q("ml_inference",
      (s, d) => Inference.runInference(emb(s, d), "embedding", "score",
          new Inference.LinearScorer(64))
        .select(col("vec_id"), round(col("score"), 6).as("score")),
      Some(s"""SELECT vec_id, round(
          1.0 / (1.0 + exp(-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(list_zip(embedding, [${
              Inference.weights(64).mkString(", ")}]),
              z -> CAST(z[1] AS DOUBLE) * z[2])),
            (acc, x) -> acc + x)))), 6) AS score
        FROM embeddings""")),

    // ===== KeyedModelHandler (ml/inference/base.py:677): per-key model
    // routing — every `label` scores under ITS OWN model (the shared
    // weights scaled by a label-derived factor), with a capped
    // per-worker LRU model cache (max_models_per_worker_hint). The
    // oracle replays each key's model exactly: x * (w * scale), scale
    // = 1 + label/10.
    Q("ml_inference_per_key",
      (s, d) => Inference.runInferencePerKey(emb(s, d), "label",
          "embedding", "score",
          k => new Inference.ScaledLinearScorer(64,
            1.0 + k.asInstanceOf[Int] * 0.1),
          batchSize = 64, maxModelsPerWorker = 4)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          round(col("score"), 6).as("score")),
      Some(s"""SELECT vec_id, CAST(label AS BIGINT) AS label, round(
          1.0 / (1.0 + exp(-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(list_zip(embedding, [${
              Inference.weights(64).mkString(", ")}]),
            z -> CAST(z[1] AS DOUBLE) * (z[2] * (1.0 + label * 0.1)))),
            (acc, x) -> acc + x)))), 6) AS score
        FROM embeddings""")),

    // ===== Multimodal binary columns (ml/transforms/base.py:666-813):
    // text → opaque binary payload → batched stub decode (real decode
    // libs absent in this container; see Multimodal.StubCodec) → typed
    // metadata struct → frame-sampling explode. The oracle recomputes
    // the deterministic stub from octet_length.
    Q("multimodal_meta",
      (s, d) => {
        val withBytes = Multimodal.withPayload(docs(s, d), "text", "payload")
        val decoded = Multimodal.decodeMeta(withBytes, "payload", "meta")
        Multimodal.sampleFrames(decoded, "meta", stride = 4)
          .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
            col("meta.format").as("format"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"),
            col("meta.n_frames").cast("long").as("n_frames"),
            col("frame_idx").cast("long").as("frame_idx"))
      },
      Some("""WITH m AS (
          SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          FROM documents
        ), meta AS (
          SELECT doc_id, n_bytes,
            CASE n_bytes % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
              ELSE 'webp' END AS format,
            n_bytes % 640 + 16 AS width,
            n_bytes % 480 + 16 AS height,
            n_bytes % 24 + 1 AS n_frames
          FROM m)
        SELECT doc_id, n_bytes, format, width, height, n_frames,
          CAST(unnest(generate_series(0, n_frames - 1, 4)) AS BIGINT) AS frame_idx
        FROM meta""")),

    // ===== REAL image decode (not the stub): per-doc dimensions drive
    // a real BMP24 writer (Multimodal.encodeBmp), the payload rides as
    // an opaque binary column, and Multimodal.BmpCodec parses the
    // BITMAPINFOHEADER back. The oracle verifies the decoded dims AND
    // the byte count against the closed-form BMP size law
    // (54 + ⌈3w/4⌉·4·h) — so a header-framing bug on either side
    // hash-mismatches. Zero shuffle: two mapPartitions over documents.
    Q("multimodal_decode_bmp",
      (s, d) => {
        val dims = docs(s, d).select(col("doc_id"),
          (pmod(col("doc_id"), lit(31)) + 1).cast("int").as("w"),
          (pmod(col("doc_id"), lit(17)) + 1).cast("int").as("h"),
          col("doc_id").cast("long").as("seed"))
        val withBytes = Multimodal.withBmpPayload(dims, "w", "h", "seed", "payload")
        Multimodal.decodeMeta(withBytes, "payload", "meta",
            () => new Multimodal.BmpCodec)
          .select(col("doc_id"),
            col("meta.format").as("format"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"),
            col("meta.n_bytes").as("n_bytes"))
      },
      Some("""SELECT doc_id, 'bmp' AS format,
          CAST(doc_id % 31 + 1 AS BIGINT) AS width,
          CAST(doc_id % 17 + 1 AS BIGINT) AS height,
          CAST(54 + ((3 * (doc_id % 31 + 1) + 3) // 4) * 4
            * (doc_id % 17 + 1) AS BIGINT) AS n_bytes
        FROM documents""")),

    // ===== REAL compressed-image decode (javax.imageio, JDK stdlib):
    // per-doc dims drive real PNG (even ids) / JPEG (odd ids) encoders,
    // the bytes ride as an opaque binary column, and ImageIoCodec
    // resolves the reader from the magic bytes and reads dimensions
    // from the header alone (no pixel inflation — the O(header) shape
    // 100 TB of payloads needs). Compressed sizes aren't closed-form,
    // so the oracle verifies the dimension ROUND-TRIP and the
    // magic-dispatched format; a framing/codec bug on either side
    // hash-mismatches. Zero shuffle: two mapPartitions over documents.
    Q("multimodal_decode_image",
      (s, d) => {
        val dims = docs(s, d).select(col("doc_id"),
          (pmod(col("doc_id"), lit(29)) + 1).cast("int").as("w"),
          (pmod(col("doc_id"), lit(13)) + 1).cast("int").as("h"),
          col("doc_id").cast("long").as("seed"))
        val withBytes = Multimodal.withImagePayload(dims, "w", "h", "seed", "payload")
        Multimodal.decodeMeta(withBytes, "payload", "meta",
            () => new Multimodal.ImageIoCodec)
          .select(col("doc_id"),
            col("meta.format").as("format"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"),
            col("meta.n_frames").cast("long").as("n_frames"))
      },
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
          CAST(doc_id % 29 + 1 AS BIGINT) AS width,
          CAST(doc_id % 13 + 1 AS BIGINT) AS height,
          CAST(1 AS BIGINT) AS n_frames
        FROM documents""")),

    // ===== REAL multi-frame ("video") decode: per-doc animated GIFs
    // from the stdlib ImageIO sequence writer ride as binary payloads;
    // the frame COUNT is read from the real container index, frame
    // indices are sampled (stride 2), and ONLY the sampled frames are
    // pixel-decoded into mean-RGB features — decode work scales with
    // samples, not footage. GIF palettes are lossless for solid-color
    // frames, so the oracle verifies the decoded pixels EXACTLY in
    // closed form. True video codecs (mp4) need ffmpeg — absent; the
    // operator chain is the one a real codec would slot into. Zero
    // shuffle: three mapPartitions + one explode over documents.
    // ===== REAL VIDEO-CONTAINER header metadata (r19 — the mp4
    // decision record, VERDICT r18 #10): per-doc minimal-but-valid
    // ISO BMFF payloads (real ftyp/moov/trak box framing, stub mdat)
    // header-parsed by the pure-JVM box walker — mvhd
    // timescale/duration, tkhd 16.16 dims, stsz sample count — with
    // mdat SKIPPED by size (O(boxes), never O(footage)). Frame-pixel
    // decode stays environment-limited (h264 needs ffmpeg/javacv;
    // documented on the operator) — the GIF row above remains the
    // pixel-bearing multi-frame fixture. Zero shuffle.
    Q("multimodal_mp4_meta",
      (s, d) => {
        val dims = docs(s, d).select(col("doc_id"),
          ((pmod(col("doc_id"), lit(7)) + 1) * 16).cast("int").as("w"),
          ((pmod(col("doc_id"), lit(5)) + 1) * 16).cast("int").as("h"),
          (pmod(col("doc_id"), lit(30)) + 1).cast("int").as("ns"),
          ((pmod(col("doc_id"), lit(10)) + 1) * 500).cast("long").as("dur"),
          col("doc_id").cast("long").as("seed"))
        Multimodal.withMp4Meta(dims, "w", "h", "ns", "dur", "seed", "meta")
          .select(col("doc_id"),
            col("meta.timescale").as("timescale"),
            col("meta.duration_ms").as("duration_ms"),
            col("meta.n_tracks").as("n_tracks"),
            col("meta.width").as("width"),
            col("meta.height").as("height"),
            col("meta.n_samples").as("n_samples"))
      },
      Some("""SELECT doc_id,
          CAST(1000 AS BIGINT) AS timescale,
          CAST((doc_id % 10 + 1) * 500 AS BIGINT) AS duration_ms,
          CAST(1 AS BIGINT) AS n_tracks,
          CAST((doc_id % 7 + 1) * 16 AS BIGINT) AS width,
          CAST((doc_id % 5 + 1) * 16 AS BIGINT) AS height,
          CAST(doc_id % 30 + 1 AS BIGINT) AS n_samples
        FROM documents""")),

    Q("multimodal_video_frames",
      (s, d) => {
        val dims = docs(s, d).select(col("doc_id"),
          (pmod(col("doc_id"), lit(7)) + 1).cast("int").as("w"),
          (pmod(col("doc_id"), lit(5)) + 1).cast("int").as("h"),
          (pmod(col("doc_id"), lit(4)) + 2).cast("int").as("nf"),
          col("doc_id").cast("long").as("seed"))
        val withP = Multimodal.withGifPayload(dims, "w", "h", "nf", "seed",
          "payload")
        val meta = Multimodal.decodeMeta(withP, "payload", "meta",
          () => new Multimodal.ImageIoCodec)
        val sampled = Multimodal.sampleFrames(meta, "meta", stride = 2)
        Multimodal.withFrameFeatures(sampled, "payload", "frame_idx")
          .select(col("doc_id"),
            col("meta.n_frames").cast("long").as("n_frames"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("avg_r").cast("long").as("mean_r"),
            col("avg_g").cast("long").as("mean_g"),
            col("avg_b").cast("long").as("mean_b"))
      },
      Some("""WITH v AS (
          SELECT doc_id, doc_id % 4 + 2 AS nf FROM documents)
        SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
          CAST(gs.i AS BIGINT) AS frame_idx,
          CAST((doc_id * 31 + gs.i * 17) % 256 AS BIGINT) AS mean_r,
          CAST((doc_id * 13 + gs.i * 29) % 256 AS BIGINT) AS mean_g,
          CAST((doc_id * 7 + gs.i * 41) % 256 AS BIGINT) AS mean_b
        FROM v CROSS JOIN LATERAL
          (SELECT unnest(generate_series(0, nf - 1, 2)) AS i) gs""")),

    // ===== REAL audio decode: per-doc WAV/RIFF payloads (16-bit PCM,
    // amplitude-A square wave — RMS is exactly A for any length) parsed
    // back by a real chunk-walking RIFF reader; metadata AND the PCM
    // energy feature verified in closed form (the size law 44+2n, the
    // duration arithmetic, and rms == amp exactly). The audio leg of
    // the multimodal column family (ml/transforms/base.py handlers are
    // modality-agnostic bytes-in-features-out). Zero shuffle.
    Q("multimodal_audio_meta",
      (s, d) => {
        val dims = docs(s, d).select(col("doc_id"),
          ((pmod(col("doc_id"), lit(3)) + 1) * 8000).cast("int").as("rate"),
          ((pmod(col("doc_id"), lit(50)) + 10) * 4).cast("int").as("n"),
          pmod(col("doc_id"), lit(1000)).cast("int").as("amp"))
        Multimodal.withWavMeta(dims, "rate", "n", "amp", "meta")
          .select(col("doc_id"),
            col("meta.n_bytes").as("n_bytes"),
            col("meta.sample_rate").cast("long").as("sample_rate"),
            col("meta.channels").cast("long").as("channels"),
            col("meta.n_samples").as("n_samples"),
            col("meta.duration_ms").as("duration_ms"),
            col("meta.rms").as("rms"))
      },
      Some("""SELECT doc_id,
          CAST(44 + 2 * ((doc_id % 50 + 10) * 4) AS BIGINT) AS n_bytes,
          CAST((doc_id % 3 + 1) * 8000 AS BIGINT) AS sample_rate,
          CAST(1 AS BIGINT) AS channels,
          CAST((doc_id % 50 + 10) * 4 AS BIGINT) AS n_samples,
          CAST(((doc_id % 50 + 10) * 4) * 1000
            // ((doc_id % 3 + 1) * 8000) AS BIGINT) AS duration_ms,
          CAST(doc_id % 1000 AS DOUBLE) AS rms
        FROM documents""")),

    // ===== REAL image resize: real PNG in, bilinear rescale, real PNG
    // out — the resolution-normalize pass before batched vision
    // inference; the resized payload's HEADER must round-trip the
    // target dims through the same magic-dispatched decode. Zero
    // shuffle: three mapPartitions over documents.
    Q("multimodal_resize",
      (s, d) => {
        val dims = docs(s, d).select(col("doc_id"),
          (pmod(col("doc_id"), lit(19)) + 2).cast("int").as("w0"),
          (pmod(col("doc_id"), lit(23)) + 2).cast("int").as("h0"),
          col("doc_id").cast("long").as("seed"),
          (pmod(col("doc_id"), lit(9)) + 1).cast("int").as("tw"),
          (pmod(col("doc_id"), lit(11)) + 1).cast("int").as("th"))
        val withBytes = Multimodal.withImagePayload(dims, "w0", "h0", "seed",
          "payload")
        val resized = Multimodal.withResizedPayload(withBytes, "payload",
          "tw", "th", "resized")
        Multimodal.decodeMeta(resized, "resized", "meta",
            () => new Multimodal.ImageIoCodec)
          .select(col("doc_id"),
            col("meta.format").as("format"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"))
      },
      Some("""SELECT doc_id, 'png' AS format,
          CAST(doc_id % 9 + 1 AS BIGINT) AS width,
          CAST(doc_id % 11 + 1 AS BIGINT) AS height
        FROM documents""")),

    // ===== RAG chunking (ml/rag/chunking/base.py): fixed-size
    // overlapping character chunks (size 120, stride 90) with stable
    // ids — a narrow explode, no shuffle.
    Q("rag_chunking",
      (s, d) => {
        val n = length(col("text"))
        val nChunks = when(n <= 120, lit(1L))
          .otherwise(ceil((n - 120).cast("double") / 90.0).cast("long") + 1)
        docs(s, d)
          .withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1)))
          .select(col("doc_id"), col("chunk_idx"),
            expr("substring(text, CAST(chunk_idx * 90 + 1 AS INT), 120)").as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            md5(col("chunk")).as("chunk_md5"),
            length(col("chunk")).cast("long").as("chunk_len"))
      },
      Some("""WITH n AS (
          SELECT doc_id, text, length(text) AS len,
            CASE WHEN length(text) <= 120 THEN 1
                 ELSE CAST(ceil((length(text) - 120) / 90.0) AS BIGINT) + 1
            END AS n_chunks
          FROM documents)
        SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_idx,
          md5(substr(text, CAST(g.i * 90 + 1 AS INT), 120)) AS chunk_md5,
          CAST(length(substr(text, CAST(g.i * 90 + 1 AS INT), 120)) AS BIGINT) AS chunk_len
        FROM n CROSS JOIN LATERAL
          (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) g""")),

    // SENTENCE-boundary segmentation — the RAG chunker family's other
    // split mode (ml/rag/chunking/langchain.py wraps splitters that
    // respect sentence boundaries rather than fixed char windows).
    // RE2-safe pattern (the oracle engine has no lookbehind): split on
    // terminal punctuation + whitespace, drop empties, index by
    // original position. Narrow explode, zero shuffles (the
    // row_number is per-doc over the exploded positions).
    Q("rag_chunk_sentences",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        docs(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), "[.!?]+\\s+")).as(Seq("pos", "sent")))
          .filter(length(trim(col("sent"))) > 0)
          .withColumn("sent_idx", (row_number().over(w) - 1).cast("long"))
          .select(col("doc_id"), col("sent_idx"),
            md5(trim(col("sent"))).as("sent_md5"),
            length(trim(col("sent"))).cast("long").as("sent_len"))
      },
      Some("""WITH sp AS (
          SELECT doc_id, regexp_split_to_array(text, '[.!?]+\s+') AS sents
          FROM documents
        ), ex AS (
          SELECT doc_id, g.i, trim(sents[g.i]) AS sent
          FROM sp CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, len(sents))) AS i) g)
        SELECT doc_id,
          row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS sent_idx,
          md5(sent) AS sent_md5,
          CAST(length(sent) AS BIGINT) AS sent_len
        FROM ex WHERE length(sent) > 0""")),

    // ===== BPE-ish regex tokenization (SURVEY: token counting beyond
    // whitespace): letter runs / digit runs / single punctuation.
    Q("text_token_bpe",
      (s, d) => {
        val pieces = regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
        docs(s, d).select(col("doc_id"),
          size(pieces).cast("long").as("n_pieces"),
          size(array_distinct(pieces)).cast("long").as("n_unique"))
      },
      Some("""SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_pieces,
        CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_unique
        FROM documents""")),

    // ===== TF-IDF (MLTransform tft surface — ml/transforms/tft.py):
    // classic sparse text features. Term frequencies shuffle once on
    // (doc, term); document frequencies reuse the same exploded frame;
    // the join back is on the (small) term dimension.
    Q("text_tfidf",
      (s, d) => {
        val terms = docs(s, d).select(col("doc_id"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // the corpus size is a 1-row fit artifact broadcast into the
        // plan — no eager extra scan at construction time
        val nDocs = broadcast(docs(s, d).agg(
          count(lit(1)).cast("double").as("n_docs")))
        val dfreq = terms.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(dfreq, "term").crossJoin(nDocs)
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("n_docs") / col("df")), 6)
              .as("tfidf"))
      },
      Some("""WITH terms AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
          FROM documents WHERE length(trim(text)) > 0
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term,
          round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n""")),

    // ===== compute_and_apply_vocabulary (MLTransform tft surface):
    // terms ranked by (frequency desc, term asc) → integer ids; terms
    // outside the top-K become OOV (-1). The vocab is a fit artifact —
    // tiny — broadcast back over the exploded terms.
    Q("text_vocab_ids",
      (s, d) => {
        import s.implicits._
        val terms = docs(s, d).select(col("doc_id"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
        // The top-K vocabulary is a FIT ARTIFACT: `orderBy.limit(K)`
        // compiles to TakeOrderedAndProject (per-partition top-K heaps,
        // K rows to the driver) — never a global un-partitioned window
        // over all distinct terms. Ranks are assigned on the K-row
        // artifact and broadcast back.
        val topK = terms.groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term").asc).limit(20)
          .select("term").as[String].collect() // bounded: limit(20) vocab fit
        val vocab = broadcast(
          topK.zipWithIndex.map { case (t, i) => (t, i.toLong) }
            .toSeq.toDF("term", "vocab_id"))
        terms.join(vocab, Seq("term"), "left")
          .groupBy("doc_id", "term")
          .agg(coalesce(min("vocab_id"), lit(-1L)).as("vocab_id"),
            count(lit(1)).as("n"))
      },
      Some("""WITH terms AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
          FROM documents WHERE length(trim(text)) > 0
        ), vocab AS (
          SELECT term,
            CAST(row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1
              AS BIGINT) AS vocab_id
          FROM terms GROUP BY term
          QUALIFY vocab_id < 20)
        SELECT doc_id, t.term, coalesce(min(v.vocab_id), -1) AS vocab_id,
          count(*) AS n
        FROM terms t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY doc_id, t.term"""), timed = false),

    // ===== tft.bucketize: quantile-boundary discretization — exact
    // quartile boundaries fit in one agg (plan-time artifact), applied
    // as a CASE over the data.
    Q("ml_bucketize",
      (s, d) => {
        val ords = Tables.orders(s, d)
        val qs = ords.agg(
          expr("percentile(o_totalprice, 0.25)").as("q1"),
          expr("percentile(o_totalprice, 0.5)").as("q2"),
          expr("percentile(o_totalprice, 0.75)").as("q3"))
        ords.crossJoin(broadcast(qs))
          .select(col("o_orderkey"),
            when(col("o_totalprice") < col("q1"), 0L)
              .when(col("o_totalprice") < col("q2"), 1L)
              .when(col("o_totalprice") < col("q3"), 2L)
              .otherwise(3L).as("bucket"))
      },
      Some("""WITH qs AS (
          SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                 quantile_cont(o_totalprice, 0.5) AS q2,
                 quantile_cont(o_totalprice, 0.75) AS q3
          FROM orders)
        SELECT o_orderkey,
          CAST(CASE WHEN o_totalprice < q1 THEN 0
               WHEN o_totalprice < q2 THEN 1
               WHEN o_totalprice < q3 THEN 2 ELSE 3 END AS BIGINT) AS bucket
        FROM orders CROSS JOIN qs"""), timed = false),

    // ===== Feature hashing (the hashing trick): term → fixed-width
    // feature index via the portable hash — no vocab artifact at all,
    // the 100 TB-friendly featurizer.
    Q("ml_feature_hash",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
        .select(col("doc_id"),
          pmod(PortableHash.md5Long(col("term")), lit(256)).as("feature"))
        .groupBy("doc_id", "feature").agg(count(lit(1)).as("n")),
      Some(s"""SELECT doc_id,
        ${PortableHash.md5LongSql("term")} % 256 AS feature, count(*) AS n
        FROM (SELECT doc_id,
              unnest(string_split_regex(trim(text), '\\s+')) AS term
              FROM documents WHERE length(trim(text)) > 0) t
        GROUP BY 1, 2"""), timed = false),

    // ===== Anomaly detection (ml/anomaly/): per-type z-score against
    // fitted mean/stddev (one agg pass, broadcast back), flag |z|>2.5.
    Q.sql("anomaly_zscore", """WITH stats AS (
          SELECT event_type, avg(value) AS mean_v, stddev_samp(value) AS sd_v
          FROM events GROUP BY 1)
        SELECT /*+ BROADCAST(stats) */ event_id, e.event_type,
          round((value - mean_v) / sd_v, 6) AS z
        FROM events e JOIN stats USING (event_type)
        WHERE abs(round((value - mean_v) / sd_v, 6)) > 2.5"""),

    // ===== Robust z-score anomaly detector (ml/anomaly/detectors/
    // robust_zscore.py — median/MAD instead of mean/stddev, outlier-
    // insensitive): two fit passes (median, then median absolute
    // deviation around it), fits broadcast back, flag |x-med| /
    // (1.4826·MAD) > 3. Same two-partial-agg + broadcast scale shape
    // as the plain z-score.
    Q("anomaly_robust_zscore",
      (s, d) => {
        val med = ev(s, d).groupBy("event_type")
          .agg(percentile(col("value"), lit(0.5)).as("med_v"))
        val mad = ev(s, d).join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(percentile(abs(col("value") - col("med_v")), lit(0.5)).as("mad_v"))
        ev(s, d).join(broadcast(med), "event_type")
          .join(broadcast(mad), "event_type")
          // mad_v = 0 (constant group, e.g. n=1) ⇒ robust z undefined:
          // no anomaly, not a crash (when→null filters out)
          .withColumn("rz", when(col("mad_v") > 0, round(
            abs(col("value") - col("med_v")) / (lit(1.4826) * col("mad_v")), 6)))
          .filter(col("rz") > 3.0)
          .select(col("event_id"), col("event_type"), col("rz"))
      },
      Some("""WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med_v
          FROM events GROUP BY 1),
        mad AS (
          SELECT event_type, quantile_cont(abs(value - med_v), 0.5) AS mad_v
          FROM events e JOIN med USING (event_type) GROUP BY 1)
        SELECT event_id, e.event_type,
          round(abs(value - med_v) / (1.4826 * mad_v), 6) AS rz
        FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
        WHERE mad_v > 0
          AND round(abs(value - med_v) / (1.4826 * mad_v), 6) > 3.0""")),

    // ===== IQR anomaly detector (ml/anomaly/detectors/iqr.py): Tukey
    // fences — flag points outside [q1 - 1.5·IQR, q3 + 1.5·IQR], with
    // the violated side reported. One fit agg (both quantiles in one
    // pass), broadcast back.
    Q("anomaly_iqr",
      (s, d) => {
        val fit = ev(s, d).groupBy("event_type").agg(
          percentile(col("value"), lit(0.25)).as("q1"),
          percentile(col("value"), lit(0.75)).as("q3"))
        ev(s, d).join(broadcast(fit), "event_type")
          .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
          .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
          .filter(col("value") < col("lo") || col("value") > col("hi"))
          .select(col("event_id"), col("event_type"),
            when(col("value") < col("lo"), "low").otherwise("high").as("side"),
            round(col("value"), 6).as("value"))
      },
      Some("""WITH fit AS (
          SELECT event_type,
            quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
          FROM events GROUP BY 1)
        SELECT event_id, e.event_type,
          CASE WHEN value < q1 - (q3 - q1) * 1.5 THEN 'low' ELSE 'high' END AS side,
          round(value, 6) AS value
        FROM events e JOIN fit USING (event_type)
        WHERE value < q1 - (q3 - q1) * 1.5 OR value > q3 + (q3 - q1) * 1.5""")),

    // ===== Detector ENSEMBLE voting (ml/anomaly/aggregations.py:195
    // MajorityVote / :267 AnyVote): the three fitted detectors above
    // (z-score, robust z-score, IQR fences) vote per event; AnyVote =
    // ≥1 flag (the reported set), MajorityVote = ≥2 of 3. All fits
    // collapse into TWO partial-agg passes (mean/sd/median/quartiles in
    // one, MAD needs the median first) broadcast back over ONE scoring
    // scan — the ensemble costs no more exchanges than its slowest
    // member. Each verdict uses its detector's exact rounded formula,
    // so engines agree at thresholds.
    Q("anomaly_ensemble_vote",
      (s, d) => {
        val e = ev(s, d)
        val fit = e.groupBy("event_type").agg(
          avg("value").as("mean_v"), stddev_samp(col("value")).as("sd_v"),
          percentile(col("value"), lit(0.5)).as("med_v"),
          percentile(col("value"), lit(0.25)).as("q1"),
          percentile(col("value"), lit(0.75)).as("q3"))
        val mad = e.join(broadcast(fit.select("event_type", "med_v")), "event_type")
          .groupBy("event_type")
          .agg(percentile(abs(col("value") - col("med_v")), lit(0.5)).as("mad_v"))
        e.join(broadcast(fit), "event_type")
          .join(broadcast(mad), "event_type")
          .withColumn("v_z",
            (abs(round((col("value") - col("mean_v")) / col("sd_v"), 6)) > 2.5)
              .cast("int"))
          .withColumn("v_rz",
            (round(abs(col("value") - col("med_v")) /
              (lit(1.4826) * col("mad_v")), 6) > 3.0).cast("int"))
          .withColumn("v_iqr",
            (col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
             col("value") > col("q3") + (col("q3") - col("q1")) * 1.5)
              .cast("int"))
          .withColumn("n_votes",
            (col("v_z") + col("v_rz") + col("v_iqr")).cast("long"))
          .filter(col("n_votes") >= 1)
          .select(col("event_id"), col("event_type"), col("n_votes"),
            (col("n_votes") >= 2).cast("long").as("majority"))
      },
      Some("""WITH fit AS (
          SELECT event_type, avg(value) AS mean_v, stddev_samp(value) AS sd_v,
            quantile_cont(value, 0.5) AS med_v,
            quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
          FROM events GROUP BY 1),
        mad AS (
          SELECT event_type, quantile_cont(abs(value - med_v), 0.5) AS mad_v
          FROM events e JOIN fit USING (event_type) GROUP BY 1),
        votes AS (
          SELECT event_id, e.event_type,
            CASE WHEN abs(round((value - mean_v) / sd_v, 6)) > 2.5
                 THEN 1 ELSE 0 END
            + CASE WHEN round(abs(value - med_v) / (1.4826 * mad_v), 6) > 3.0
                   THEN 1 ELSE 0 END
            + CASE WHEN value < q1 - (q3 - q1) * 1.5
                     OR value > q3 + (q3 - q1) * 1.5 THEN 1 ELSE 0 END AS n_votes
          FROM events e JOIN fit USING (event_type) JOIN mad USING (event_type))
        SELECT event_id, event_type, CAST(n_votes AS BIGINT) AS n_votes,
          CAST(CASE WHEN n_votes >= 2 THEN 1 ELSE 0 END AS BIGINT) AS majority
        FROM votes WHERE n_votes >= 1""")),

    // ===== Sliding-window anomaly tracker (ml/anomaly/univariate/
    // mean.py SimpleSlidingMeanTracker + stdev.py): each event scored
    // against the mean/stddev of its key's PREVIOUS 20 events (the
    // landmark-free sliding tracker); needs >= 5 prior events. One
    // exchange on the key; the trailing frame never materializes more
    // than the window.
    Q("anomaly_sliding",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        ev(s, d)
          .withColumn("n_prev", count(lit(1)).over(w))
          .withColumn("m", avg("value").over(w))
          .withColumn("sd", stddev_samp(col("value")).over(w))
          .filter(col("n_prev") >= 5 && col("sd") > 0)
          .withColumn("z", round((col("value") - col("m")) / col("sd"), 4))
          .filter(abs(col("z")) > 3.0)
          .select(col("event_id"), col("user_id"), col("z"))
      },
      Some("""WITH scored AS (
          SELECT event_id, user_id, value,
            count(*) OVER w AS n_prev,
            avg(value) OVER w AS m,
            stddev_samp(value) OVER w AS sd
          FROM events
          WINDOW w AS (PARTITION BY user_id
            ORDER BY make_timestamp(epoch_us(ts)), event_id
            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        SELECT event_id, user_id, round((value - m) / sd, 4) AS z
        FROM scored
        WHERE n_prev >= 5 AND sd > 0
          AND abs(round((value - m) / sd, 4)) > 3.0""")),

    // ===== Sliding QUANTILE tracker (ml/anomaly/univariate/quantile.py
    // SlidingQuantileTracker) — the remaining univariate tracker shape:
    // each event scored against a trailing-window QUANTILE of its key's
    // previous 20 values (quantiles resist the outliers that drag a
    // sliding mean). Same one-exchange trailing-frame plan as the
    // sliding mean tracker; percentile runs as a window aggregate over
    // the frame.
    Q("anomaly_sliding_quantile",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        ev(s, d)
          .withColumn("n_prev", count(lit(1)).over(w))
          .withColumn("p90", percentile(col("value"), lit(0.9)).over(w))
          .filter(col("n_prev") >= 5)
          .filter(col("value") > col("p90") * 1.5)
          .select(col("event_id"), col("user_id"),
            round(col("value"), 6).as("value"), round(col("p90"), 4).as("p90"))
      },
      Some("""WITH scored AS (
          SELECT event_id, user_id, value,
            count(*) OVER w AS n_prev,
            quantile_cont(value, 0.9) OVER w AS p90
          FROM events
          WINDOW w AS (PARTITION BY user_id
            ORDER BY make_timestamp(epoch_us(ts)), event_id
            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        SELECT event_id, user_id, round(value, 6) AS value,
          round(p90, 4) AS p90
        FROM scored WHERE n_prev >= 5 AND value > p90 * 1.5""")),

    // ===== Enrichment lookup join (transforms/enrichment.py:103): per-
    // partition client lifecycle, per-row point lookup — no shuffle of
    // the main input. Client wraps the (tiny) nation dim; the oracle is
    // the equivalent relational join.
    Q("enrich_lookup",
      (s, d) => {
        val nations = Tables.nation(s, d).collect() // bounded: 25-row nation dim
          .map(r => (r.getAs[Int]("n_nationkey").toLong, r.getAs[String]("n_name")))
          .toMap
        val client = () => new Enrichment.MapClient(
          nations.map { case (k, v) => (k: Any, v: Any) })
        Enrichment.enrich(
            Tables.customer(s, d).select(col("c_custkey"),
              col("c_nationkey").cast("long").as("nk")),
            "nk", StructField("nation_name", org.apache.spark.sql.types.StringType),
            client)
          .select(col("c_custkey"), col("nation_name"))
      },
      Some("""SELECT c_custkey, n_name AS nation_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey"""), timed = false),

    // ===== MATCH_RECOGNIZE (rel/BeamMatchRel.java:76 — NFA over keyed
    // time-sorted rows): pattern (V:view)+ (P:purchase), AFTER MATCH
    // SKIP PAST LAST ROW, per-user in (ts, event_id) order. The oracle
    // reconstructs the same automaton relationally: a purchase preceded
    // by k>=1 consecutive views matches, consuming the whole run.
    Q("pattern_match",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val events = ev(s, d).select(col("user_id"), col("event_id"),
            col("event_type"), unix_micros(col("ts")).as("ts_us"))
          .as[PmEvent]
        MatchRecognize.matchRecognize[Long, PmEvent, PmMatch](
          events, _.user_id, Seq(col("ts_us"), col("event_id")),
          Seq(
            MatchRecognize.Step[PmEvent]("V", _.event_type == "view",
              min = 1, max = Int.MaxValue),
            MatchRecognize.Step[PmEvent]("P", _.event_type == "purchase"))
        ) { m =>
          PmMatch(m.key, m.matchSeq,
            m.captured("V").size.toLong,
            m.captured("P").head.event_id)
        }.toDF()
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), runs AS (
          SELECT user_id, event_id, event_type, rn,
            rn - coalesce(max(CASE WHEN event_type <> 'view' THEN rn END)
              OVER (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - 1
              AS prior_views
          FROM ordered)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT)
            AS match_id,
          CAST(prior_views AS BIGINT) AS n_views,
          event_id AS purchase_event_id
        FROM runs
        WHERE event_type = 'purchase' AND prior_views >= 1""")),

    // ===== MATCH_RECOGNIZE arithmetic in DEFINE — the CEP
    // percentage-drop condition (`B.value < PREV(B.value) * 0.95`):
    // SQL:2016 value expressions inside the pattern predicate, not
    // just the measures. SKIP TO NEXT ROW reports every qualifying
    // adjacent pair; the oracle is the lag() rewrite with identical
    // IEEE arithmetic.
    Q("pattern_pct_drop",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES LAST(A.value) AS prev_value, LAST(B.value) AS drop_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          DEFINE B AS B.value < PREV(B.value) * 0.95""")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_drops"),
            min(col("drop_value")).as("worst_drop"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, value,
            lag(value) OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS prev_v
          FROM events)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_drops,
          min(value) AS worst_drop
        FROM ordered
        WHERE prev_v IS NOT NULL AND value < prev_v * 0.95
        GROUP BY user_id"""), timed = false),

    // ===== MATCH_RECOGNIZE arithmetic MEASURES (SQL:2016 value
    // expressions over navigations/aggregates — Calcite compiles the
    // same through BeamMatchRel's measure expressions): the down-run
    // clause reporting derived quantities computed INSIDE the matcher:
    // drop depth, percent-descending, midpoint. Oracle replays the
    // gaps-and-islands rewrite and applies identical IEEE arithmetic.
    Q("pattern_measure_arith",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq,
                   FIRST(A.value) - LAST(B.value) AS drop_amt,
                   100 * COUNT(B.*) / COUNT(*) AS pct_down,
                   (FIRST(A.value) + LAST(B.value)) / 2 AS midpoint
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.value < PREV(B.value)""")
          // no in-query round: both engines build the SAME IEEE doubles
          // from the same runs, and the checker's uniform 6-decimal
          // normalization compares them — in-query round() would
          // reintroduce the HALF_UP vs HALF_EVEN tie divergence
          .select(col("user_id"), col("match_seq"), col("drop_amt"),
            col("pct_down"), col("midpoint"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), runs AS (
          SELECT user_id, g, count(*) AS run_len, min(rn) AS head_rn,
            arg_min(value, rn) AS peak, arg_max(value, rn) AS trough
          FROM grp GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
            AS BIGINT) AS match_seq,
          peak - trough AS drop_amt,
          100 * CAST(run_len - 1 AS DOUBLE) / CAST(run_len AS DOUBLE)
            AS pct_down,
          (peak + trough) / 2 AS midpoint
        FROM runs""")),

    // ===== MATCH_RECOGNIZE with a CORRELATED DEFINE condition (the
    // impl/cep/ CEPOperation surface): down-run detection
    //   PATTERN (A B+)  DEFINE B AS B.value < PREV(B.value)
    // i.e. maximal strictly-descending value runs per user, AFTER MATCH
    // SKIP PAST LAST ROW. The oracle is the gaps-and-islands rewrite:
    // descending islands of length >= 2 in (ts, event_id) order.
    Q("pattern_down_run",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val events = ev(s, d).select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("value"))
          .as[DrEvent]
        MatchRecognize.matchRecognize[Long, DrEvent, DrMatch](
          events, _.user_id, Seq(col("ts_us"), col("event_id")),
          Seq(
            MatchRecognize.Step[DrEvent]("A", _ => true),
            MatchRecognize.CtxStep[DrEvent]("B",
              (t, ctx) => ctx.prev().exists(p => t.value < p.value),
              min = 1, max = Int.MaxValue))
        ) { m =>
          DrMatch(m.key, m.matchSeq,
            (m.captured("B").size + 1).toLong,
            m.captured("A").head.value,
            m.captured("B").last.value)
        }.toDF()
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), runs AS (
          SELECT user_id, g, count(*) AS run_len, min(rn) AS head_rn,
            arg_min(value, rn) AS peak, arg_max(value, rn) AS trough
          FROM grp GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
            AS BIGINT) AS match_seq,
          CAST(run_len AS BIGINT) AS run_len, peak, trough
        FROM runs""")),

    // ===== MATCH_RECOGNIZE SQL-TEXT front door: the identical
    // down-run query expressed as the full SQL clause — PARTITION BY /
    // ORDER BY / MEASURES / PATTERN / DEFINE with the
    // `B.value < PREV(B.value)` predicate parsed from text
    // (operators/MatchRecognizeSql; Beam parses this via Calcite into
    // BeamMatchRel). Same oracle as the DSL form: SQL text and DSL
    // must agree with each other AND with DuckDB.
    Q("pattern_sql_clause",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq, COUNT(B.*) AS n_down,
                   FIRST(A.value) AS peak, LAST(B.value) AS trough
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.value < PREV(B.value)""")
          .select(col("user_id"), col("match_seq"),
            (col("n_down") + 1).as("run_len"), col("peak"), col("trough"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), runs AS (
          SELECT user_id, g, count(*) AS run_len, min(rn) AS head_rn,
            arg_min(value, rn) AS peak, arg_max(value, rn) AS trough
          FROM grp GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
            AS BIGINT) AS match_seq,
          CAST(run_len AS BIGINT) AS run_len, peak, trough
        FROM runs""")),

    // ===== MEASURES aggregates (SQL:2016 SUM/AVG/MIN/MAX over a
    // pattern variable's matched rows — Calcite exposes these through
    // BeamMatchRel's measure expressions): the total/mean/extremes of
    // the descending leg of each down-run, computed inside the match.
    Q("pattern_measures_agg",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq, SUM(B.value) AS sum_down,
                   AVG(B.value) AS avg_down, MIN(B.value) AS min_down,
                   MAX(B.value) AS max_down
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.value < PREV(B.value)""")
          .select(col("user_id"), col("match_seq"),
            round(col("sum_down"), 6).as("sum_down"),
            round(col("avg_down"), 6).as("avg_down"),
            col("min_down"), col("max_down"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), grp2 AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, g
            ORDER BY rn) AS rn2
          FROM grp
        ), runs AS (
          SELECT user_id, g, count(*) AS n_rows, min(rn) AS head_rn,
            round(sum(value) FILTER (rn2 > 1), 6) AS sum_down,
            round(avg(value) FILTER (rn2 > 1), 6) AS avg_down,
            min(value) FILTER (rn2 > 1) AS min_down,
            max(value) FILTER (rn2 > 1) AS max_down
          FROM grp2 GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
            AS BIGINT) AS match_seq,
          sum_down, avg_down, min_down, max_down
        FROM runs""")),

    // ===== ALL ROWS PER MATCH + CLASSIFIER() (SQL:2016's per-row
    // output mode — Calcite SqlMatchRecognize rowsPerMatch): every
    // matched row emits with its pattern variable and the match's
    // FINAL measures. The down-run unrolled: each A/B row tagged.
    Q("pattern_all_rows",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq, CLASSIFIER() AS var_name,
                   SUM(B.value) AS sum_down
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.value < PREV(B.value)""")
          .select(col("user_id"), col("event_id"), col("match_seq"),
            col("var_name"), round(col("sum_down"), 6).as("sum_down"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), grp2 AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, g
            ORDER BY rn) AS rn2
          FROM grp
        ), runs AS (
          SELECT user_id, g, min(rn) AS head_rn,
            round(sum(value) FILTER (rn2 > 1), 6) AS sum_down
          FROM grp2 GROUP BY 1, 2 HAVING count(*) >= 2
        ), seq AS (
          SELECT user_id, g, sum_down,
            row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
              AS match_seq
          FROM runs)
        SELECT g2.user_id, g2.event_id,
          CAST(seq.match_seq AS BIGINT) AS match_seq,
          CASE WHEN g2.rn2 = 1 THEN 'A' ELSE 'B' END AS var_name,
          seq.sum_down
        FROM grp2 g2 JOIN seq ON g2.user_id = seq.user_id AND g2.g = seq.g""")),

    // ===== AFTER MATCH SKIP TO NEXT ROW (SQL:2016's other
    // deterministic skip mode; Calcite SqlMatchRecognize.AfterOption):
    // PATTERN (A B) DEFINE B AS B.value < PREV(B.value) with the scan
    // resuming one row after each match START — every adjacent
    // descending pair is reported, OVERLAPPING (a 3-row descent yields
    // 2 matches where SKIP PAST LAST ROW would yield 1). The oracle is
    // the lag() formulation, which by construction enumerates all
    // adjacent pairs.
    Q("pattern_skip_next",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val events = ev(s, d).select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("value"))
          .as[DrEvent]
        MatchRecognize.matchRecognize[Long, DrEvent, SnMatch](
          events, _.user_id, Seq(col("ts_us"), col("event_id")),
          Seq(
            MatchRecognize.Step[DrEvent]("A", _ => true),
            MatchRecognize.CtxStep[DrEvent]("B",
              (t, ctx) => ctx.prev().exists(p => t.value < p.value))),
          skip = MatchRecognize.SkipToNextRow
        ) { m =>
          SnMatch(m.key, m.matchSeq,
            m.captured("A").head.value,
            m.captured("B").head.value)
        }.toDF()
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), pairs AS (
          SELECT user_id, rn,
            lag(value) OVER (PARTITION BY user_id ORDER BY rn) AS a_val,
            value AS b_val
          FROM ordered)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn)
            AS BIGINT) AS match_seq,
          a_val, b_val
        FROM pairs WHERE b_val < a_val""")),

    // ===== RUNNING measure semantics in ALL ROWS PER MATCH (SQL:2016
    // §7.2 — a RUNNING aggregate at output row j sees only match rows
    // 0..j; Beam/Calcite surface this through BeamMatchRel's measure
    // expressions): the down-run unrolled with a per-row running count
    // and running sum of the descending leg. The oracle replays the
    // prefix semantics with cumulative window frames inside each island.
    Q("pattern_all_rows_running",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq, CLASSIFIER() AS var_name,
                   RUNNING COUNT(B.*) AS n_down_so_far,
                   RUNNING SUM(B.value) AS sum_down_so_far
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.value < PREV(B.value)""")
          .select(col("user_id"), col("event_id"), col("match_seq"),
            col("var_name"), col("n_down_so_far"),
            round(col("sum_down_so_far"), 6).as("sum_down_so_far"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), grp2 AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, g
            ORDER BY rn) AS rn2
          FROM grp
        ), runs AS (
          SELECT user_id, g, min(rn) AS head_rn
          FROM grp2 GROUP BY 1, 2 HAVING count(*) >= 2
        ), seq AS (
          SELECT user_id, g,
            row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
              AS match_seq
          FROM runs)
        SELECT g2.user_id, g2.event_id,
          CAST(seq.match_seq AS BIGINT) AS match_seq,
          CASE WHEN g2.rn2 = 1 THEN 'A' ELSE 'B' END AS var_name,
          CAST(count(CASE WHEN g2.rn2 > 1 THEN 1 END) OVER w AS BIGINT)
            AS n_down_so_far,
          round(sum(CASE WHEN g2.rn2 > 1 THEN g2.value END) OVER w, 6)
            AS sum_down_so_far
        FROM grp2 g2 JOIN seq ON g2.user_id = seq.user_id AND g2.g = seq.g
        WINDOW w AS (PARTITION BY g2.user_id, g2.g ORDER BY g2.rn2
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")),

    // ===== SQL:2016 logical-offset navigation (FIRST/LAST(V.col, k) —
    // the (k+1)-th / k-back row AMONG the variable's matched rows;
    // out of range → NULL; Calcite parses these as SqlMatchRecognize
    // nav calls and Beam evaluates them in the NFA's CEPOperation):
    // per down-run, the first/second descent value, the
    // second-to-last, the last, and arithmetic composed over two
    // offset navigations. Oracle: the islands' value lists indexed
    // 1-based (DuckDB yields NULL out of range, matching the engine).
    Q("pattern_nav_offsets",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq,
                   FIRST(B.value) AS b0, FIRST(B.value, 1) AS b1,
                   LAST(B.value, 1) AS pen, LAST(B.value) AS bn,
                   LAST(B.value, 1) - FIRST(B.value, 1) AS span
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+)
          DEFINE B AS B.value < PREV(B.value)""")
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), grp2 AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, g
            ORDER BY rn) AS rn2
          FROM grp
        ), runs AS (
          SELECT user_id, g, min(rn) AS head_rn,
            list(value ORDER BY rn) FILTER (rn2 > 1) AS bv
          FROM grp2 GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
            AS BIGINT) AS match_seq,
          bv[1] AS b0, bv[2] AS b1,
          bv[len(bv) - 1] AS pen, bv[len(bv)] AS bn,
          bv[len(bv) - 1] - bv[2] AS span
        FROM runs""")),

    // ===== Full-STATEMENT MATCH_RECOGNIZE (Beam SQL runs the clause
    // inside a complete query — Calcite plans BeamMatchRel as a
    // relational operand under projections/filters/aggregates;
    // `MatchRecognizeSql.sql` re-expresses that: clause extracted and
    // run on the NFA, the rewritten statement planned by Catalyst):
    // down-run drops per user, outer WHERE on a measure + outer
    // GROUP BY aggregation.
    Q("pattern_sql_statement",
      (s, d) => {
        ev(s, d).select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("value"))
          .createOrReplaceTempView("graft_stmt_events")
        graft.operators.MatchRecognizeSql.sql(s, """
          SELECT user_id, COUNT(*) AS n_matches,
                 ROUND(SUM(drop_total), 6) AS sum_drop
          FROM graft_stmt_events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts_us, event_id
            MEASURES FIRST(A.value) - LAST(B.value) AS drop_total
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+)
            DEFINE B AS B.value < PREV(B.value)
          )
          WHERE drop_total > 5
          GROUP BY user_id""")
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), runs AS (
          SELECT user_id, g, list(value ORDER BY rn) AS vs
          FROM grp GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
          round(sum(vs[1] - vs[len(vs)]), 6) AS sum_drop
        FROM runs WHERE vs[1] - vs[len(vs)] > 5
        GROUP BY user_id""")),

    // ===== Pattern EXCLUSION {- A -} (SQL:2016 row-pattern feature —
    // Calcite SqlMatchRecognize parses it as PATTERN_EXCLUDED): the
    // anchor row still anchors the match and still advances RUNNING
    // state, but ALL ROWS PER MATCH emits only the down-run's B rows.
    // Oracle: the islands' rows with in-island position > 1; the
    // running count is the in-run ordinal.
    Q("pattern_exclusion",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq,
                   RUNNING COUNT(B.*) AS n_down
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ({- A -} B+)
          DEFINE B AS B.value < PREV(B.value)""")
          .select(col("user_id"), col("event_id"), col("match_seq"),
            col("n_down"))
      },
      Some("""WITH ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), marked AS (
          SELECT *, CASE WHEN value < lag(value) OVER
              (PARTITION BY user_id ORDER BY rn)
            THEN 0 ELSE 1 END AS brk
          FROM ordered
        ), grp AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS g
          FROM marked
        ), grp2 AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, g
            ORDER BY rn) AS rn2
          FROM grp
        ), runs AS (
          SELECT user_id, g, min(rn) AS head_rn
          FROM grp2 GROUP BY 1, 2 HAVING count(*) >= 2
        ), seq AS (
          SELECT user_id, g,
            row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
              AS match_seq
          FROM runs)
        SELECT g2.user_id, g2.event_id,
          CAST(seq.match_seq AS BIGINT) AS match_seq,
          CAST(g2.rn2 - 1 AS BIGINT) AS n_down
        FROM grp2 g2 JOIN seq ON g2.user_id = seq.user_id AND g2.g = seq.g
        WHERE g2.rn2 > 1""")),

    // ===== RUNNING aggregates in DEFINE (SQL:2016 — the aggregate
    // sees the rows matched SO FAR including the row under test;
    // Beam compiles these as CEPCall aggregations inside the NFA's
    // condition evaluation): the cumulative-cap segmentation
    // `B AS SUM(B.value) <= 120` — each per-user run of consecutive
    // events greedily accumulates until the next row would exceed the
    // cap; an over-cap single row matches nothing. The oracle replays
    // the greedy reset with a recursive CTE (values are positive, so
    // an over-cap row is always its own excluded singleton).
    Q("pattern_define_agg",
      (s, d) => {
        val events = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        graft.operators.MatchRecognizeSql(events, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES MATCH_NUMBER() AS match_seq, COUNT(B.*) AS n_rows,
                   SUM(B.value) AS total
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (B+)
          DEFINE B AS SUM(B.value) <= 120""")
          .select(col("user_id"), col("match_seq"), col("n_rows"),
            round(col("total"), 6).as("total"))
      },
      Some("""WITH RECURSIVE ordered AS (
          SELECT user_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), seg AS (
          SELECT user_id, rn, value, value AS acc, CAST(1 AS BIGINT) AS grp
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.user_id, o.rn, o.value,
            CASE WHEN s.acc + o.value <= 120
              THEN s.acc + o.value ELSE o.value END AS acc,
            CASE WHEN s.acc + o.value <= 120
              THEN s.grp ELSE s.grp + 1 END AS grp
          FROM seg s JOIN ordered o
            ON o.user_id = s.user_id AND o.rn = s.rn + 1
        ), runs AS (
          SELECT user_id, grp, min(rn) AS head_rn,
            CAST(count(*) AS BIGINT) AS n_rows, sum(value) AS total
          FROM seg GROUP BY 1, 2 HAVING sum(value) <= 120)
        SELECT user_id,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY head_rn)
            AS BIGINT) AS match_seq,
          n_rows, round(total, 6) AS total
        FROM runs""")),

    // ===== Corpus-level duplicated-n-gram fraction (the Gopher/
    // RefinedWeb dedup SIGNAL, complementing the pairwise dedup_ngram_
    // jaccard): per doc, the fraction of its distinct 3-gram shingles
    // that occur in more than 5 documents corpus-wide. Scale shape: one
    // explode + one (shingle → doc-frequency) aggregation + one join
    // back on the shingle key — the inverted-index pattern, no pairwise
    // blowup (cf. reference ngram use in dedup,
    // sdks/java/extensions/ml 's similarity utilities).
    Q("text_dup_ngram_fraction",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        import org.apache.spark.sql.expressions.Window
        val sh = docs(s, d)
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), explode(array_distinct(
            call_function("shingles",
              graft.operators.TextAnalysis.tokens(col("text")), lit(3))))
            .as("sh"))
        // Shingles are DISTINCT per doc, so each shingle's document
        // frequency is count(*) over its window — ONE explode and one
        // exchange on the shingle key, instead of a separate df
        // aggregation joined back (which re-scans + re-explodes the
        // whole corpus: the df table outgrows broadcast at scale, so
        // that join shuffles everything a second time anyway).
        sh.withColumn("ndocs",
            count(lit(1)).over(Window.partitionBy("sh")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            round(avg(when(col("ndocs") > 5, 1.0).otherwise(0.0)), 6)
              .as("dup_frac"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
          FROM tok CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
        ), dfreq AS (
          SELECT sh, count(DISTINCT doc_id) AS ndocs FROM sh GROUP BY 1)
        SELECT doc_id, count(*) AS n_shingles,
          round(avg(CASE WHEN ndocs > 5 THEN 1.0 ELSE 0.0 END), 6)
            AS dup_frac
        FROM sh JOIN dfreq USING (sh)
        GROUP BY doc_id""")),

    // ===== Eval-set decontamination — the step every training pipeline
    // runs before the corpus ships: drop/flag documents sharing any
    // shingle with a benchmark set. Benchmark stand-in: doc_id % 100 =
    // 0 (~1%). Scale shape: the benchmark shingle set is SMALL (it's an
    // eval set) → distinct + broadcast semi join against the corpus's
    // exploded shingles; the corpus is never self-joined.
    Q("pipeline_decontaminate",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val shingled = docs(s, d)
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), explode(array_distinct(
            call_function("shingles",
              graft.operators.TextAnalysis.tokens(col("text")), lit(3))))
            .as("sh"))
        val benchShingles = shingled.filter(col("doc_id") % 100 === 0)
          .select("sh").distinct()
        shingled.filter(col("doc_id") % 100 =!= 0)
          .join(broadcast(benchShingles), Seq("sh"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
          FROM tok CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g)
        SELECT doc_id, count(*) AS n_shared
        FROM sh
        WHERE doc_id % 100 <> 0
          AND sh IN (SELECT sh FROM sh WHERE doc_id % 100 = 0)
        GROUP BY doc_id""")),

    // ===== Deterministic WEIGHTED sampling — curriculum/quality-
    // weighted corpus retention without RNG state: keep a doc iff
    // portableHash(id) mod M < weight·M, weight = clamped length
    // proxy. Per-row arithmetic, zero shuffles, reproducible across
    // engines and runs (the property Beam's Sample cannot give you);
    // weights can be any deterministic column (quality, source prior).
    Q("sample_weighted",
      (s, d) => docs(s, d)
        .withColumn("w", least(col("n_chars") / 400.0, lit(1.0)))
        .filter(pmod(PortableHash.md5Long(col("doc_id")), lit(1000000)) <
          col("w") * 1000000)
        .select(col("doc_id"), col("n_chars")),
      Some(s"""SELECT doc_id, n_chars FROM documents
        WHERE ${PortableHash.md5LongSql("doc_id")} % 1000000 <
          least(n_chars / 400.0, 1.0) * 1000000""")),

    // ===== Sequence PACKING for training batches: assign docs to
    // fixed-token-budget bins. Scale shape: docs hash into `Shards`
    // independent shards (parallelism knob), packing is a cumulative-
    // sum window WITHIN each shard — no global order, no single-task
    // bottleneck (the vocab-rank lesson); bin = floor(cumsum_before /
    // budget), the standard streaming-fill semantics (a bin may
    // overshoot by its last doc). Deterministic: shard and fill order
    // derive from the portable hash and (n_tokens, doc_id).
    Q("pipeline_seq_packing",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val shards = 16
        val budget = 2048
        val toks = docs(s, d).select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          pmod(PortableHash.md5Long(col("doc_id")), lit(shards)).as("shard"))
        val w = Window.partitionBy("shard")
          .orderBy(col("n_tokens").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        toks
          .withColumn("cum_before",
            coalesce(sum("n_tokens").over(w), lit(0L)))
          .withColumn("bin", floor(col("cum_before") / budget))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
      },
      Some(s"""WITH t AS (
          SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_tokens,
            ${PortableHash.md5LongSql("doc_id")} % 16 AS shard
          FROM documents
        ), p AS (
          SELECT shard, doc_id, n_tokens,
            coalesce(sum(n_tokens) OVER (PARTITION BY shard
              ORDER BY n_tokens DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_before
          FROM t)
        SELECT shard, CAST(floor(cum_before / 2048.0) AS BIGINT) AS bin,
          count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM p GROUP BY 1, 2""")),

    // ===== Unicode normalization + character-entropy quality signal:
    // `text_normalize` (NFC → lower → strip accents → collapse ws) is
    // the canonicalization pre-pass before fingerprint/minhash on
    // multilingual corpora; `char_entropy` is the cheap perplexity
    // proxy (low ⇔ repetitive/degenerate, high ⇔ noise). Both are
    // one-pass compiled expressions — ZERO shuffles (vs the
    // explode-chars + two-aggregation formulation the oracle uses).
    // The corpus is ASCII, so the oracle mirrors normalization as
    // lower + whitespace-collapse (NFC/strip_accents are identity
    // there; the unicode semantics are spec'd in TextAnalysisSpec
    // with non-ASCII literals).
    Q("text_normalize_entropy",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        docs(s, d).select(col("doc_id"),
          substring(call_function("text_normalize", col("text")), 1, 40)
            .as("norm_prefix"),
          round(call_function("char_entropy", col("text")), 6).as("entropy"))
      },
      Some("""WITH f AS (
          SELECT doc_id, ch, count(*) AS c FROM (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents) GROUP BY doc_id, ch
        ), ent AS (
          SELECT f.doc_id,
            round(-sum((f.c / n.n) * ln(f.c / n.n)), 6) AS entropy
          FROM f JOIN (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n
            FROM documents) n ON f.doc_id = n.doc_id
          GROUP BY f.doc_id)
        SELECT d.doc_id,
          substr(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'),
            1, 40) AS norm_prefix,
          ent.entropy
        FROM documents d JOIN ent ON d.doc_id = ent.doc_id""")),

    // ===== Source-mixture bookkeeping: per (source, language) doc and
    // token counts plus each cell's share of total tokens — the table a
    // pipeline consults to set mixture sampling weights. One partial
    // agg + a broadcast 1-row total; no second scan of documents.
    Q("pipeline_source_mix",
      (s, d) => {
        val per = docs(s, d)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(graft.operators.TextAnalysis.tokenCount(col("text")))
              .as("n_tokens"))
          .persist() // fit artifact: one documents scan feeds both branches
        per.crossJoin(broadcast(per.agg(sum("n_tokens").as("tot"))))
          .select(col("source"), col("lang"), col("n_docs"),
            col("n_tokens"),
            round(col("n_tokens") / col("tot"), 6).as("token_share"))
      },
      Some("""WITH per AS (
          SELECT source, lang, count(*) AS n_docs,
            CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
              AS n_tokens
          FROM documents GROUP BY 1, 2)
        SELECT source, lang, n_docs, n_tokens,
          round(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per),
            6) AS token_share
        FROM per""")),

    // ===== MLTransform ScaleToZScore (ml/transforms/tft.py:216):
    // normalize to mean 0 / variance 1, emitting the fit artifacts
    // (mean, var) alongside — the reference stores them as
    // <col>_mean / <col>_var columns. One tiny fit agg broadcast back
    // over the table: two narrow scans, zero wide shuffles of orders.
    Q("ml_zscore_scale",
      (s, d) => {
        val o = Tables.orders(s, d)
        val fit = o.agg(avg("o_totalprice").as("mu"),
          var_pop("o_totalprice").as("vr"))
        o.crossJoin(broadcast(fit))
          .select(col("o_orderkey"),
            // zero variance (constant column / single row): z undefined
            // → NULL, matching tft's guarded divide — never a crash
            when(col("vr") > 0,
              round((col("o_totalprice") - col("mu")) / sqrt(col("vr")), 6))
              .as("z"),
            round(col("mu"), 4).as("price_mean"),
            round(col("vr"), 2).as("price_var"))
      },
      Some("""SELECT o_orderkey,
          CASE WHEN var_pop(o_totalprice) OVER () > 0 THEN
            round((o_totalprice - avg(o_totalprice) OVER ())
              / sqrt(var_pop(o_totalprice) OVER ()), 6) END AS z,
          round(avg(o_totalprice) OVER (), 4) AS price_mean,
          round(var_pop(o_totalprice) OVER (), 2) AS price_var
        FROM orders""")),

    // ===== MLTransform ApplyBucketsWithInterpolation (ml/transforms/
    // tft.py:369): bucketize against pinned ascending boundaries, then
    // linearly interpolate WITHIN the bucket and normalize the whole
    // range to [0,1] (below first boundary -> 0, at/above last -> 1).
    // Pure codegen'd CASE arithmetic — zero shuffles, embarrassingly
    // parallel at any scale. Boundaries are compile-time literals (the
    // fit artifact of a prior quantile pass).
    Q("ml_buckets_interp",
      (s, d) => {
        val bs = Seq(25000.0, 100000.0, 250000.0, 400000.0)
        val x = col("o_totalprice")
        val k = bs.size - 1 // number of interior intervals
        val interp = (0 until k).foldLeft(
          when(x < bs.head, 0.0).when(x >= bs.last, 1.0)) { (acc, i) =>
            val (lo, hi) = (bs(i), bs(i + 1))
            acc.when(x >= lo && x < hi,
              (lit(i) + (x - lit(lo)) / lit(hi - lo)) / lit(k))
          }
        Tables.orders(s, d).select(col("o_orderkey"),
          round(interp, 6).as("pos"))
      },
      Some("""SELECT o_orderkey, round(CASE
          WHEN o_totalprice < 25000 THEN 0.0
          WHEN o_totalprice >= 400000 THEN 1.0
          WHEN o_totalprice < 100000
            THEN ((o_totalprice - 25000) / 75000.0) / 3
          WHEN o_totalprice < 250000
            THEN (1 + (o_totalprice - 100000) / 150000.0) / 3
          ELSE (2 + (o_totalprice - 250000) / 150000.0) / 3
        END, 6) AS pos
        FROM orders""")),

    // ===== MLTransform NGrams + BagOfWords (ml/transforms/tft.py:564,
    // :609 with compute_word_count): unigram+bigram vocabulary over the
    // corpus with document frequency (count over per-doc bags — the
    // BagOfWords dedup-per-row semantics) and raw term frequency.
    // Shape for scale: explode once, reduce to (doc, term) partials
    // first (map-side combinable), THEN collapse to per-term stats —
    // the two-level aggregation avoids a corpus-wide count-distinct.
    // Bigrams ride the compiled WordShingles expression, not the
    // O(tokens²) HOF form.
    Q("ml_ngrams_bow",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val toks = graft.operators.TextAnalysis.tokens(lower(col("text")))
        docs(s, d)
          .select(col("doc_id"), explode(concat(toks,
            call_function("shingles", toks, lit(2)))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
          .groupBy("term").agg(count(lit(1)).as("df"),
            sum("c").as("tf"))
      },
      Some("""WITH t AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (SELECT doc_id, unnest(toks ||
            list_transform(generate_series(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS term
          FROM t),
        pd AS (SELECT doc_id, term, count(*) AS c FROM g GROUP BY 1, 2)
        SELECT term, count(*) AS df, CAST(sum(c) AS BIGINT) AS tf
        FROM pd GROUP BY 1""")),

    // ===== MLTransform DeduplicateTensorPerRow (ml/transforms/tft.py:
    // 728): per-row token dedup. Emitted as (count, distinct-count,
    // sorted distinct tokens) so the comparison is order-insensitive on
    // both engines. Pure per-row array ops — zero shuffles.
    Q("ml_dedupe_row_tokens",
      (s, d) => {
        val toks = graft.operators.TextAnalysis.tokens(lower(col("text")))
        docs(s, d).select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          substring(array_join(array_sort(array_distinct(toks)), " "),
            1, 120).as("bag_prefix"))
      },
      Some("""SELECT doc_id,
          len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
          len(list_distinct(string_split_regex(trim(lower(text)), '\s+')))
            AS n_distinct,
          substr(array_to_string(list_sort(list_distinct(
            string_split_regex(trim(lower(text)), '\s+'))), ' '), 1, 120)
            AS bag_prefix
        FROM documents""")),

    // ===== Stratified deterministic downsample — cap every stratum
    // (source) at ceil(20%) of its rows, chosen by portable-hash order
    // so the sample is reproducible across runs, engines, and
    // re-partitionings (the "downweight over-represented sources"
    // curation step; complements pipeline_source_mix's exact-count
    // allocation). The ceil test 5·rn ≤ n+4 stays in integers. ONE
    // shuffle: both windows share the stratum partitioning. At 100 TB
    // a hot stratum serializes through one partition — for that case
    // switch to the threshold form (sample by h ≤ frac·2⁶⁴ quantile),
    // which needs no window; the exact-ceil form here is the
    // small-stratum-count path.
    Q("pipeline_stratified_sample",
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(col("h").asc, col("doc_id").asc)
        val wc = Window.partitionBy("source")
        docs(s, d).select(col("doc_id"), col("source"),
            PortableHash.md5Long(
              concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n_src", count(lit(1)).over(wc))
          .filter(col("rn") * 5 <= col("n_src") + 4)
          .select(col("doc_id"), col("source"), col("rn"))
      },
      Some(s"""WITH h AS (SELECT doc_id, source,
            ${PortableHash.md5LongSql("'strat:' || CAST(doc_id AS VARCHAR)")}
              AS h
          FROM documents),
        r AS (SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY h, doc_id) AS BIGINT) AS rn,
            count(*) OVER (PARTITION BY source) AS n_src
          FROM h)
        SELECT doc_id, source, rn FROM r WHERE rn * 5 <= n_src + 4""")),

    // ===== Data-quality constraint profile (the Deequ/great-expectations
    // shape a training-data pipeline gates ingestion on): per-source
    // completeness, key uniqueness, text-distinctness, length bounds,
    // and a pass-rate against a quality predicate — ALL computed in ONE
    // scan + one partial-aggregated groupBy (count-distincts expand to
    // two agg passes, still a single scan). Ratios are emitted in
    // integer basis points via the div idiom so no float division ever
    // crosses engines.
    Q("pipeline_data_quality",
      (s, d) => docs(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("text").isNull || length(col("text")) === 0, 1L)
            .otherwise(0L)).as("n_missing_text"),
          countDistinct(col("doc_id")).as("n_keys"),
          countDistinct(col("text")).as("n_distinct_text"),
          min(col("n_chars")).as("min_len"),
          max(col("n_chars")).as("max_len"),
          sum(col("n_chars")).as("sum_len"),
          sum(when(col("n_chars").between(20, 5000) &&
            col("lang").isin("en", "de", "fr", "es", "zh"), 1L)
            .otherwise(0L)).as("n_pass"))
        .select(col("source"), col("n_rows"), col("n_missing_text"),
          col("n_keys"), col("n_distinct_text"), col("min_len"),
          col("max_len"), col("sum_len"), col("n_pass"),
          expr("n_distinct_text * 10000 div n_rows").as("uniq_bp"),
          expr("n_pass * 10000 div n_rows").as("pass_bp")),
      Some("""SELECT source,
          count(*) AS n_rows,
          CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_text,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
          CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_text,
          CAST(min(n_chars) AS BIGINT) AS min_len,
          CAST(max(n_chars) AS BIGINT) AS max_len,
          CAST(sum(n_chars) AS BIGINT) AS sum_len,
          CAST(sum(CASE WHEN n_chars BETWEEN 20 AND 5000
            AND lang IN ('en', 'de', 'fr', 'es', 'zh')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
          count(DISTINCT text) * 10000 // count(*) AS uniq_bp,
          CAST(sum(CASE WHEN n_chars BETWEEN 20 AND 5000
            AND lang IN ('en', 'de', 'fr', 'es', 'zh')
            THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS pass_bp
        FROM documents GROUP BY 1""")),
  )
}
