package graft.queriesExt

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, TextAnalysis}
import graft.queriesRelational.RelationalQueries.Q

/** Oracle corpus for text analysis (B42-B43 + lang-ID / quality /
  * token-count / fingerprint) and the multimodal metadata path.
  */
object TextQueries {

  private val allMarkers = TextAnalysis.MARKERS.flatMap(_._2)
  private def markerList(ms: Seq[String]): String =
    ms.map(m => s"'$m'").mkString("[", ", ", "]")

  /** Language-ID marker scoring + argmax prediction. */
  private val q51 = Q("q51_langid", (s, dir) => {
    TextAnalysis.languageId(Tables.load(s, dir, "documents"), "text")
      .select((col("doc_id") +: col("lang").as("true_lang") +:
        TextAnalysis.MARKERS.map { case (l, _) => col(s"score_$l") } :+
        col("pred_lang")): _*)
      .orderBy(col("doc_id"))
  }, Some {
    val scores = TextAnalysis.MARKERS.map { case (l, ms) =>
      s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains(${markerList(ms)}, t))) AS BIGINT) AS score_$l"
    }
    // argmax via left fold over (score, lang) with strict > (first max wins)
    val arg = TextAnalysis.MARKERS.map { case (l, _) => s"{'s': score_$l, 'l': '$l'}" }
      .reduceLeft((a, b) => s"(CASE WHEN ($b).s > ($a).s THEN $b ELSE $a END)")
    s"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang, ${scores.mkString(", ")}
      FROM documents)
    SELECT doc_id, true_lang, ${TextAnalysis.MARKERS.map(m => s"score_${m._1}").mkString(", ")},
           ($arg).l AS pred_lang
    FROM scored ORDER BY doc_id"""
  })

  /** Quality scoring: token stats + composite. */
  private val q52 = Q("q52_quality", (s, dir) => {
    TextAnalysis.qualityScore(Tables.load(s, dir, "documents"), "text")
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    m AS (
      SELECT doc_id, text,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_concat([0], list_transform(toks, x -> len(x))), (a, b) -> a + b) AS DOUBLE) / len(toks) AS atl,
             CAST(len(list_filter(toks, x -> list_contains(${markerList(allMarkers)}, x))) AS DOUBLE) / len(toks) AS sr,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / len(text) AS dr,
             least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS ls
      FROM t)
    SELECT doc_id, n_tokens,
           floor(atl * 1000000 + 0.5) / 1000000.0 AS avg_token_len,
           floor(sr * 1000000 + 0.5) / 1000000.0 AS stopword_ratio,
           floor(dr * 1000000 + 0.5) / 1000000.0 AS digit_ratio,
           floor(ls * (1.0 - dr) * least(atl / 8.0, 1.0) * 1000000 + 0.5) / 1000000.0 AS quality
    FROM m ORDER BY doc_id"""))

  /** Token counting: whitespace vs regex segmentation vs distinct. */
  private val q53 = Q("q53_token_counts", (s, dir) => {
    TextAnalysis.tokenCounts(Tables.load(s, dir, "documents"), "text")
      .orderBy(col("doc_id"))
  }, Some("""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS BIGINT) AS re_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens,
           floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                 len(string_split(text, ' ')) * 1000000 + 0.5) / 1000000.0 AS distinct_ratio
    FROM documents ORDER BY doc_id"""))

  /** Rolling-hash document fingerprint (order-sensitive). */
  private val q54 = Q("q54_fingerprint", (s, dir) => {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fingerprint"))
      .orderBy(col("doc_id"))
  }, Some(s"""
    SELECT doc_id,
           list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(text, ' '),
                 t -> CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % ${Dedup.MINHASH_P}) AS fingerprint
    FROM documents ORDER BY doc_id"""))

  /** B43: TF-IDF-shaped term/document frequency table over the corpus
    * (explode + two hash aggregations; the canonical text-index build).
    */
  private val q55 = Q("q55_tf_idf", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    // corpus size as a broadcast one-row aggregate INSIDE the plan —
    // a driver-side docs.count() here would scan the table eagerly on
    // every query build (an extra full pass at 100 TB) and bake a
    // stale constant into the plan
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df_, "term").crossJoin(broadcast(n))
      .select(col("term"), col("doc_id"), col("tf"),
        col("df"),
        (floor(col("tf") * log(col("n_docs") / col("df")) * 1000000 + lit(0.5)) / lit(1000000.0)).as("tfidf"))
      .filter(col("df") >= 100)
      .orderBy(col("term"), col("doc_id"))
  }, Some("""
    WITH tf AS (
      SELECT term, doc_id, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term, doc_id),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT term, doc_id, tf, df,
           floor(tf * ln(n_docs / df) * 1000000 + 0.5) / 1000000.0 AS tfidf
    FROM tf JOIN dfreq USING (term), n
    WHERE df >= 100
    ORDER BY term, doc_id"""))

  /** Multimodal metadata path: binary payload + typed metadata; the
    * oracle checks payload length, content hash, metadata arithmetic
    * and the decoded-prefix mean (the feature the decode stub
    * computes) — all without the oracle needing a media codec, since
    * the stand-in payload is the UTF-8 text itself.
    */
  private val q56 = Q("q56_multimodal_meta", (s, dir) => {
    import graft.operators.Multimodal
    val media = Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))
    val resized = Multimodal.resizeMeta(media, 320, 240)
    // metrics computed on CHARACTERS of the decoded payload on both
    // sides (length(binary) is bytes in Spark vs len(text) chars in
    // DuckDB — mixing the units diverges on any non-ASCII document)
    resized.withColumn("_chars", length(col("payload").cast("string")).cast("long"))
      .select(
        col("media_id"),
        col("_chars").as("n_chars"),
        sha2(col("payload"), 256).as("payload_sha"),
        col("width").cast("long").as("width"),
        col("out_width").cast("long").as("out_width"),
        col("out_height").cast("long").as("out_height"),
        (floor(aggregate(
          expr("transform(sequence(1, least(length(cast(payload as string)), 64)), i -> ascii(substr(cast(payload as string), i, 1)))"),
          lit(0L), (a, x) => a + x).cast("double") / least(col("_chars"), lit(64)) * 1000000 + lit(0.5)) / lit(1000000.0)).as("mean_prefix"))
      .orderBy(col("media_id"))
  }, Some("""
    WITH media AS (
      SELECT doc_id AS media_id, text,
             CAST(n_chars % 640 AS BIGINT) AS width,
             CAST(n_chars % 480 AS BIGINT) AS height
      FROM documents),
    resized AS (
      SELECT *, least(320.0 / greatest(width, 1), 240.0 / greatest(height, 1), 1.0) AS scale
      FROM media)
    SELECT media_id,
           CAST(len(text) AS BIGINT) AS n_chars,
           sha256(text) AS payload_sha,
           width,
           CAST(floor(width * scale) AS BIGINT) AS out_width,
           CAST(floor(height * scale) AS BIGINT) AS out_height,
           floor(CAST(list_reduce(list_concat([0], list_transform(range(1, least(len(text), 64) + 1),
                   i -> ord(substr(text, i, 1)))), (a, b) -> a + b) AS DOUBLE) /
                 least(len(text), 64) * 1000000 + 0.5) / 1000000.0 AS mean_prefix
    FROM resized ORDER BY media_id"""))

  /** Multimodal frame sampling: every 24th frame (1/s at 24 fps) of
    * each synthetic video — sequence+explode on metadata frame counts,
    * per-frame decode stubbed as a deterministic payload probe. The
    * oracle replays the index arithmetic and the probe with
    * range/unnest + ord.
    */
  private val q74 = Q("q74_frame_sample", (s, dir) => {
    import graft.operators.Multimodal
    val video = Multimodal.videoFromDocuments(Tables.load(s, dir, "documents"))
    Multimodal.sampleFrames(video, everyK = 24)
      .orderBy(col("media_id"), col("frame_idx"))
  }, Some("""
    WITH video AS (
      SELECT doc_id AS media_id, text,
             CAST(n_chars % 240 + 1 AS INT) AS n_frames, 24 AS fps
      FROM documents),
    frames AS (
      SELECT media_id, text, fps, unnest(range(0, n_frames, 24)) AS frame_idx
      FROM video)
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx AS DOUBLE) / fps AS t_sec,
           CAST(ord(substr(text, CAST((frame_idx * 37) % len(text) AS INT) + 1, 1)) AS BIGINT) AS frame_probe
    FROM frames ORDER BY media_id, frame_idx"""))

  /** The [[graft.operators.VideoKernel]] decode path under the oracle
    * (round 11): [[graft.operators.Multimodal.frameFeatures]] runs the
    * per-frame kernel decode + ahash64 fingerprint through its real
    * mapPartitions plumbing, pinned to the deterministic Stub kernel
    * (an environment-dependent select() would break cross-engine
    * replay). The stub's 1x1 frames make the fingerprint exactly
    * computable in SQL: cells = [px, 0 x 63], mean = px/64, so bit 0
    * is always set and bits 1-63 are set iff px = 0 — ahash is 1 for
    * px > 0 and -1 (all 64 bits) for px = 0. The oracle replays the
    * frame grid on BYTE length (the stub reads payload bytes, not
    * chars) and probes bytes through hex(substring(encode(text))).
    */
  private val q200 = Q("q200_frame_ahash", (s, dir) => {
    import graft.operators.{Multimodal, VideoKernel}
    val video = Multimodal.videoFromDocuments(Tables.load(s, dir, "documents"))
    Multimodal.frameFeatures(video, everyK = 24, kernel = VideoKernel.Stub)
      .orderBy(col("media_id"), col("frame_idx"))
  }, Some("""
    WITH video AS (
      SELECT doc_id AS media_id, encode(text) AS payload,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    meta AS (SELECT media_id, payload, nbytes,
                    nbytes % 240 + 1 AS n_frames FROM video),
    frames AS (
      SELECT media_id, payload, nbytes,
             unnest(range(0, n_frames, 24)) AS frame_idx
      FROM meta),
    px AS (
      SELECT media_id, frame_idx,
             CAST(concat('0x', substr(hex(payload),
               CAST((frame_idx * 37) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS p
      FROM frames)
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx AS DOUBLE) / 24.0 AS t_sec,
           CASE WHEN p = 0 THEN CAST(-1 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS frame_ahash,
           CAST(1 AS BIGINT) AS n_px
    FROM px ORDER BY media_id, frame_idx"""))

  /** REAL container parsing under the oracle (round 12): the corpus
    * synthesizes genuine YUV4MPEG2 byte streams in-plan
    * ([[graft.operators.Multimodal.y4mFromDocuments]] — 2x2 Cmono
    * frames whose luma bytes are deterministic reads of the doc's
    * UTF-8 bytes), and [[graft.operators.VideoKernel.Y4m]] must
    * actually tokenize the header and walk FRAME records to recover
    * them — unlike q200's Stub, whose "decode" is arithmetic. The
    * oracle recomputes the expected luma from the same byte
    * arithmetic (it never parses Y4M) and replays ahash64 on a 2x2
    * grid exactly: pixels land in cells 0/1/8/9 of the 64-cell grid,
    * the other 60 cells average 0, so mean = sum(px)/64; a bit is set
    * iff its cell value >= mean, hence hash = -1 when all four pixels
    * are zero (0 >= 0 sets every bit) and otherwise the four
    * pixel-cell bits alone.
    */
  private val q201 = Q("q201_y4m_parse", (s, dir) => {
    import graft.operators.{Multimodal, VideoKernel}
    val video = Multimodal.y4mFromDocuments(Tables.load(s, dir, "documents"))
    Multimodal.frameFeatures(video, everyK = 2, kernel = VideoKernel.Y4m)
      .orderBy(col("media_id"), col("frame_idx"))
  }, Some("""
    WITH video AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    meta AS (SELECT media_id, src, nbytes,
                    nbytes % 7 + 2 AS n_frames FROM video),
    frames AS (
      SELECT media_id, src, nbytes,
             unnest(range(0, n_frames, 2)) AS frame_idx
      FROM meta),
    px AS (
      SELECT media_id, frame_idx,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 0) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS p0,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 5) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS p1,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 10) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS p2,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 15) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS p3
      FROM frames)
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx AS DOUBLE) / 24.0 AS t_sec,
           CASE WHEN p0 + p1 + p2 + p3 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(
                  (CASE WHEN p0 >= (p0+p1+p2+p3) / 64.0 THEN 1 ELSE 0 END) +
                  (CASE WHEN p1 >= (p0+p1+p2+p3) / 64.0 THEN 2 ELSE 0 END) +
                  (CASE WHEN p2 >= (p0+p1+p2+p3) / 64.0 THEN 256 ELSE 0 END) +
                  (CASE WHEN p3 >= (p0+p1+p2+p3) / 64.0 THEN 512 ELSE 0 END)
                  AS BIGINT) END AS frame_ahash,
           CAST(4 AS BIGINT) AS n_px
    FROM px ORDER BY media_id, frame_idx"""))

  /** REAL compressed CODEC under the oracle (round 13): the corpus
    * synthesizes genuine MJPEG-in-AVI byte streams
    * ([[graft.operators.Multimodal.mjpegAviFromDocuments]] — 16x16
    * quality-1.0 grayscale JPEGs of four solid 8x8 quadrants, wrapped
    * in a real RIFF container), and [[graft.operators.VideoKernel.MjpegAvi]]
    * must walk the RIFF chunk framing AND JPEG-decode each '00dc'
    * chunk (entropy decode + inverse DCT through ImageIO) to recover
    * the quadrant values. The oracle never touches a codec: quality
    * 1.0 means an all-ones quantization table, and a constant 8x8
    * block has only a DC coefficient, so the lossy round-trip is
    * BIT-EXACT and the SQL mirror predicts decoded luma from the same
    * byte arithmetic as q201. ahash replay on the 16x16 grid: the 64
    * 2x2 cells each average to their quadrant's value, mean =
    * (q0+q1+q2+q3)/4, and each quadrant owns a fixed 16-bit mask of
    * the 64-bit hash (TL 0x0F0F0F0F, TR 0xF0F0F0F0, BL/BR the same
    * shifted 32 — BR's written as its signed-64 literal since the
    * unsigned form overflows BIGINT); all-equal quadrants set every
    * bit, hence -1.
    */
  private val q203 = Q("q203_mjpeg_avi_decode", (s, dir) => {
    import graft.operators.{Multimodal, VideoKernel}
    val video = Multimodal.mjpegAviFromDocuments(Tables.load(s, dir, "documents"))
    Multimodal.frameFeatures(video, everyK = 2, kernel = VideoKernel.MjpegAvi)
      .orderBy(col("media_id"), col("frame_idx"))
  }, Some("""
    WITH video AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    meta AS (SELECT media_id, src, nbytes,
                    nbytes % 7 + 2 AS n_frames FROM video),
    frames AS (
      SELECT media_id, src, nbytes,
             unnest(range(0, n_frames, 2)) AS frame_idx
      FROM meta),
    px AS (
      SELECT media_id, frame_idx,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 0) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS q0,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 5) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS q1,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 10) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS q2,
             CAST(concat('0x', substr(hex(src),
               CAST((frame_idx * 17 + 15) % nbytes AS INT) * 2 + 1, 2)) AS BIGINT) AS q3
      FROM frames)
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx AS DOUBLE) / 25.0 AS t_sec,
           CAST(
             (CASE WHEN q0 >= (q0+q1+q2+q3) / 4.0 THEN 252645135 ELSE 0 END) +
             (CASE WHEN q1 >= (q0+q1+q2+q3) / 4.0 THEN 4042322160 ELSE 0 END) +
             (CASE WHEN q2 >= (q0+q1+q2+q3) / 4.0 THEN 1085102592318504960 ELSE 0 END) +
             (CASE WHEN q3 >= (q0+q1+q2+q3) / 4.0 THEN -1085102596613472256 ELSE 0 END)
             AS BIGINT) AS frame_ahash,
           CAST(256 AS BIGINT) AS n_px
    FROM px ORDER BY media_id, frame_idx"""))

  /** Multimodal audio windowing: fixed 4000-sample hops over metadata
    * sample counts, per-window energy probe (4 deterministic payload
    * reads averaged) — completes the image (q56) / video (q74) / audio
    * modality triple. The oracle replays the window grid and probes
    * with range/unnest + ord.
    */
  private val q89 = Q("q89_audio_windows", (s, dir) => {
    import graft.operators.Multimodal
    val audio = Multimodal.audioFromDocuments(Tables.load(s, dir, "documents"))
    Multimodal.sampleAudioWindows(audio, winSamples = 4000)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some("""
    WITH audio AS (
      SELECT doc_id AS media_id, text, 16000 AS sample_rate,
             CAST((n_chars * 137) % 100000 + 16000 AS INT) AS n_samples
      FROM documents),
    w AS (
      SELECT media_id, text, sample_rate,
             unnest(range(0, CAST(floor(n_samples / 4000.0) AS INT))) AS win_idx
      FROM audio)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx,
           win_idx * 4000.0 / sample_rate AS t0_sec,
           CAST(list_reduce(list_transform(range(0, 4),
             k -> ord(substr(text, CAST((win_idx * 31 + k * 7) % greatest(len(text), 1) AS INT) + 1, 1))),
             (a, b) -> a + b) AS DOUBLE) / 4.0 AS energy_probe
    FROM w ORDER BY media_id, win_idx"""))

  /** Misra-Gries heavy hitters over the corpus token stream. Capacity
    * 64 exceeds this corpus's distinct-token count, so every count is
    * EXACT and partition-order-independent (the oracle-checkable
    * regime — see MisraGriesAggregator's scaladoc); the approximation
    * bound under eviction is asserted in SketchSpec. The aggregation
    * ships one 64-entry summary per map task regardless of key
    * cardinality — the shape that replaces an exact groupBy when the
    * key space (URLs, n-grams) explodes at 100 TB.
    */
  private val q100 = Q("q100_heavy_hitters", (s, dir) => {
    val mg = udaf(new graft.functions.MisraGriesAggregator(64))
    Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(mg(col("term")).as("_m"))
      .select(explode(col("_m")).as(Seq("term", "est_count")))
      .orderBy(col("term"))
  }, Some("""
    SELECT term, CAST(count(*) AS BIGINT) AS est_count
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term ORDER BY term"""))

  /** Unigram-LM mean surprise per document (nats) — train + score in
    * one plan, integer-quantized per-token surprise so the per-doc sum
    * is partition-order-exact.
    */
  private val q101 = Q("q101_unigram_logprob", (s, dir) => {
    TextAnalysis.unigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }, Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
                 WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    v AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM v),
    su AS (SELECT term, CAST(floor(ln(total / c) * 1000000 + 0.5) AS BIGINT) AS s_u FROM v, n),
    d AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(s_u) AS BIGINT) AS ssum
          FROM tok JOIN su USING (term) GROUP BY tok.doc_id)
    SELECT doc_id, n_tokens,
           floor(CAST(ssum AS DOUBLE) / n_tokens + 0.5) / 1000000.0 AS mean_nll
    FROM d ORDER BY doc_id"""))

  /** Edit-distance fuzzy matching over candidate pairs (consecutive
    * doc ids stand in for any candidate generator): levenshtein on
    * 120-char prefixes + normalized similarity. The 100 TB contract:
    * levenshtein is O(len^2) per pair, so it runs on CANDIDATE pairs
    * (LSH/banded output — q42/q69's shape), never on all pairs; the
    * join here is an equi-join on the id key.
    */
  private val q108 = Q("q108_edit_distance", (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 120).as("p"))
    val a = d.select(col("doc_id").as("id1"), col("p").as("p1"))
    val b = d.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2"), col("p").as("p2"))
    a.join(b, "id1")
      .select(col("id1"), col("id2"),
        levenshtein(col("p1"), col("p2")).cast("long").as("edit_dist"),
        graft.functions.quantize.q6(lit(1.0) -
          levenshtein(col("p1"), col("p2")).cast("double") /
            greatest(length(col("p1")), length(col("p2")))).as("sim"))
      .orderBy(col("id1"))
  }, Some("""
    WITH d AS (SELECT doc_id, substr(text, 1, 120) AS p FROM documents)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist,
           floor((1.0 - CAST(levenshtein(a.p, b.p) AS DOUBLE) /
                  greatest(len(a.p), len(b.p))) * 1000000 + 0.5) / 1000000.0 AS sim
    FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
    ORDER BY id1"""))

  /** Compression-ratio quality signal (native Gzip expression). No SQL
    * engine mirrors gzip, so this is a declared rows-only entry (the
    * q29 class); the behavioral contract lives in TextSpec.
    */
  private val q112 = Q("q112_compression_ratio", (s, dir) => {
    TextAnalysis.compressionRatio(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }, None)

  /** Lexical-diversity stats: within-doc token entropy on the integer
    * micro-nat grid (each c*ln(c) term quantized before summing —
    * q101's discipline) + integer per-mille type-token ratio.
    */
  private val q120 = Q("q120_token_entropy", (s, dir) => {
    TextAnalysis.tokenEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }, Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    f AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
    d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS clc
          FROM f GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           (n_types * 1000) // n_tokens AS ttr_pm,
           CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) - clc // n_tokens AS entropy_unat
    FROM d ORDER BY doc_id"""))

  /** Feature-hashed TF-IDF (sparse form): vocabulary-free fixed-dim
    * text vectors. tf * micro-nat idf is an exact integer, so the
    * oracle replay is unquantized.
    */
  private val q128 = Q("q128_hashed_tfidf", (s, dir) => {
    TextAnalysis.hashedTfIdf(Tables.load(s, dir, "documents"), "doc_id", "text", dim = 64)
      .orderBy(col("doc_id"), col("bucket"))
  }, Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
    idf AS (SELECT term,
                   CAST(floor(ln(nd / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS idf_u
            FROM tf, n GROUP BY term, nd),
    w AS (SELECT tf.doc_id,
                 CAST(concat('0x', substr(md5(term), 1, 12)) AS BIGINT) % 64 AS bucket,
                 CAST(sum(tf.tf * idf.idf_u) AS BIGINT) AS w
          FROM tf JOIN idf USING (term)
          GROUP BY tf.doc_id, bucket)
    SELECT doc_id, bucket, w FROM w ORDER BY doc_id, bucket"""))

  /** Sparse-cosine scoring of candidate pairs over the hashed-TF-IDF
    * representation — the q128 -> similarity composition, never
    * densified: integer dot/norm sums, one fixed-order sqrt/divide at
    * the end. Consecutive ids stand in for any candidate generator
    * (the q108 convention).
    */
  private val q129 = Q("q129_sparse_cosine", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val sparse = TextAnalysis.hashedTfIdf(docs, "doc_id", "text", dim = 64)
    val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      .join(docs.select(col("doc_id").as("id2")), "id2")
    graft.operators.Similarity.sparseCosinePairs(sparse, pairs)
      .orderBy(col("id1"))
  }, Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
    idf AS (SELECT term,
                   CAST(floor(ln(nd / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS idf_u
            FROM tf, n GROUP BY term, nd),
    w AS (SELECT tf.doc_id,
                 CAST(concat('0x', substr(md5(term), 1, 12)) AS BIGINT) % 64 AS bucket,
                 CAST(sum(tf.tf * idf.idf_u) AS BIGINT) AS w
          FROM tf JOIN idf USING (term)
          GROUP BY tf.doc_id, bucket),
    nn AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nsq FROM w GROUP BY doc_id),
    p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
    d AS (SELECT p.id1, p.id2, CAST(sum(w1.w * w2.w) AS BIGINT) AS dot
          FROM p JOIN w w1 ON w1.doc_id = p.id1
                JOIN w w2 ON w2.doc_id = p.id2 AND w2.bucket = w1.bucket
          GROUP BY p.id1, p.id2)
    SELECT p.id1, p.id2,
           floor(CAST(coalesce(d.dot, 0) AS DOUBLE) /
                 (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS cos_sim
    FROM p
    LEFT JOIN d ON d.id1 = p.id1 AND d.id2 = p.id2
    JOIN nn n1 ON n1.doc_id = p.id1
    JOIN nn n2 ON n2.doc_id = p.id2
    WHERE n1.nsq > 0 AND n2.nsq > 0
    ORDER BY p.id1"""))

  /** BM25 lexical retrieval scoring (k1=1.2, b=0.75) for a 4-term
    * query. Constants appear as the SAME IEEE expressions on both
    * sides ((1.2 + 1), (1 - 0.75)) — writing the pre-computed 2.2
    * would round differently than the sum (the q131 lesson);
    * per-term contributions floor to integer micro-units before the
    * per-doc sum so aggregation order cannot move the score.
    */
  private val q138 = Q("q138_bm25", (s, dir) => {
    TextAnalysis.bm25(Tables.load(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("hash", "join", "scan", "merge"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents WHERE doc_id IS NOT NULL),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents WHERE doc_id IS NOT NULL),
    qt AS (SELECT doc_id, term FROM tok
           WHERE term IN ('hash', 'join', 'scan', 'merge')),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM qt GROUP BY doc_id, term),
    idf AS (SELECT term,
                   CAST(floor(ln((nd - CAST(count(DISTINCT doc_id) AS DOUBLE) + 0.5) /
                                 (CAST(count(DISTINCT doc_id) AS DOUBLE) + 0.5) + 1.0)
                              * 1000000 + 0.5) AS BIGINT) AS idf_u
            FROM qt, n GROUP BY term, nd),
    ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    c AS (SELECT tf.doc_id,
                 CAST(floor(CAST(idf.idf_u AS DOUBLE) *
                            (CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                            (CAST(tf.tf AS DOUBLE) +
                             1.2 * ((1 - 0.75) + 0.75 * CAST(dl.dl AS DOUBLE) / ad.avgdl))
                            + 0.5) AS BIGINT) AS cu
          FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN ad)
    SELECT doc_id, CAST(sum(cu) AS DOUBLE) / 1000000.0 AS bm25
    FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** Subword (BPE) token accounting — greedy merge-table tokenization
    * (TextAnalysis.bpeTokenize) summed per document, plus the
    * 64-token packing budget it implies. Whitespace counts (q53)
    * systematically mis-measure LLM budgets; this is the corrected
    * measure every downstream mixing/packing decision should use. The
    * oracle replays the same 8 merge rounds as CTE pairs over the
    * distinct-word vocabulary (contains -> arg_min best rank ->
    * literal replace) on the operator's exact sentinel-string
    * representation, from the same merge table.
    */
  /** Shared oracle fragment for the BPE family (q141/q144): the WITH
    * body replaying TextAnalysis.bpeTokenize's 8 merge rounds as CTE
    * pairs over the distinct-word vocabulary (contains -> arg_min best
    * rank -> literal replace) on the operator's exact sentinel-string
    * representation, ending in `vocab(word, n_sub)`.
    */
  private def bpeVocabCtes: String = {
    def litTok(t: String) = s"chr(31)||'$t'||chr(31)"
    val mergeRows = TextAnalysis.BPE_MERGES.zipWithIndex.map { case ((a, b), r) =>
      s"($r, ${litTok(a)}||${litTok(b)}, ${litTok(a + b)})"
    }.mkString(", ")
    val roundCtes = (1 to 8).map { i =>
      val prev = s"v${i - 1}"
      s"""b$i AS (
      SELECT $prev.word AS bw, arg_min(m.pat, m.rank) AS pat, arg_min(m.rep, m.rank) AS rep
      FROM $prev JOIN m ON contains($prev.ts, m.pat) GROUP BY $prev.word),
    v$i AS (
      SELECT v.word, CASE WHEN b.pat IS NULL THEN v.ts ELSE replace(v.ts, b.pat, b.rep) END AS ts
      FROM $prev v LEFT JOIN b$i b ON b.bw = v.word)"""
    }.mkString(",\n    ")
    s"""m(rank, pat, rep) AS (VALUES $mergeRows),
    w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents),
    v0 AS (SELECT DISTINCT word,
                  regexp_replace(word, '(.)', chr(31)||'\\1'||chr(31), 'g') AS ts
           FROM w),
    $roundCtes,
    vocab AS (SELECT word,
                     CAST((length(ts) - length(replace(ts, chr(31), ''))) // 2 AS BIGINT) AS n_sub
              FROM v8)"""
  }

  private val q141 = Q("q141_bpe_subword", (s, dir) => {
    TextAnalysis.subwordCounts(Tables.load(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_words"), col("n_subwords"),
        floor((col("n_subwords") + 63) / 64).cast("long").as("seq64"))
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH $bpeVocabCtes
    SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(vocab.n_sub) AS BIGINT) AS n_subwords,
           CAST((sum(vocab.n_sub) + 63) // 64 AS BIGINT) AS seq64
    FROM w JOIN vocab USING (word)
    GROUP BY w.doc_id ORDER BY w.doc_id"""))

  /** The packing-budget composition the subword measure exists for:
    * context-window sequence packing (CorpusOps.packSequences, q80's
    * operator) driven by SUBWORD counts instead of whitespace counts —
    * the corrected layout a pre-training loader would actually use
    * (whitespace budgets mis-place every boundary after the first
    * mis-counted document). Same scale shape as q80: the BPE stage
    * runs on the distinct-word vocabulary, one shard-key shuffle, one
    * per-shard running-sum window.
    */
  private val q144 = Q("q144_bpe_packing", (s, dir) => {
    import graft.operators.CorpusOps
    val docs = Tables.load(s, dir, "documents")
    val counts = TextAnalysis.subwordCounts(docs, col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_subwords"))
    val withCounts = docs.select(col("doc_id"), col("source"))
      .join(counts, Seq("doc_id"), "left")
    CorpusOps.packSequences(withCounts, col("doc_id"), col("source"),
        coalesce(col("n_subwords"), lit(0L)), budget = 512)
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH $bpeVocabCtes,
    counts AS (
      SELECT w.doc_id, CAST(sum(vocab.n_sub) AS BIGINT) AS n_tok
      FROM w JOIN vocab USING (word) GROUP BY w.doc_id),
    t AS (
      SELECT d.doc_id, d.source, CAST(coalesce(c.n_tok, 0) AS BIGINT) AS n_tok
      FROM documents d LEFT JOIN counts c USING (doc_id)),
    packed AS (
      SELECT doc_id, source, n_tok,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM t)
    SELECT doc_id, source, n_tok, start_off,
           CAST(floor(start_off / 512.0) AS BIGINT) AS seq_first,
           CAST(floor((start_off + n_tok - 1) / 512.0) AS BIGINT) AS seq_last,
           CAST(CAST(floor((start_off + n_tok - 1) / 512.0) AS BIGINT) >
                CAST(floor(start_off / 512.0) AS BIGINT) AS INT) AS spans_boundary
    FROM packed ORDER BY doc_id"""))

  /** Perceptual image near-dup verification (Multimodal.perceptualNearDups)
    * over a DETERMINISTIC synthetic hash table, bypassing the decode
    * stub: group g = doc_id % 25 replicates byte g into all 8 bytes
    * (g * 0x0101010101010101) and each member flips one low bit, so
    * every within-group pair sits at Hamming distance 2 (or 0 when two
    * members share a flip bit) and every cross-group pair at >= 6 —
    * the byte-banded candidate join plus exact bit_count(XOR) verify
    * must return exactly the within-group pairs. This gives the image
    * member of the dedup family the same hash-checked oracle row as
    * the text members (q41-q44); a real codec feeding aHash changes
    * only the hash production, not this verify logic.
    */
  private val q142 = Q("q142_perceptual_neardup", (s, dir) => {
    import graft.operators.Multimodal
    val hashes = Tables.load(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      (col("doc_id") % 25).cast("long").multiply(lit(72340172838076673L))
        .bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), CAST((doc_id DIV 25) % 60 AS INT))"))
        .as("ahash"))
    Multimodal.perceptualNearDups(hashes, maxHamming = 4)
      .orderBy(col("id1"), col("id2"))
  }, Some("""
    WITH h AS (
      SELECT doc_id AS media_id,
             xor(CAST(doc_id % 25 AS BIGINT) * 72340172838076673,
                 CAST(1 AS BIGINT) << CAST((doc_id // 25) % 60 AS INT)) AS ahash
      FROM documents),
    b AS (
      SELECT media_id, ahash, unnest(range(0, 8)) AS band FROM h),
    bv AS (
      SELECT media_id, ahash, band, (ahash >> CAST(band * 8 AS INT)) & 255 AS bv FROM b),
    p AS (
      SELECT DISTINCT a.media_id AS id1, c.media_id AS id2,
             CAST(bit_count(xor(a.ahash, c.ahash)) AS INT) AS hamming
      FROM bv a JOIN bv c ON a.band = c.band AND a.bv = c.bv AND a.media_id < c.media_id)
    SELECT id1, id2, hamming FROM p WHERE hamming <= 4 ORDER BY id1, id2"""))

  /** DCT perceptual hash under the oracle (round 16,
    * [[graft.operators.Multimodal.pHash]]): the full pHash arithmetic
    * — 32x32 grid, separable integer DCT-II to the low 8x8 block
    * (cos table quantized floor(cos·1e4+0.5); every entry measured
    * >= 0.011 grid units from a rounding boundary, so libm ulp
    * differences cannot flip it), strict-> threshold against the
    * 63-AC-coefficient median, DC bit 0 — replayed by the oracle as
    * two grouped integer sum passes over the SAME quantized table.
    * The grid is the deterministic non-image fallback (the q142
    * discipline): payload byte i = (doc_id·31 + i·7) mod 251, so both
    * engines derive identical grids without a codec. The hash ships
    * as unsigned 32-bit halves (phash_hi, phash_lo) so neither engine
    * touches a signed 2^63. A real image payload takes ImageIO +
    * 32x32 average-pool through the SAME DCT (MultimodalSpec pins the
    * gamma-robustness aHash lacks).
    */
  private val q217 = Q("q217_phash_dct", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id")).as[Long]
      .map { id =>
        Multimodal.MediaRecord(id, "synthetic",
          Array.tabulate(1024)(i => ((id * 31 + i * 7) % 251).toByte),
          32, 32, 1)
      }
    Multimodal.pHash(media)
      .select(col("media_id"), col("phash_hi"), col("phash_lo"))
      .orderBy(col("media_id"))
  }, Some("""
    WITH pos AS (SELECT unnest(range(0, 1024)) AS i),
    c8 AS (
      SELECT uu.u, xx.x,
             CAST(floor(cos((2 * xx.x + 1) * uu.u * pi() / 64) * 10000 + 0.5) AS BIGINT) AS t
      FROM (SELECT unnest(range(0, 8)) AS u) uu,
           (SELECT unnest(range(0, 32)) AS x) xx),
    g AS (
      SELECT d.doc_id AS media_id, p.i // 32 AS y, p.i % 32 AS x,
             CAST(((d.doc_id * 31 + p.i * 7) % 251) * 1000 AS BIGINT) AS val
      FROM documents d CROSS JOIN pos p
      WHERE d.doc_id IS NOT NULL),
    g1 AS (
      SELECT g.media_id, g.y, c.u AS v, CAST(sum(g.val * c.t) AS BIGINT) AS s
      FROM g JOIN c8 c ON c.x = g.x
      GROUP BY g.media_id, g.y, c.u),
    f AS (
      SELECT g1.media_id, c.u, g1.v, CAST(sum(c.t * g1.s) AS BIGINT) AS coef
      FROM g1 JOIN c8 c ON c.x = g1.y
      GROUP BY g1.media_id, c.u, g1.v),
    med AS (
      SELECT media_id, coef,
             row_number() OVER (PARTITION BY media_id ORDER BY coef) AS rn
      FROM f WHERE NOT (u = 0 AND v = 0)),
    medv AS (SELECT media_id, coef AS med FROM med WHERE rn = 32)
    SELECT f.media_id,
           CAST(sum(CASE WHEN NOT (f.u = 0 AND f.v = 0) AND f.coef > m.med
                          AND f.u * 8 + f.v >= 32
                     THEN CAST(1 AS BIGINT) << CAST(f.u * 8 + f.v - 32 AS INT)
                     ELSE 0 END) AS BIGINT) AS phash_hi,
           CAST(sum(CASE WHEN NOT (f.u = 0 AND f.v = 0) AND f.coef > m.med
                          AND f.u * 8 + f.v < 32
                     THEN CAST(1 AS BIGINT) << CAST(f.u * 8 + f.v AS INT)
                     ELSE 0 END) AS BIGINT) AS phash_lo
    FROM f JOIN medv m ON m.media_id = f.media_id
    GROUP BY f.media_id
    ORDER BY f.media_id"""))

  /** pHash near-dup JOIN end to end (round 17,
    * [[graft.operators.Multimodal.phashNearDups]]): q217 proved the
    * DCT hash itself; this proves the COMPOSITION — hash production
    * through the byte-banded candidate join over the (phash_hi,
    * phash_lo) halves to exact XOR-popcount verification. The planted
    * grids form groups (g = doc_id % 200 share a base grid; each
    * member perturbs ONE deterministic cell by one gray step), so
    * within-group pairs sit a few bits apart and cross-group pairs
    * far — the oracle replays the full integer DCT of q217 over the
    * perturbed grids, re-derives every hash, and runs the same
    * 8-band join + popcount filter; any divergence in banding, the
    * pair dedup, or the split-half Hamming arithmetic fails the hash
    * compare. Bands: 4 bytes of each unsigned 32-bit half — the
    * pigeonhole exhaustiveness argument is per-byte, so splitting
    * halves changes nothing (<= 7 Hamming implies one agreeing byte).
    */
  private val q228 = Q("q228_phash_neardup_join", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val j0 = ((id / 200) % 1024).toInt
        Multimodal.MediaRecord(id, "synthetic",
          Array.tabulate(1024)(i =>
            (((id % 200) * 31 + i * 7) % 251 + (if (i == j0) 1 else 0)).toByte),
          32, 32, 1)
      }
    Multimodal.phashNearDups(Multimodal.pHash(media), maxHamming = 6)
      .orderBy(col("id1"), col("id2"))
  }, Some("""
    WITH pos AS (SELECT unnest(range(0, 1024)) AS i),
    c8 AS (
      SELECT uu.u, xx.x,
             CAST(floor(cos((2 * xx.x + 1) * uu.u * pi() / 64) * 10000 + 0.5) AS BIGINT) AS t
      FROM (SELECT unnest(range(0, 8)) AS u) uu,
           (SELECT unnest(range(0, 32)) AS x) xx),
    g AS (
      SELECT d.doc_id AS media_id, p.i // 32 AS y, p.i % 32 AS x,
             CAST((((d.doc_id % 200) * 31 + p.i * 7) % 251
                   + CASE WHEN p.i = (d.doc_id // 200) % 1024 THEN 1 ELSE 0 END)
                  * 1000 AS BIGINT) AS val
      FROM documents d CROSS JOIN pos p
      WHERE d.doc_id IS NOT NULL),
    g1 AS (
      SELECT g.media_id, g.y, c.u AS v, CAST(sum(g.val * c.t) AS BIGINT) AS s
      FROM g JOIN c8 c ON c.x = g.x
      GROUP BY g.media_id, g.y, c.u),
    f AS (
      SELECT g1.media_id, c.u, g1.v, CAST(sum(c.t * g1.s) AS BIGINT) AS coef
      FROM g1 JOIN c8 c ON c.x = g1.y
      GROUP BY g1.media_id, c.u, g1.v),
    med AS (
      SELECT media_id, coef,
             row_number() OVER (PARTITION BY media_id ORDER BY coef) AS rn
      FROM f WHERE NOT (u = 0 AND v = 0)),
    medv AS (SELECT media_id, coef AS med FROM med WHERE rn = 32),
    h AS (
      SELECT f.media_id,
             CAST(sum(CASE WHEN NOT (f.u = 0 AND f.v = 0) AND f.coef > m.med
                            AND f.u * 8 + f.v >= 32
                       THEN CAST(1 AS BIGINT) << CAST(f.u * 8 + f.v - 32 AS INT)
                       ELSE 0 END) AS BIGINT) AS phash_hi,
             CAST(sum(CASE WHEN NOT (f.u = 0 AND f.v = 0) AND f.coef > m.med
                            AND f.u * 8 + f.v < 32
                       THEN CAST(1 AS BIGINT) << CAST(f.u * 8 + f.v AS INT)
                       ELSE 0 END) AS BIGINT) AS phash_lo
      FROM f JOIN medv m ON m.media_id = f.media_id
      GROUP BY f.media_id),
    k4 AS (SELECT unnest(range(0, 4)) AS k),
    bv AS (
      SELECT media_id, phash_hi, phash_lo, CAST(k AS INT) AS band,
             (phash_lo >> CAST(k * 8 AS INT)) & 255 AS bv
      FROM h CROSS JOIN k4
      UNION ALL
      SELECT media_id, phash_hi, phash_lo, CAST(k + 4 AS INT),
             (phash_hi >> CAST(k * 8 AS INT)) & 255
      FROM h CROSS JOIN k4),
    pr AS (
      SELECT DISTINCT a.media_id AS id1, c.media_id AS id2,
             CAST(bit_count(xor(a.phash_hi, c.phash_hi))
                + bit_count(xor(a.phash_lo, c.phash_lo)) AS INT) AS hamming
      FROM bv a JOIN bv c ON a.band = c.band AND a.bv = c.bv
                         AND a.media_id < c.media_id)
    SELECT id1, id2, hamming FROM pr WHERE hamming <= 6 ORDER BY id1, id2"""))

  /** Gopher repetition signals under the oracle (round 16,
    * [[graft.operators.TextAnalysis.repetitionStats]]): per document
    * the top-{2,3,4}-gram CHARACTER fractions and the duplicated-
    * 5-gram occurrence fraction — the public Rae et al. 2021
    * repetition filters. The oracle rebuilds every n-gram by list
    * slicing, ranks the top gram with the identical (count desc,
    * gram asc) tie-break, and replays the 1e-6 floor grid.
    */
  private val q218 = Q("q218_gopher_repetition", (s, dir) => {
    TextAnalysis.repetitionStats(Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, len(text) AS n_chars, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    ge AS (
      SELECT doc_id, n_chars,
             unnest(flatten([ list_transform(range(0, len(toks) - nn + 1),
                i -> {'n': nn, 'gram': array_to_string(toks[i+1:i+nn], ' ')})
                for nn in [2, 3, 4, 5] ])) AS ng
      FROM t),
    g AS (SELECT doc_id, n_chars, ng.n AS n, ng.gram AS gram FROM ge),
    c AS (
      SELECT doc_id, n_chars, n, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g GROUP BY doc_id, n_chars, n, gram),
    pern AS (
      SELECT doc_id, n_chars, n, sum(cnt) AS total,
             coalesce(sum(cnt) FILTER (WHERE cnt >= 2), 0) AS dup_occ
      FROM c GROUP BY doc_id, n_chars, n),
    top AS (
      SELECT doc_id, n, cnt AS top_cnt, len(gram) AS top_len
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                       ORDER BY cnt DESC, gram) AS rn FROM c)
      WHERE rn = 1),
    m AS (
      SELECT p.doc_id, p.n,
             floor(CAST(t2.top_cnt * t2.top_len AS DOUBLE) / p.n_chars * 1000000 + 0.5) / 1000000.0 AS top_frac,
             floor(CAST(p.dup_occ AS DOUBLE) / p.total * 1000000 + 0.5) / 1000000.0 AS dup_frac
      FROM pern p JOIN top t2 ON t2.doc_id = p.doc_id AND t2.n = p.n)
    SELECT doc_id,
           coalesce(max(CASE WHEN n = 2 THEN top_frac END), 0) AS top2_frac,
           coalesce(max(CASE WHEN n = 3 THEN top_frac END), 0) AS top3_frac,
           coalesce(max(CASE WHEN n = 4 THEN top_frac END), 0) AS top4_frac,
           coalesce(max(CASE WHEN n = 5 THEN dup_frac END), 0) AS dup5_frac
    FROM m GROUP BY doc_id ORDER BY doc_id"""))

  /** Gopher quality gate under the oracle (round 16,
    * [[graft.operators.TextAnalysis.gopherQualityGate]]): word-count
    * band, mean-word-length band, minimum stop-word occurrences, and
    * the top-2-gram repetition ceiling, composed into an auditable
    * per-rule signal row + the `keep` verdict (cast to int — the
    * hash compare stays on integer ground). Thresholds sized from the
    * corpus distributions so every rule actually fires on some rows.
    */
  private val q219 = Q("q219_gopher_quality_gate", (s, dir) => {
    TextAnalysis.gopherQualityGate(Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"), minWords = 20L, maxWords = 90L,
        minMeanLen = 3.8, maxMeanLen = 5.2, stopWords = Seq("the", "a"),
        minStopHits = 2L, maxTop2Frac = 0.12)
      .withColumn("keep", col("keep").cast("int"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, len(text) AS n_chars, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor(CAST(list_reduce(list_transform(toks, s -> CAST(len(s) AS BIGINT)),
                       (a, b) -> a + b) AS DOUBLE) / len(toks) * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
             CAST(len(list_filter(toks, s -> s IN ('the', 'a'))) AS BIGINT) AS stop_hits
      FROM t),
    g AS (
      SELECT t.doc_id, t.n_chars, array_to_string(t.toks[r.i+1:r.i+2], ' ') AS gram
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.toks) - 1)) AS i) r),
    c AS (
      SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g GROUP BY doc_id, n_chars, gram),
    top AS (
      SELECT doc_id,
             floor(CAST(cnt * len(gram) AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000.0 AS top2_frac
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, gram) AS rn FROM c)
      WHERE rn = 1)
    SELECT w.doc_id, w.n_words, w.mean_word_len, w.stop_hits, top.top2_frac,
           CAST((w.n_words BETWEEN 20 AND 90)
                AND (w.mean_word_len BETWEEN 3.8 AND 5.2)
                AND w.stop_hits >= 2 AND top.top2_frac <= 0.12 AS INT) AS keep
    FROM w JOIN top USING (doc_id) ORDER BY w.doc_id"""))

  /** PII scrubbing under the oracle (round 16; hardened round 17,
    * [[graft.operators.TextAnalysis.scrubPii]]): the corpus carries
    * no PII, so both engines PLANT identical deterministic PII spans
    * (email, phone, SSN shapes derived from doc_id) PLUS a
    * phone-shaped substring buried INSIDE a longer digit run — the
    * round-17 anchoring trap: the boundary-anchored patterns must
    * leave the long run untouched where the old unanchored shape
    * would have partially redacted it. Counts are redaction-derived
    * (placeholder-occurrence deltas), so the oracle replays the same
    * staged length arithmetic; full scrubbed strings hash-compared,
    * so a greediness or match-order divergence between the regex
    * engines would fail loudly. RE2-safe patterns only (capture
    * groups, no backreferences or lookaround — the consuming-boundary
    * + run-twice idiom), which is exactly the production constraint.
    */
  private val q222 = Q("q222_pii_scrub", (s, dir) => {
    val withPii = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ref 123-45-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" sku 9123-456-78901"),
        pmod(col("doc_id"), lit(10)).cast("string")).as("text"))
    TextAnalysis.scrubPii(withPii, col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH p AS (
      SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or call 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' ref 123-45-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' sku 9123-456-78901' || CAST(doc_id % 10 AS VARCHAR) AS t0
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    s1 AS (
      SELECT doc_id, t0,
             regexp_replace(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
      FROM p),
    s2 AS (
      SELECT doc_id, t0, t1,
             regexp_replace(regexp_replace(t1,
               '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($|[^0-9-])', '\1[PHONE]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($|[^0-9-])', '\1[PHONE]\3', 'g') AS t2
      FROM s1),
    s3 AS (
      SELECT doc_id, t0, t1, t2,
             regexp_replace(regexp_replace(t2,
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])', '\1[SSN]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])', '\1[SSN]\3', 'g') AS t3
      FROM s2)
    SELECT doc_id,
           CAST((len(t1) - len(replace(t1, '[EMAIL]', ''))) // 7
              - (len(t0) - len(replace(t0, '[EMAIL]', ''))) // 7 AS BIGINT) AS n_emails,
           CAST((len(t2) - len(replace(t2, '[PHONE]', ''))) // 7
              - (len(t1) - len(replace(t1, '[PHONE]', ''))) // 7 AS BIGINT) AS n_phones,
           CAST((len(t3) - len(replace(t3, '[SSN]', ''))) // 5
              - (len(t2) - len(replace(t2, '[SSN]', ''))) // 5 AS BIGINT) AS n_ssns,
           t3 AS clean_text
    FROM s3 ORDER BY doc_id"""))

  /** Real-kernel audio feature path (Multimodal.audioRmsWindows):
    * per-window RMS energy over the decoded sample stream. On this
    * synthetic corpus the payloads are UTF-8 text, so the kernel's
    * deterministic fallback (codepoint sequence) is what both engines
    * compute; a real WAV payload takes the PCM leg of
    * [[graft.operators.Multimodal.decodeAudioPcm]] through the SAME
    * operator (MultimodalSpec proves sine/silence separation).
    * Integer sum-of-squares grid + floor-1e-6 sqrt keep the mirror
    * exact.
    */
  private val q143 = Q("q143_audio_rms", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val audio = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Multimodal.AudioRecord]
    Multimodal.audioRmsWindows(audio, winSamples = 256)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some("""
    WITH w AS (
      SELECT doc_id AS media_id, text,
             unnest(range(0, CAST(len(text) // 256 AS INT))) AS win_idx
      FROM documents),
    s AS (
      SELECT media_id, win_idx,
             list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(0, 256),
               k -> CAST(ord(substr(text, CAST(win_idx * 256 + k AS INT) + 1, 1)) AS BIGINT)
                    * CAST(ord(substr(text, CAST(win_idx * 256 + k AS INT) + 1, 1)) AS BIGINT))),
               (a, b) -> a + b) AS sumsq
      FROM w)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx, sumsq,
           floor(sqrt(CAST(sumsq AS DOUBLE) / 256) * 1000000 + 0.5) / 1000000.0 AS rms
    FROM s ORDER BY media_id, win_idx"""))

  /** REAL compressed AUDIO codec under the oracle (round 14 —
    * completing the trio: image/JPEG q56, video/MJPEG q203, audio
    * here): the corpus synthesizes genuine G.711 µ-law WAV byte
    * streams ([[graft.operators.Multimodal.mulawWavFromDocuments]] —
    * each doc's UTF-8 bytes as the 8-bit log-companded sample
    * stream), and [[graft.operators.Multimodal.audioRmsWindows]] must
    * parse the RIFF container AND expand each byte through the µ-law
    * table captured once per JVM from the JDK codec (javax.sound's
    * ULAW->PCM conversion) to recover 16-bit samples. The
    * oracle never touches a codec: µ-law expansion is the fixed CCITT
    * closed form of each encoded byte u = ~b & 0xff,
    * t = ((u%16)*8 + 132) << ((u%128)//16), sample = t-132 (sign bit
    * clear) or 132-t (set) — spec-pinned equal to javax over all 256
    * values — so the SQL mirror predicts every decoded sample from
    * byte arithmetic, then replays the q143 RMS window grid over
    * them. Integer sum-of-squares + floor-1e-6 sqrt keep it exact.
    */
  private val q208 = Q("q208_mulaw_audio", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val audio = Multimodal.mulawWavFromDocuments(Tables.load(s, dir, "documents"))
      .as[Multimodal.AudioRecord]
    Multimodal.audioRmsWindows(audio, winSamples = 256)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some("""
    WITH a AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    d AS (
      SELECT media_id, nbytes,
             list_transform(range(0, nbytes), j ->
               255 - CAST(concat('0x', substr(hex(src), CAST(j AS INT) * 2 + 1, 2)) AS BIGINT)) AS u
      FROM a),
    e AS (
      SELECT media_id, nbytes,
             list_transform(u, x ->
               CASE WHEN x >= 128
                    THEN 132 - (((x % 16) * 8 + 132) * (CAST(1 AS BIGINT) << CAST((x % 128) // 16 AS INT)))
                    ELSE (((x % 16) * 8 + 132) * (CAST(1 AS BIGINT) << CAST((x % 128) // 16 AS INT))) - 132
               END) AS smp
      FROM d),
    w AS (
      SELECT media_id, smp, unnest(range(0, CAST(nbytes // 256 AS INT))) AS win_idx
      FROM e),
    s AS (
      SELECT media_id, win_idx,
             list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(smp[CAST(win_idx * 256 + 1 AS INT):CAST(win_idx * 256 + 256 AS INT)], x -> x * x)),
               (p, q) -> p + q) AS sumsq
      FROM w)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx, sumsq,
           floor(sqrt(CAST(sumsq AS DOUBLE) / 256) * 1000000 + 0.5) / 1000000.0 AS rms
    FROM s ORDER BY media_id, win_idx"""))

  /** The A-LAW half of the G.711 pair (q208 is µ-law): same real
    * RIFF/WAVE container (wFormatTag 6), same table expansion on the
    * Spark side (the A-law table captured from javax.sound's codec),
    * and the oracle replays the A-law closed form
    * — x = b ^ 85; segment s = (x%128)//16, mantissa m = x%16;
    * t = 16m+8 when s = 0 else (16m+264) << (s-1); sign bit SET is
    * POSITIVE (polarity opposite to µ-law, which is why the pair is
    * worth two oracle rows: a sign mix-up in either leg hash-fails
    * its own query). Spec-pinned equal to javax on all 256 bytes.
    */
  private val q209 = Q("q209_alaw_audio", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val audio = Multimodal.alawWavFromDocuments(Tables.load(s, dir, "documents"))
      .as[Multimodal.AudioRecord]
    Multimodal.audioRmsWindows(audio, winSamples = 256)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some("""
    WITH a AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    d AS (
      SELECT media_id, nbytes,
             list_transform(range(0, nbytes), j ->
               xor(CAST(concat('0x', substr(hex(src), CAST(j AS INT) * 2 + 1, 2)) AS BIGINT), 85)) AS u
      FROM a),
    e AS (
      SELECT media_id, nbytes,
             list_transform(u, x ->
               (CASE WHEN x >= 128 THEN 1 ELSE -1 END) *
               (CASE WHEN (x % 128) // 16 = 0 THEN (x % 16) * 16 + 8
                     ELSE ((x % 16) * 16 + 264) * (CAST(1 AS BIGINT) << CAST((x % 128) // 16 - 1 AS INT))
                END)) AS smp
      FROM d),
    w AS (
      SELECT media_id, smp, unnest(range(0, CAST(nbytes // 256 AS INT))) AS win_idx
      FROM e),
    s AS (
      SELECT media_id, win_idx,
             list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(smp[CAST(win_idx * 256 + 1 AS INT):CAST(win_idx * 256 + 256 AS INT)], x -> x * x)),
               (p, q) -> p + q) AS sumsq
      FROM w)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx, sumsq,
           floor(sqrt(CAST(sumsq AS DOUBLE) / 256) * 1000000 + 0.5) / 1000000.0 AS rms
    FROM s ORDER BY media_id, win_idx"""))

  /** The first PREDICTIVE codec under the oracle (round 15): q208/q209
    * proved memoryless per-byte table codecs; IMA ADPCM carries
    * per-block (predictor, step-index) STATE — every decoded sample
    * depends on the whole nibble prefix of its block. The corpus
    * synthesizes genuine wFormatTag-0x11 WAVs
    * ([[graft.operators.Multimodal.imaAdpcmWavFromDocuments]]: doc
    * bytes as the nibble stream in 256-byte blocks, each block's
    * 4-byte header seeding (0, 0)), the Spark side decodes through the
    * spec's integer state machine
    * ([[graft.operators.Multimodal.imaStep]] — the JDK ships no ADPCM
    * codec), and the oracle REPLAYS the state machine as a recursive
    * CTE over block-initial headers: one recursion step per nibble,
    * the 89-entry step table a list literal, clamps via
    * greatest/least — the q203 discipline extended from lookup tables
    * to state machines. Blocks are independent by the format's seek
    * contract, so the recursion parallelizes per (doc, block); the
    * RMS window tail is q208's. MultimodalSpec pins a hand-traced
    * fixture, both saturation clamps, block-boundary state reset, and
    * truncation/garbage/bit-flip fuzz.
    */
  private val q211 = Q("q211_ima_adpcm_audio", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val audio = Multimodal.imaAdpcmWavFromDocuments(Tables.load(s, dir, "documents"))
      .as[Multimodal.AudioRecord]
    Multimodal.audioRmsWindows(audio, winSamples = 256)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some {
    val stepTable = graft.operators.Multimodal.ImaStepTable.mkString("[", ", ", "]")
    s"""
    WITH RECURSIVE
    a AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    byt AS (
      SELECT media_id, CAST(j // 252 AS INT) AS blk, CAST(j % 252 AS INT) AS bj,
             CAST(concat('0x', substr(hex(src), CAST(j AS INT) * 2 + 1, 2)) AS INT) AS b
      FROM a, unnest(range(0, nbytes)) AS t(j)),
    nib AS (
      SELECT media_id, blk, bj * 2 + k AS pos,
             CASE WHEN k = 0 THEN b % 16 ELSE b // 16 END AS n
      FROM byt, unnest([0, 1]) AS u(k)),
    steps AS (SELECT $stepTable AS tbl),
    dec AS (
      SELECT media_id, blk, -1 AS pos, CAST(0 AS BIGINT) AS pred, 0 AS idx
      FROM (SELECT DISTINCT media_id, blk FROM nib)
      UNION ALL
      SELECT d.media_id, d.blk, nb.pos,
             greatest(-32768, least(32767,
               d.pred + (CASE WHEN nb.n >= 8 THEN -1 ELSE 1 END) *
                 (tbl[d.idx + 1] // 8
                  + (nb.n % 2) * (tbl[d.idx + 1] // 4)
                  + ((nb.n // 2) % 2) * (tbl[d.idx + 1] // 2)
                  + ((nb.n // 4) % 2) * tbl[d.idx + 1]))) AS pred,
             greatest(0, least(88, d.idx +
               CASE WHEN nb.n % 8 < 4 THEN -1 ELSE (nb.n % 8 - 3) * 2 END)) AS idx
      FROM dec d, steps
      JOIN nib nb ON nb.media_id = d.media_id AND nb.blk = d.blk
                 AND nb.pos = d.pos + 1),
    smp AS (
      SELECT media_id, blk * 505 + pos + 1 AS gpos, pred
      FROM dec),
    arr AS (
      SELECT media_id, list(pred ORDER BY gpos) AS s, count(*) AS ns
      FROM smp GROUP BY media_id),
    w AS (
      SELECT media_id, s, unnest(range(0, CAST(ns // 256 AS INT))) AS win_idx
      FROM arr),
    sq AS (
      SELECT media_id, win_idx,
             list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(s[CAST(win_idx * 256 + 1 AS INT):CAST(win_idx * 256 + 256 AS INT)],
                 x -> x * x)),
               (p1, q1) -> p1 + q1) AS sumsq
      FROM w)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx, sumsq,
           floor(sqrt(CAST(sumsq AS DOUBLE) / 256) * 1000000 + 0.5) / 1000000.0 AS rms
    FROM sq ORDER BY media_id, win_idx"""
  })

  /** STEREO IMA-ADPCM under the oracle (round 15) — q211 proved the
    * predictive state machine; this pins the format's CHANNEL
    * INTERLEAVE, the classic ADPCM decoder bug: after the two
    * per-channel block headers, data runs in 4-byte groups
    * alternating channels, and each channel folds its OWN
    * (predictor, index). Doc bytes land in container order, so
    * channel 0's nibble stream is exactly the bytes whose in-block
    * offset has (offset/4) even — the oracle SELECTS those bytes with
    * a closed form ((jb//8)*4 + jb%4 ranks them within the block) and
    * replays q211's recursive CTE over them; a decoder that treats
    * the stream as mono feeds channel 1's nibbles into channel 0's
    * predictor and hash-fails. 248 data bytes per block -> 249
    * channel-0 samples per full block (header + 124 bytes x 2
    * nibbles); doc bytes truncate to whole 8-byte group pairs by the
    * builder's contract.
    */
  private val q213 = Q("q213_ima_adpcm_stereo", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val audio = Multimodal.imaAdpcmStereoWavFromDocuments(Tables.load(s, dir, "documents"))
      .as[Multimodal.AudioRecord]
    Multimodal.audioRmsWindows(audio, winSamples = 64)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some {
    val stepTable = graft.operators.Multimodal.ImaStepTable.mkString("[", ", ", "]")
    s"""
    WITH RECURSIVE
    a AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) - octet_length(encode(text)) % 8 AS usable
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) >= 8),
    byt AS (
      SELECT media_id, CAST(j // 248 AS INT) AS blk,
             CAST(((j % 248) // 8) * 4 + (j % 4) AS INT) AS bj,
             CAST(concat('0x', substr(hex(src), CAST(j AS INT) * 2 + 1, 2)) AS INT) AS b
      FROM a, unnest(range(0, usable)) AS t(j)
      WHERE ((j % 248) // 4) % 2 = 0),
    nib AS (
      SELECT media_id, blk, bj * 2 + k AS pos,
             CASE WHEN k = 0 THEN b % 16 ELSE b // 16 END AS n
      FROM byt, unnest([0, 1]) AS u(k)),
    steps AS (SELECT $stepTable AS tbl),
    dec AS (
      SELECT media_id, blk, -1 AS pos, CAST(0 AS BIGINT) AS pred, 0 AS idx
      FROM (SELECT DISTINCT media_id, blk FROM nib)
      UNION ALL
      SELECT d.media_id, d.blk, nb.pos,
             greatest(-32768, least(32767,
               d.pred + (CASE WHEN nb.n >= 8 THEN -1 ELSE 1 END) *
                 (tbl[d.idx + 1] // 8
                  + (nb.n % 2) * (tbl[d.idx + 1] // 4)
                  + ((nb.n // 2) % 2) * (tbl[d.idx + 1] // 2)
                  + ((nb.n // 4) % 2) * tbl[d.idx + 1]))) AS pred,
             greatest(0, least(88, d.idx +
               CASE WHEN nb.n % 8 < 4 THEN -1 ELSE (nb.n % 8 - 3) * 2 END)) AS idx
      FROM dec d, steps
      JOIN nib nb ON nb.media_id = d.media_id AND nb.blk = d.blk
                 AND nb.pos = d.pos + 1),
    smp AS (
      SELECT media_id, blk * 249 + pos + 1 AS gpos, pred
      FROM dec),
    arr AS (
      SELECT media_id, list(pred ORDER BY gpos) AS s, count(*) AS ns
      FROM smp GROUP BY media_id),
    w AS (
      SELECT media_id, s, unnest(range(0, CAST(ns // 64 AS INT))) AS win_idx
      FROM arr),
    sq AS (
      SELECT media_id, win_idx,
             list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(s[CAST(win_idx * 64 + 1 AS INT):CAST(win_idx * 64 + 64 AS INT)],
                 x -> x * x)),
               (p1, q1) -> p1 + q1) AS sumsq
      FROM w)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx, sumsq,
           floor(sqrt(CAST(sumsq AS DOUBLE) / 64) * 1000000 + 0.5) / 1000000.0 AS rms
    FROM sq ORDER BY media_id, win_idx"""
  })

  /** IMA-ADPCM ENCODER under the oracle (round 15) — q211/q213 put
    * the decoder's state machine under a recursive-CTE replay; here
    * the ENCODER runs for real too: deterministic 16-bit PCM derived
    * from doc bytes (sample = (byte-128)*256) is greedily encoded
    * ([[graft.operators.Multimodal.imaEncodeStep]] — sign bit from
    * the residual, magnitude by successive subtraction of step,
    * step>>1, step>>2, then the DECODER's own update keeps both
    * predictors in lockstep), written into a genuine wFormatTag-0x11
    * container, and decoded back through [[graft.operators.Multimodal.decodeAudioPcm]].
    * The oracle replays the FUSED encode-decode machine per block:
    * each recursion step computes the greedy nibble from
    * (pred, idx, target) in a lateral, then the q211 decode update —
    * so both halves of the codec are hash-checked in one query. Block
    * headers store the first sample verbatim (round-trips exactly,
    * index reset per block); input truncates by at most one sample so
    * nibbles fill whole bytes.
    */
  private val q214 = Q("q214_ima_adpcm_roundtrip", (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val audio = Multimodal.imaAdpcmEncodedFromDocuments(Tables.load(s, dir, "documents"))
      .as[Multimodal.AudioRecord]
    Multimodal.audioRmsWindows(audio, winSamples = 64)
      .orderBy(col("media_id"), col("win_idx"))
  }, Some {
    val stepTable = graft.operators.Multimodal.ImaStepTable.mkString("[", ", ", "]")
    s"""
    WITH RECURSIVE
    a AS (
      SELECT doc_id AS media_id, encode(text) AS src,
             octet_length(encode(text)) AS nbytes
      FROM documents
      WHERE doc_id IS NOT NULL AND octet_length(encode(text)) > 0),
    u AS (
      SELECT media_id, src,
             nbytes - (CASE WHEN nbytes % 505 >= 1 AND (nbytes % 505 - 1) % 2 = 1
                            THEN 1 ELSE 0 END) AS usable
      FROM a),
    pcm AS (
      SELECT media_id, CAST(j // 505 AS INT) AS blk, CAST(j % 505 AS INT) AS pos,
             (CAST(concat('0x', substr(hex(src), CAST(j AS INT) * 2 + 1, 2)) AS BIGINT) - 128) * 256 AS s
      FROM u, unnest(range(0, usable)) AS t(j)),
    steps AS (SELECT $stepTable AS tbl),
    dec AS (
      SELECT media_id, blk, pos, s AS pred, 0 AS idx
      FROM pcm WHERE pos = 0
      UNION ALL
      SELECT d.media_id, d.blk, p.pos,
             greatest(-32768, least(32767,
               d.pred + (CASE WHEN c2.nib >= 8 THEN -1 ELSE 1 END) *
                 (c1.step // 8
                  + (c2.nib % 2) * (c1.step // 4)
                  + ((c2.nib // 2) % 2) * (c1.step // 2)
                  + ((c2.nib // 4) % 2) * c1.step))) AS pred,
             greatest(0, least(88, d.idx +
               CASE WHEN c2.nib % 8 < 4 THEN -1 ELSE (c2.nib % 8 - 3) * 2 END)) AS idx
      FROM dec d
      JOIN pcm p ON p.media_id = d.media_id AND p.blk = d.blk AND p.pos = d.pos + 1
      CROSS JOIN steps
      CROSS JOIN LATERAL (SELECT tbl[d.idx + 1] AS step,
                                 abs(p.s - d.pred) AS ad,
                                 p.s - d.pred < 0 AS neg) c1
      CROSS JOIN LATERAL (SELECT
        (CASE WHEN c1.neg THEN 8 ELSE 0 END)
        + (CASE WHEN c1.ad >= c1.step THEN 4 ELSE 0 END)
        + (CASE WHEN c1.ad - (CASE WHEN c1.ad >= c1.step THEN c1.step ELSE 0 END)
                 >= c1.step // 2 THEN 2 ELSE 0 END)
        + (CASE WHEN c1.ad - (CASE WHEN c1.ad >= c1.step THEN c1.step ELSE 0 END)
                 - (CASE WHEN c1.ad - (CASE WHEN c1.ad >= c1.step THEN c1.step ELSE 0 END)
                         >= c1.step // 2 THEN c1.step // 2 ELSE 0 END)
                 >= c1.step // 4 THEN 1 ELSE 0 END) AS nib) c2),
    smp AS (
      SELECT media_id, blk * 505 + pos AS gpos, pred
      FROM dec),
    arr AS (
      SELECT media_id, list(pred ORDER BY gpos) AS s, count(*) AS ns
      FROM smp GROUP BY media_id),
    w AS (
      SELECT media_id, s, unnest(range(0, CAST(ns // 64 AS INT))) AS win_idx
      FROM arr),
    sq AS (
      SELECT media_id, win_idx,
             list_reduce(list_concat([CAST(0 AS BIGINT)],
               list_transform(s[CAST(win_idx * 64 + 1 AS INT):CAST(win_idx * 64 + 64 AS INT)],
                 x -> x * x)),
               (p1, q1) -> p1 + q1) AS sumsq
      FROM w)
    SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx, sumsq,
           floor(sqrt(CAST(sumsq AS DOUBLE) / 64) * 1000000 + 0.5) / 1000000.0 AS rms
    FROM sq ORDER BY media_id, win_idx"""
  })

  /** Count-Min sketch of the corpus token stream (depth 4, width 64).
    * The full counter matrix is hash-checked: Count-Min's elementwise-
    * sum merge makes the sketch a pure multiset function of the stream
    * in EVERY regime (no eviction, no compaction), so the oracle
    * replays each row's md5-derived cell assignment and group-counts —
    * stronger than the exact-regime-only checks MG (q100) and KLL
    * (q105) admit. One 4x64-long summary ships per map task
    * regardless of token cardinality.
    */
  private val q148 = Q("q148_countmin", (s, dir) => {
    val cm = udaf(new graft.functions.CountMinAggregator(4, 64))
    Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(cm(col("term")).as("cm"))
      .select(posexplode(col("cm")).as(Seq("row_idx", "cells")))
      .select(col("row_idx").cast("long").as("row_idx"),
        posexplode(col("cells")).as(Seq("cell_idx", "cnt")))
      .select(col("row_idx"), col("cell_idx").cast("long").as("cell_idx"), col("cnt"))
      .orderBy(col("row_idx"), col("cell_idx"))
  }, Some("""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    r AS (SELECT unnest(range(0, 4)) AS row_idx),
    h AS (SELECT r.row_idx,
                 CAST(concat('0x', substr(md5(CAST(r.row_idx AS VARCHAR) || '_' || term), 1, 12)) AS BIGINT) % 64 AS cell_idx
          FROM tok CROSS JOIN r),
    c AS (SELECT row_idx, cell_idx, CAST(count(*) AS BIGINT) AS cnt
          FROM h GROUP BY row_idx, cell_idx),
    grid AS (SELECT r.row_idx, unnest(range(0, 64)) AS cell_idx FROM r)
    SELECT g.row_idx, CAST(g.cell_idx AS BIGINT) AS cell_idx,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM grid g LEFT JOIN c ON c.row_idx = g.row_idx AND c.cell_idx = g.cell_idx
    ORDER BY g.row_idx, g.cell_idx"""))

  /** Bigram-LM surprise (TextAnalysis.bigramLogProb): per-document
    * mean negative log-likelihood under an add-one-smoothed bigram
    * model trained on the corpus — the word-ORDER-sensitive
    * perplexity gate (q101 is the unigram baseline). The Spark side
    * expands bigrams with a narrow array slice/zip (no window); the
    * oracle indexes the split list with generate_series. Surprise is
    * quantized per bigram TYPE on the micro-nat grid, so the mean is
    * engine-exact.
    */
  private val q176 = Q("q176_bigram_logprob", (s, dir) => {
    TextAnalysis.bigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }, Some("""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
                 WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vv FROM
            (SELECT unnest(l) AS term FROM tok)),
    big AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM
        (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
         FROM tok WHERE len(l) >= 2)),
    hist AS (SELECT w1, CAST(count(*) AS BIGINT) AS ch FROM big GROUP BY w1),
    ty AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY w1, w2),
    su AS (SELECT ty.w1, ty.w2,
                  CAST(floor(ln(CAST(hist.ch + v.vv AS DOUBLE) / (ty.cb + 1))
                       * 1000000 + 0.5) AS BIGINT) AS s_u
           FROM ty JOIN hist USING (w1) CROSS JOIN v),
    d AS (SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(s_u) AS BIGINT) AS ssum
          FROM big JOIN su USING (w1, w2) GROUP BY big.doc_id)
    SELECT doc_id, n_bigrams,
           floor(CAST(ssum AS DOUBLE) / n_bigrams + 0.5) / 1000000.0 AS mean_nll
    FROM d ORDER BY doc_id"""))

  /** Interpolated Kneser-Ney bigram surprise under the oracle
    * (round 18, [[graft.operators.TextAnalysis.knBigramLogProb]] —
    * the CCNet-style LM-filter smoother beside q176's add-one
    * baseline): the D = 3/4 discount is held rational, so P(w2|w1)
    * is one ratio of exact BIGINT count products — (4c-3)·T +
    * 3·N1+(w1,·)·N1+(·,w2) over 4·c(w1·)·T — and both engines meet
    * on the floor-1e6 micro-nat grid after a single double division.
    * The oracle rebuilds all four count tables (bigram types, history
    * totals + distinct continuations, distinct left-contexts, the
    * type total) from first principles.
    */
  private val q237 = Q("q237_kn_bigram", (s, dir) => {
    TextAnalysis.knBigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }, Some("""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
                 WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    big AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM
        (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
         FROM tok WHERE len(l) >= 2)),
    ty AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY w1, w2),
    hist AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS ch,
                    CAST(count(*) AS BIGINT) AS n1p
             FROM ty GROUP BY w1),
    lctx AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2 FROM ty GROUP BY w2),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ty),
    su AS (SELECT ty.w1, ty.w2,
                  CAST(floor(ln(CAST(4 * hist.ch * tt.t AS DOUBLE) /
                       CAST((4 * ty.cb - 3) * tt.t + 3 * hist.n1p * lctx.n2 AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT) AS s_u
           FROM ty JOIN hist USING (w1) JOIN lctx USING (w2) CROSS JOIN tt),
    d AS (SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(s_u) AS BIGINT) AS ssum
          FROM big JOIN su USING (w1, w2) GROUP BY big.doc_id)
    SELECT doc_id, n_bigrams,
           floor(CAST(ssum AS DOUBLE) / n_bigrams + 0.5) / 1000000.0 AS mean_nll
    FROM d ORDER BY doc_id"""))

  /** BPE merge-table TRAINING under the oracle (round 18,
    * [[graft.operators.TextAnalysis.trainBpeMerges]] — q141 applies a
    * merge table, this row proves the LEARNING loop: k greedy rounds
    * of overlap-counted pair statistics over the frequency-weighted
    * word histogram, argmax with the (count desc, lhs, rhs)
    * deterministic tie-break, leftmost-non-overlapping rewrite). The
    * oracle UNROLLS all k rounds as mechanical CTE blocks — each a
    * pair count + LIMIT-1 argmax + literal replace over the same
    * SEP-delimited symbol representation the Spark side (and
    * bpeTokenize) uses, so train and apply cannot drift. k = 8 is
    * well inside the corpus's pair supply at every SF (the operator's
    * early-stop never fires here; the oracle is a fixed unroll).
    */
  private val q238 = Q("q238_bpe_train", (s, dir) => {
    TextAnalysis.trainBpeMerges(Tables.load(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
        col("text"), k = 8)
      .orderBy(col("rank"))
  }, Some {
    val k = 8
    val init = """    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    h0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             regexp_replace(word, '(.)', chr(31) || '\1' || chr(31), 'g') AS tokseq
      FROM w GROUP BY word)"""
    val rounds = (0 until k).flatMap { r =>
      val pb = s"""    p$r AS (
      SELECT x.sy[r2.i + 1] AS a, x.sy[r2.i + 2] AS b, CAST(sum(x.cnt) AS BIGINT) AS c
      FROM (SELECT cnt, string_split(substr(tokseq, 2, len(tokseq) - 2), chr(31) || chr(31)) AS sy
            FROM h$r WHERE len(tokseq) >= 4) x
      CROSS JOIN LATERAL (SELECT unnest(range(0, len(x.sy) - 1)) AS i) r2
      GROUP BY 1, 2),
    b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1)"""
      val hn = if (r < k - 1) Seq(s"""    h${r + 1} AS (
      SELECT h.word, h.cnt,
             replace(h.tokseq, chr(31) || b.a || chr(31) || chr(31) || b.b || chr(31),
                     chr(31) || b.a || b.b || chr(31)) AS tokseq
      FROM h$r h, b$r b)""") else Seq.empty
      pb +: hn
    }
    val finals = (0 until k).map(r =>
      s"""    SELECT CAST($r AS BIGINT) AS "rank", a AS lhs, b AS rhs, c AS pair_count FROM b$r""")
      .mkString("\n    UNION ALL\n")
    (init +: rounds).mkString(",\n") + "\n" + finals + "\n    ORDER BY \"rank\""
  })

  /** Vocabulary coverage curve (TextAnalysis.vocabCoverage): surviving
    * type counts and corpus-mass share at rising min-frequency
    * thresholds — the tokenizer-pruning knee finder, computed with
    * conditional aggregates only (no global sort/rank). Integer
    * permille mass.
    */
  private val q183 = Q("q183_vocab_coverage", (s, dir) => {
    TextAnalysis.vocabCoverage(Tables.load(s, dir, "documents"), "text")
      .orderBy(col("threshold"))
  }, Some("""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    v AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
    th AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS threshold)
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS kept_types,
           (CAST(sum(CASE WHEN c >= threshold THEN c ELSE 0 END) AS BIGINT) * 1000)
             // CAST(sum(c) AS BIGINT) AS mass_permille
    FROM v CROSS JOIN th
    GROUP BY threshold ORDER BY threshold"""))

  /** Inverted-index phrase search (TextAnalysis.phraseSearch): four
    * word-boundary phrases located via bigram postings + covering
    * count + exact verify on candidates only. The oracle is the
    * NAIVE definition — a full-corpus padded-contains scan — so the
    * hash match proves the index path returns exactly the scan's
    * answer (candidates ⊇ matches by the n-gram containment
    * argument; the verify removes the rest).
    */
  private val q194 = Q("q194_phrase_search", (s, dir) => {
    TextAnalysis.phraseSearch(Tables.load(s, dir, "documents"), "doc_id",
        "text", Seq("the table", "value fast", "slow filter", "key agg row"))
      .orderBy(col("phrase"), col("doc_id"))
  }, Some("""
    SELECT p.phrase, d.doc_id
    FROM documents d
    CROSS JOIN (VALUES ('the table'), ('value fast'), ('slow filter'),
                       ('key agg row')) p(phrase)
    WHERE contains(' ' || d.text || ' ', ' ' || p.phrase || ' ')
    ORDER BY p.phrase, d.doc_id"""))

  /** Trending terms per day: the top-5 event-type tokens of each
    * user-event day by count — the "what surged today" feed, shaped
    * exactly like production trending pipelines: one map-side-
    * combined (day, term) count (the shuffle carries counters, not
    * events) and a ranking window over the day-sized aggregate frame
    * only. Ties break (count desc, term asc) so the board is
    * deterministic.
    */
  private val q199 = Q("q199_trending_terms", (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val day = expr("unix_micros(ts) div 86400000000L")
    val counts = Tables.events(s, dir)
      .select(day.as("day"), explode(split(col("props"), "[^A-Za-z0-9]+")).as("term"))
      .where(length(col("term")) >= 2)
      .groupBy(col("day"), col("term")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("n").desc, col("term"))
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .orderBy(col("day"), col("rnk"))
  }, Some("""
    WITH tok AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             unnest(string_split_regex(props, '[^A-Za-z0-9]+')) AS term
      FROM events),
    c AS (SELECT day, term, count(*) AS n FROM tok
          WHERE len(term) >= 2 GROUP BY day, term),
    r AS (SELECT day, term, n,
                 CAST(row_number() OVER (PARTITION BY day
                   ORDER BY n DESC, term) AS BIGINT) AS rnk
          FROM c)
    SELECT day, term, n, rnk FROM r WHERE rnk <= 5
    ORDER BY day, rnk"""))

  /** C4-style cleaning under the oracle (round 18; Raffel et al.
    * 2020 §2.2, [[graft.operators.TextAnalysis.c4Clean]]): the
    * corpus has no line structure, so both engines build the SAME
    * deterministic page frame from the token stream — lines of 5
    * tokens, terminal punctuation cycling `.` `!` `?` (none) on the
    * (doc_id + line) % 4 grid so ~1/4 of lines fail rule (1) — then
    * plant every trap on its own doc_id stratum: a
    * javascript-warning line (7 | doc_id; line-dropped, page
    * survives), a "lorem ipsum" line (13), a curly-brace code line
    * (11 — fails BOTH the line rule and the page rule), and a
    * bad-word line (17; passes every line rule, kills the page).
    * Full rebuilt `clean_text` strings are hash-compared, so a
    * line-splitting or punctuation divergence fails loudly; the
    * kept-lines floor (5) genuinely fires on the short-doc tail.
    */
  private val q235 = Q("q235_c4_clean", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    val toks = split(col("text"), " ")
    val puncts = array(lit("."), lit("!"), lit("?"), lit(""))
    val nLines = floor((size(toks) + lit(4)) / lit(5)).cast("long")
    val lines = transform(sequence(lit(0L), nLines - lit(1L)), i =>
      concat(array_join(slice(toks, (i * lit(5L) + lit(1L)).cast("int"), lit(5)), " "),
        element_at(puncts, (pmod(col("doc_id") + i, lit(4L)) + lit(1L)).cast("int"))))
    val page = concat(array_join(lines, "\n"),
      when(pmod(col("doc_id"), lit(7L)) === 0,
        lit("\nclick here to enable javascript now.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13L)) === 0,
        lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11L)) === 0,
        lit("\nfunction f() { return 1; }")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(17L)) === 0,
        lit("\nwell frak that plan entirely.")).otherwise(lit("")))
    TextAnalysis.c4Clean(docs.select(col("doc_id"), page.as("text")),
        col("doc_id"), col("text"), badWords = Seq("frak"),
        minWordsPerLine = 3, minKeptLines = 5)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    l AS (
      SELECT doc_id, toks, unnest(range(0, (len(toks) + 4) // 5)) AS i FROM t),
    ln AS (
      SELECT doc_id, i,
             array_to_string(toks[i*5+1 : i*5+5], ' ') ||
             (['.', '!', '?', ''])[CAST((doc_id + i) % 4 AS INT) + 1] AS line
      FROM l),
    pg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS body
      FROM ln GROUP BY doc_id),
    page AS (
      SELECT doc_id, body ||
        CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'click here to enable javascript now.' ELSE '' END ||
        CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END ||
        CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'well frak that plan entirely.' ELSE '' END AS text
      FROM pg),
    f AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS ls,
             list_filter(string_split(text, chr(10)), ll ->
               substr(ll, len(ll), 1) IN ('.', '!', '?', '"')
               AND len(string_split(ll, ' ')) >= 3
               AND NOT contains(lower(ll), 'javascript')) AS kept
      FROM page)
    SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS kept_lines,
           CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem,
           CAST(contains(text, '{') AS INT) AS has_brace,
           CAST(list_has_any(string_split(replace(lower(text), chr(10), ' '), ' '),
                             ['frak']) AS INT) AS has_badword,
           array_to_string(kept, chr(10)) AS clean_text,
           CAST(contains(lower(text), 'lorem ipsum') = false
                AND contains(text, '{') = false
                AND NOT list_has_any(string_split(replace(lower(text), chr(10), ' '), ' '), ['frak'])
                AND len(kept) >= 5 AS INT) AS keep
    FROM f ORDER BY doc_id"""))

  val list: Seq[Q] = Seq(q51, q52, q53, q54, q55, q56, q74, q89, q100, q101, q108, q112,
    q120, q128, q129, q138, q141, q142, q143, q144, q148, q176, q183, q194, q217, q218, q219, q222,
    q199, q200, q201, q203, q208, q209, q211, q213, q214, q228, q235, q237, q238)
}
