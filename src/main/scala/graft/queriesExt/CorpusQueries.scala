package graft.queriesExt

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.CorpusOps
import graft.queriesRelational.RelationalQueries.Q

/** Oracle corpus for the corpus-curation operators (deterministic
  * stratified sampling, token-length histograms, sequence packing) —
  * the data-shaping steps between dedup/quality-filtering and the
  * training loader.
  */
object CorpusQueries {

  /** Deterministic stratified sampling by language. Rates are chosen
    * binary-exact (0.25/0.75/0.5) so rate*buckets compares identically
    * in every engine. The filter is a narrow hash + CASE — zero
    * shuffle; at 100 TB this prunes the corpus in the scan stage.
    */
  private val q78 = Q("q78_stratified_sample", (s, dir) => {
    CorpusOps.stratifiedSample(
        Tables.load(s, dir, "documents"),
        col("doc_id"), col("lang"),
        rates = Map("en" -> 0.25, "zh" -> 0.75), defaultRate = 0.5)
      .select(col("doc_id"), col("lang"), col("sample_bucket"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS sample_bucket
      FROM documents)
    SELECT doc_id, lang, sample_bucket
    FROM b
    WHERE sample_bucket < (CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.75 ELSE 0.5 END) * 1000
    ORDER BY doc_id"""))

  /** Token-length histogram per language: decile-ish buckets of 10
    * tokens capped at 15 (the long tail folds into the top bucket).
    * One map-side-combinable groupBy of (lang, bucket) — the shuffle
    * carries bucket counters, not documents.
    */
  private val q79 = Q("q79_token_histogram", (s, dir) => {
    val nTok = size(split(col("text"), " ")).cast("long")
    Tables.load(s, dir, "documents")
      .select(col("lang"), least(floor(nTok / 10).cast("long"), lit(15L)).as("bucket"), nTok.as("n_tok"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("lang"), col("bucket"))
  }, Some("""
    WITH t AS (
      SELECT lang,
             least(CAST(floor(len(string_split(text, ' ')) / 10.0) AS BIGINT), 15) AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents)
    SELECT lang, bucket, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM t GROUP BY lang, bucket ORDER BY lang, bucket"""))

  /** Context-window sequence packing (concat-then-chop at 512 tokens,
    * per source shard in doc_id order) — the final layout step before
    * a pre-training loader. Per-shard running-sum window; the only
    * shuffle is on the shard key.
    */
  private val q80 = Q("q80_sequence_packing", (s, dir) => {
    CorpusOps.packSequences(
        Tables.load(s, dir, "documents"),
        col("doc_id"), col("source"),
        size(split(col("text"), " ")), budget = 512)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
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

  /** Deterministic train/val/test/holdout split. Weights are chosen to
    * exercise the integer-bound arithmetic the operator documents:
    * cumulative 0.45+0.45+0.05 accumulates to 0.9500000000000001 in
    * IEEE double, and `round(cum/total*buckets)` pins the boundary
    * bucket to 950 on every engine — the oracle hardcodes the
    * independently-computed bounds (450/900/950) over the same
    * md5-prefix hash, so a drift in either side's arithmetic surfaces
    * as a hash mismatch.
    */
  private val q96 = Q("q96_train_split", (s, dir) => {
    CorpusOps.assignSplit(
        Tables.load(s, dir, "documents"), col("doc_id"),
        splits = Seq(("train", 0.45), ("val", 0.45), ("test", 0.05), ("holdout", 0.05)))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS bucket
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN bucket < 450 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                WHEN bucket < 950 THEN 'test'
                ELSE 'holdout' END AS split
    FROM b ORDER BY doc_id"""))

  /** Temperature re-sampling with true up-sampling: sqrt-temperature
    * upweights (q85's operator) applied as integer repeat factors plus
    * a hash-thresholded fractional copy. baseRate 0.5 makes the
    * dominant stratum down-sample (~0.5 epochs) while small strata
    * repeat — the "epochs per source" table of an LLM data mix,
    * materialized. Oracle replays the weight CTEs and the per-mille
    * integer copy arithmetic.
    */
  private val q104 = Q("q104_temperature_sample", (s, dir) => {
    CorpusOps.temperatureSample(Tables.load(s, dir, "documents"),
        col("doc_id"), col("source"), size(split(col("text"), " ")), baseRate = 0.5)
      .select(col("doc_id"), col("source"), col("n_copies"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }, Some("""
    WITH a AS (
      SELECT source AS stratum,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    b AS (SELECT *, CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share FROM a),
    c AS (SELECT *, CAST(floor(sqrt(share) * 1000000000 + 0.5) AS BIGINT) AS w FROM b),
    d AS (SELECT stratum, share, CAST(w AS DOUBLE) / sum(w) OVER () AS weight FROM c),
    r AS (SELECT stratum,
                 CAST(floor(floor(weight / share * 1000000 + 0.5) / 1000000.0
                            * 0.5 * 1000 + 0.5) AS BIGINT) AS rate_m
          FROM d),
    docs AS (SELECT doc_id, source,
                    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS bucket
             FROM documents),
    cc AS (SELECT doc_id, source,
                  (rate_m // 1000) +
                    CASE WHEN bucket < rate_m % 1000 THEN 1 ELSE 0 END AS n_copies
           FROM docs JOIN r ON docs.source = r.stratum)
    SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx
    FROM cc WHERE n_copies > 0
    ORDER BY doc_id, copy_idx"""))

  /** One-pass mergeable quantile sketch in its EXACT regime (capacity
    * >= corpus size at every tested SF, so no compaction fires and the
    * rank-selects are exact — the oracle-checkable regime; the
    * compaction-regime error bound is SketchSpec's job). The streaming
    * sibling of q76's exact two-pass percentiles.
    */
  private val q105 = Q("q105_sketch_quantiles", (s, dir) => {
    val qs = udaf(new graft.functions.QuantileSketchAggregator(8192,
      Seq(0.25, 0.5, 0.75, 0.95)))
    Tables.load(s, dir, "documents")
      .select(size(split(col("text"), " ")).cast("double").as("x"))
      .agg(qs(col("x")).as("_q"), count(lit(1)).as("n"))
      .select(
        element_at(col("_q"), 1).as("p25"),
        element_at(col("_q"), 2).as("p50"),
        element_at(col("_q"), 3).as("p75"),
        element_at(col("_q"), 4).as("p95"),
        col("n"))
  }, Some("""
    WITH v AS (SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS x FROM documents),
    o AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
    n AS (SELECT count(*) AS n FROM v)
    SELECT
      max(CASE WHEN rn = CAST(floor(0.25 * (n - 1)) AS BIGINT) + 1 THEN x END) AS p25,
      max(CASE WHEN rn = CAST(floor(0.5  * (n - 1)) AS BIGINT) + 1 THEN x END) AS p50,
      max(CASE WHEN rn = CAST(floor(0.75 * (n - 1)) AS BIGINT) + 1 THEN x END) AS p75,
      max(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 THEN x END) AS p95,
      max(n) AS n
    FROM o CROSS JOIN n"""))

  /** RAG-style overlapping chunking: 64-token windows advancing 48
    * (16-token overlap), final chunk short. Narrow explode+slice; the
    * oracle replays the ceil-arithmetic and the inclusive-end
    * list_slice equivalent of Spark's (start, length) slice.
    */
  private val q114 = Q("q114_chunking", (s, dir) => {
    CorpusOps.chunkDocuments(Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"), chunkTokens = 64, overlap = 16)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }, Some("""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
                 unnest(range(0, CAST(floor((len(toks) - 1) / 48.0) AS BIGINT) + 1)) AS chunk_idx
          FROM t)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
           CAST(least(64, n_tok - chunk_idx * 48) AS BIGINT) AS chunk_len,
           array_to_string(list_slice(toks, CAST(chunk_idx * 48 + 1 AS INT),
             CAST(chunk_idx * 48 + 64 AS INT)), ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx"""))

  /** The quantile sketch as a GROUPED aggregation — one summary per
    * language, partial buffers merged map-side across partitions (the
    * distributed path the global q105 never exercises). Exact regime
    * again (per-group n << capacity), so per-group rank-selects
    * hash-match the SQL mirror.
    */
  private val q115 = Q("q115_grouped_sketch_quantiles", (s, dir) => {
    val qs = udaf(new graft.functions.QuantileSketchAggregator(8192, Seq(0.5, 0.9)))
    Tables.load(s, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("double").as("x"))
      .groupBy(col("lang"))
      .agg(qs(col("x")).as("_q"), count(lit(1)).as("n"))
      .select(col("lang"),
        element_at(col("_q"), 1).as("p50"),
        element_at(col("_q"), 2).as("p90"),
        col("n"))
      .orderBy(col("lang"))
  }, Some("""
    WITH v AS (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS x FROM documents),
    o AS (SELECT lang, x, row_number() OVER (PARTITION BY lang ORDER BY x) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM v)
    SELECT lang,
           max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN x END) AS p50,
           max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1 THEN x END) AS p90,
           CAST(max(n) AS BIGINT) AS n
    FROM o GROUP BY lang ORDER BY lang"""))

  /** Nucleus (top-p) corpus selection: per language, the heaviest
    * documents covering 80% of the characters. Integer cross-multiplied
    * cumulative test — no division anywhere.
    */
  private val q125 = Q("q125_top_p", (s, dir) => {
    CorpusOps.topP(Tables.load(s, dir, "documents"),
        col("lang"), col("doc_id"), col("n_chars"), pPermille = 800)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH b AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w FROM documents),
    c AS (SELECT doc_id, lang, w,
                 CAST(coalesce(sum(w) OVER (PARTITION BY lang ORDER BY w DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
                 CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS total
          FROM b)
    SELECT doc_id, lang, w AS n_chars
    FROM c WHERE cumb * 1000 < 800 * total ORDER BY doc_id"""))

  /** Weighted sampling without replacement: 50 docs per language,
    * inclusion odds proportional to length (Efraimidis-Spirakis
    * exponential race over hash-derived uniforms). The oracle replays
    * u, the micro-nat quantized -ln(u), and the single IEEE division.
    */
  private val q126 = Q("q126_weighted_sample", (s, dir) => {
    CorpusOps.weightedSample(Tables.load(s, dir, "documents"),
        col("doc_id"), col("n_chars"), col("lang"), k = 50)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_rank"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH h AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM documents),
    k AS (SELECT *,
                 CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
          FROM h),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY CAST(e_unat AS DOUBLE) / CAST(n_chars AS DOUBLE), doc_id) AS rn
          FROM k)
    SELECT doc_id, lang, n_chars, CAST(rn AS INT) AS sample_rank
    FROM r WHERE rn <= 50 ORDER BY doc_id"""))

  /** Distribution-matched resampling (CorpusOps.matchDistribution):
    * thin the non-English docs so their token-length mix matches the
    * English reference's quartile distribution — the importance-
    * sampling step after quality scoring. The oracle replays the
    * whole chain: rank-select quartile boundaries over the
    * reference, strict-`>` binning, per-bin count ratios with the
    * argmax normalization resolved by exact cross-multiplication
    * (HUGEINT — mirroring the operator's driver-side BigInt), and
    * the stable md5-bucket accept test. A boundary off by one rank,
    * a float ratio comparison, or an unstable sample all break the
    * hash.
    */
  private val q192 = Q("q192_match_distribution", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val metric = size(split(col("text"), " ")).cast("long")
    CorpusOps.matchDistribution(
        docs.where(col("lang") =!= "en"), docs.where(col("lang") === "en"),
        col("doc_id"), metric, metric, nBins = 4)
      .select(col("doc_id"), col("bin"), col("keep_micro"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH ref AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      FROM documents WHERE lang = 'en'),
    cor AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      FROM documents WHERE lang <> 'en'),
    rr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
                  count(*) OVER () AS n
           FROM ref),
    b AS (SELECT
      max(CASE WHEN rn = CAST(floor(0.25 * (n - 1)) AS BIGINT) + 1 THEN CAST(v AS DOUBLE) END) AS b1,
      max(CASE WHEN rn = CAST(floor(0.5  * (n - 1)) AS BIGINT) + 1 THEN CAST(v AS DOUBLE) END) AS b2,
      max(CASE WHEN rn = CAST(floor(0.75 * (n - 1)) AS BIGINT) + 1 THEN CAST(v AS DOUBLE) END) AS b3
      FROM rr),
    refb AS (SELECT (CASE WHEN CAST(v AS DOUBLE) > b.b1 THEN 1 ELSE 0 END +
                     CASE WHEN CAST(v AS DOUBLE) > b.b2 THEN 1 ELSE 0 END +
                     CASE WHEN CAST(v AS DOUBLE) > b.b3 THEN 1 ELSE 0 END) AS bin
             FROM ref, b),
    corb AS (SELECT doc_id, (CASE WHEN CAST(v AS DOUBLE) > b.b1 THEN 1 ELSE 0 END +
                             CASE WHEN CAST(v AS DOUBLE) > b.b2 THEN 1 ELSE 0 END +
                             CASE WHEN CAST(v AS DOUBLE) > b.b3 THEN 1 ELSE 0 END) AS bin
             FROM cor, b),
    cr AS (SELECT bin, count(*) AS c FROM refb GROUP BY bin),
    cc AS (SELECT bin, count(*) AS c FROM corb GROUP BY bin),
    rat AS (SELECT cc.bin,
                   CAST(COALESCE(cr.c, 0) AS HUGEINT) * (SELECT count(*) FROM cor) AS num,
                   CAST(cc.c AS HUGEINT) * (SELECT count(*) FROM ref) AS den
            FROM cc LEFT JOIN cr ON cr.bin = cc.bin),
    arg AS (SELECT bin, num, den FROM rat r1
            WHERE NOT EXISTS (SELECT 1 FROM rat r2
              WHERE r2.num * r1.den > r1.num * r2.den
                 OR (r2.num * r1.den = r1.num * r2.den AND r2.bin < r1.bin))),
    km AS (SELECT rat.bin,
                  CAST((CAST(1000000 AS HUGEINT) * rat.num * arg.den)
                       // (rat.den * arg.num) AS BIGINT) AS keep_micro
           FROM rat, arg)
    SELECT corb.doc_id, corb.bin, km.keep_micro
    FROM corb JOIN km ON km.bin = corb.bin
    WHERE CAST(concat('0x', substr(md5(CAST(corb.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
          % 1000000 < km.keep_micro
    ORDER BY corb.doc_id"""))

  /** Whole-document next-fit bin packing under the oracle (round 15):
    * the loader mode where no document may span sequences —
    * [[graft.operators.CorpusOps.packBinsNextFit]] keeps documents
    * intact and opens a new bin on overflow, folding per shard in
    * `doc_id` order. A bin boundary is a data-dependent RESET of the
    * running fill (not prefix-sum expressible), so the Spark side is
    * one repartition(shard) + sortWithinPartitions + a sequential
    * per-shard fold, and the oracle replays the SAME fold as a
    * recursive CTE stepping one document per iteration per shard —
    * the q211 state-machine discipline applied to packing. The
    * `fill = 0` anchor arm makes an empty bin always accept its first
    * document, so oversize docs take a bin of their own with no
    * special case.
    */
  private val q212 = Q("q212_pack_bins_next_fit", (s, dir) => {
    CorpusOps.packBinsNextFit(
        Tables.load(s, dir, "documents").filter(col("text").isNotNull),
        col("lang"), col("doc_id"), size(split(col("text"), " ")),
        budget = 512L)
      .orderBy(col("shard"), col("doc_id"))
  }, Some("""
    WITH RECURSIVE
    t AS (
      SELECT lang AS shard, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS INT) AS pos
      FROM documents
      WHERE lang IS NOT NULL AND doc_id IS NOT NULL AND text IS NOT NULL),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after
      FROM t WHERE pos = 1
      UNION ALL
      SELECT t.shard, t.pos, t.doc_id, t.n_tok,
             CASE WHEN r.fill_after + t.n_tok <= 512
                  THEN r.bin_idx ELSE r.bin_idx + 1 END,
             CASE WHEN r.fill_after + t.n_tok <= 512
                  THEN r.fill_after + t.n_tok ELSE t.n_tok END
      FROM rec r JOIN t ON t.shard = r.shard AND t.pos = r.pos + 1)
    SELECT shard, doc_id, n_tok, bin_idx, fill_after
    FROM rec ORDER BY shard, doc_id"""))

  /** FIRST-FIT-DECREASING whole-document packing (round 16 — the
    * padding fix over q212's next-fit): per shard, docs sorted by
    * token count desc and placed into the first of at most 4 open
    * bins with room. The oracle replays the fold as a recursive CTE
    * whose state carries the OPEN-BIN FILL LIST — `list_filter` finds
    * the first fit, `list_transform` updates it, slice-and-append
    * evicts the oldest past the cap; the cap is exactly what keeps
    * that CTE state bounded (and the 100 TB fold state O(1)).
    */
  private val q216 = Q("q216_pack_bins_ffd", (s, dir) => {
    CorpusOps.packBinsFirstFitDecreasing(
        Tables.load(s, dir, "documents").filter(col("text").isNotNull),
        col("lang"), col("doc_id"), size(split(col("text"), " ")),
        budget = 512L, maxOpen = 4)
      .orderBy(col("shard"), col("doc_id"))
  }, Some("""
    WITH RECURSIVE
    t AS (
      SELECT lang AS shard, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(row_number() OVER (PARTITION BY lang
                ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS INT) AS pos
      FROM documents
      WHERE lang IS NOT NULL AND doc_id IS NOT NULL AND text IS NOT NULL),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after,
             [{'b': CAST(0 AS BIGINT), 'f': n_tok}] AS open,
             CAST(1 AS BIGINT) AS nbins
      FROM t WHERE pos = 1
      UNION ALL
      SELECT t.shard, t.pos, t.doc_id, t.n_tok,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.b ELSE r.nbins END,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.f + t.n_tok ELSE t.n_tok END,
             CASE WHEN h.hit IS NOT NULL
                  THEN list_transform(r.open, x ->
                    CASE WHEN x.b = h.hit.b THEN {'b': x.b, 'f': x.f + t.n_tok} ELSE x END)
                  ELSE list_append(
                    CASE WHEN len(r.open) >= 4 THEN r.open[2:] ELSE r.open END,
                    {'b': r.nbins, 'f': t.n_tok})
             END,
             CASE WHEN h.hit IS NOT NULL THEN r.nbins ELSE r.nbins + 1 END
      FROM rec r
      JOIN t ON t.shard = r.shard AND t.pos = r.pos + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(r.open, x -> x.f + t.n_tok <= 512)[1] AS hit) h)
    SELECT shard, doc_id, n_tok, bin_idx, fill_after
    FROM rec ORDER BY shard, doc_id"""))

  /** DSIR importance weights (round 16, [[CorpusOps.dsirWeights]];
    * Xie et al. 2023): every document scored by the hashed-n-gram
    * log-likelihood ratio between the TARGET distribution (here: the
    * English slice) and the raw corpus — the public
    * data-selection-by-importance-resampling method. All integer
    * micro-nats: the oracle rebuilds unigram+bigram features with the
    * q128 md5 bucket hash, both smoothed distributions, the per-bucket
    * log-ratio over the full 64-bucket support, and the exact BIGINT
    * per-doc sum.
    */
  private val q221 = Q("q221_dsir_weights", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    CorpusOps.dsirWeights(docs, docs.filter(col("lang") === "en"),
        col("doc_id"), col("text"), dim = 64)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM t),
    g AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket)
    SELECT db.doc_id, CAST(sum(db.cnt) AS BIGINT) AS n_grams,
           CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
    FROM db JOIN lr USING (bucket)
    GROUP BY db.doc_id ORDER BY db.doc_id"""))

  /** The DSIR pipeline END TO END (round 16): q221's importance
    * weights resampled with [[CorpusOps.gumbelTopK]] — sampling
    * ∝ exp(weight) per language without replacement via the
    * Gumbel-max trick, the perturbed key kept INTEGER
    * (score_u − micro-nat ln(−ln u)) so no raw libm value ever sits
    * in a sort comparison. The oracle stacks q221's CTEs under the
    * q126 hash-uniform race replayed in Gumbel form.
    */
  private val q223 = Q("q223_dsir_resample", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val w = CorpusOps.dsirWeights(docs, docs.filter(col("lang") === "en"),
      col("doc_id"), col("text"), dim = 64)
    val joined = docs.select(col("doc_id"), col("lang")).join(w, "doc_id")
    CorpusOps.gumbelTopK(joined, col("doc_id"), col("dsir_weight_u"),
        col("lang"), k = 30)
      .select(col("doc_id"), col("lang"), col("dsir_weight_u"), col("sample_rank"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM t),
    g AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket),
    dsir AS (
      SELECT db.doc_id, CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
      FROM db JOIN lr USING (bucket) GROUP BY db.doc_id),
    j AS (
      SELECT d.doc_id, d.lang, s.dsir_weight_u,
             CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM documents d JOIN dsir s USING (doc_id)),
    k2 AS (
      SELECT *, CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
      FROM j),
    k3 AS (
      SELECT *, dsir_weight_u
             - CAST(floor(ln(CAST(greatest(e_unat, 1) AS DOUBLE) / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS key_u
      FROM k2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY key_u DESC, doc_id) AS rn
      FROM k3)
    SELECT doc_id, lang, dsir_weight_u, CAST(rn AS INT) AS sample_rank
    FROM r WHERE rn <= 30 ORDER BY doc_id"""))

  /** THE PRETRAINING SPINE END TO END (round 17,
    * [[CorpusOps.pretrainingRun]]): the round-16 curation islands —
    * Gopher gate (q219), PII scrub (q222), DSIR weights (q221),
    * Gumbel resample (q223), FFD packing (q216) — composed into ONE
    * oracle-checked pipeline, the q205/q207 discipline (interop bugs
    * live in the seams). Both engines plant identical PII spans, gate
    * on the PLANTED text, scrub the keepers, weight/sample/pack the
    * SCRUBBED text; every doc lands exactly one disposition
    * (gated / not_sampled / packed). The oracle is the five proven
    * CTE fragments chained: q219's gate (left-join drop made an
    * explicit reject), q222's staged scrub, q221's micro-nat
    * distributions over the scrubbed text, q223's integer Gumbel
    * keys, q216's recursive FFD fill-list over the sampled set.
    */
  private val q227 = Q("q227_pretraining_spine", (s, dir) => {
    val withPii = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"), concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
    CorpusOps.pretrainingPipeline(withPii,
        minWords = 20L, maxWords = 95L, minMeanLen = 4.5, maxMeanLen = 5.6,
        stopWords = Seq("the", "a"), minStopHits = 1L, maxTop2Frac = 0.12,
        targetPred = col("lang") === "en", dim = 64, samplesPerLang = 25,
        packBudget = 512L, maxOpen = 4)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH RECURSIVE
    p AS (
      SELECT doc_id, lang,
             text || ' reach user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or call 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    t AS MATERIALIZED (SELECT doc_id, lang, t0, len(t0) AS n_chars,
                 string_split(t0, ' ') AS toks FROM p),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor(CAST(list_reduce(list_transform(toks, s -> CAST(len(s) AS BIGINT)),
                       (a, b) -> a + b) AS DOUBLE) / len(toks) * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
             CAST(len(list_filter(toks, s -> s IN ('the', 'a'))) AS BIGINT) AS stop_hits
      FROM t),
    g2 AS (
      SELECT t.doc_id, t.n_chars, array_to_string(t.toks[r.i+1:r.i+2], ' ') AS gram
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.toks) - 1)) AS i) r),
    c2 AS (
      SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g2 GROUP BY doc_id, n_chars, gram),
    top AS (
      SELECT doc_id,
             floor(CAST(cnt * len(gram) AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000.0 AS top2_frac
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, gram) AS rn FROM c2)
      WHERE rn = 1),
    gatepass AS (
      SELECT w.doc_id FROM w JOIN top USING (doc_id)
      WHERE w.n_words BETWEEN 20 AND 95
        AND w.mean_word_len BETWEEN 4.5 AND 5.6
        AND w.stop_hits >= 1 AND top.top2_frac <= 0.12),
    scrub AS MATERIALIZED (
      SELECT t.doc_id, t.lang,
             regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(
                 regexp_replace(t.t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($|[^0-9-])', '\1[PHONE]\3', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($|[^0-9-])', '\1[PHONE]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])', '\1[SSN]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])', '\1[SSN]\3', 'g') AS clean
      FROM t JOIN gatepass USING (doc_id)),
    ntok AS MATERIALIZED (
      SELECT doc_id, lang, clean,
             CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok
      FROM scrub),
    ktoks AS (SELECT doc_id, lang, string_split(clean, ' ') AS toks FROM scrub),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM ktoks),
    g AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket),
    dsir AS MATERIALIZED (
      SELECT db.doc_id, CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
      FROM db JOIN lr USING (bucket) GROUP BY db.doc_id),
    j AS MATERIALIZED (
      SELECT n.doc_id, n.lang, n.n_tok, s.dsir_weight_u,
             CAST(concat('0x', substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM ntok n JOIN dsir s USING (doc_id)),
    k2 AS (
      SELECT *, CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
      FROM j),
    k3 AS (
      SELECT *, dsir_weight_u
             - CAST(floor(ln(CAST(greatest(e_unat, 1) AS DOUBLE) / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS key_u
      FROM k2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY key_u DESC, doc_id) AS rn
      FROM k3),
    sampled AS MATERIALIZED (SELECT doc_id, lang, n_tok, dsir_weight_u,
                       CAST(rn AS INT) AS sample_rank
                FROM r WHERE rn <= 25 AND lang IS NOT NULL),
    tp AS MATERIALIZED (
      SELECT lang AS shard, doc_id, n_tok,
             CAST(row_number() OVER (PARTITION BY lang
                ORDER BY n_tok DESC, doc_id) AS INT) AS pos
      FROM sampled),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after,
             [{'b': CAST(0 AS BIGINT), 'f': n_tok}] AS open,
             CAST(1 AS BIGINT) AS nbins
      FROM tp WHERE pos = 1
      UNION ALL
      SELECT tp.shard, tp.pos, tp.doc_id, tp.n_tok,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.b ELSE rec.nbins END,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.f + tp.n_tok ELSE tp.n_tok END,
             CASE WHEN h.hit IS NOT NULL
                  THEN list_transform(rec.open, x ->
                    CASE WHEN x.b = h.hit.b THEN {'b': x.b, 'f': x.f + tp.n_tok} ELSE x END)
                  ELSE list_append(
                    CASE WHEN len(rec.open) >= 4 THEN rec.open[2:] ELSE rec.open END,
                    {'b': rec.nbins, 'f': tp.n_tok})
             END,
             CASE WHEN h.hit IS NOT NULL THEN rec.nbins ELSE rec.nbins + 1 END
      FROM rec
      JOIN tp ON tp.shard = rec.shard AND tp.pos = rec.pos + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(rec.open, x -> x.f + tp.n_tok <= 512)[1] AS hit) h)
    SELECT t.doc_id, t.lang, 'gated' AS disposition,
           CAST(NULL AS BIGINT) AS dsir_weight_u,
           CAST(NULL AS INT) AS sample_rank,
           CAST(NULL AS BIGINT) AS bin_idx,
           CAST(NULL AS BIGINT) AS n_tok
    FROM t WHERE t.doc_id NOT IN (SELECT doc_id FROM gatepass)
    UNION ALL
    SELECT n.doc_id, n.lang, 'not_sampled', s.dsir_weight_u,
           CAST(NULL AS INT), CAST(NULL AS BIGINT), n.n_tok
    FROM ntok n JOIN dsir s USING (doc_id)
    WHERE n.doc_id NOT IN (SELECT doc_id FROM sampled)
    UNION ALL
    SELECT sa.doc_id, sa.lang, 'packed', sa.dsir_weight_u,
           sa.sample_rank, rec.bin_idx, sa.n_tok
    FROM sampled sa JOIN rec ON rec.doc_id = sa.doc_id
    ORDER BY doc_id"""))

  /** Hashed-gram multinomial Naive Bayes under the oracle (round 17,
    * [[CorpusOps.nbClassify]]): the fastText-style domain/quality
    * router — per-class hashed unigram+bigram distributions trained
    * on the doc_id % 7 == 0 labeled slice (label = lang), every other
    * document scored argmax_c [ln P(c) + Σ ln P(bucket|c)] in integer
    * micro-nats with add-1 smoothing over the 64-bucket support. The
    * oracle rebuilds the class-conditional table, the priors, and the
    * exact BIGINT scores; predicted class, winning score AND the
    * runner-up margin (the gate-threshold signal) all hash-compare,
    * plus the truth label and a correctness bit for accuracy audits.
    */
  private val q229 = Q("q229_nb_classifier", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    CorpusOps.nbClassify(docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        col("doc_id"), col("text"), col("lang"), dim = 64)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("correct", (col("predicted") === col("lang")).cast("int"))
      .select(col("doc_id"), col("lang"), col("predicted"), col("score_u"),
        col("margin_u"), col("correct"))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM t),
    g AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    cc AS (SELECT lang AS label, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g WHERE doc_id % 7 = 0 GROUP BY 1, 2),
    ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cc GROUP BY 1),
    lbls AS (SELECT DISTINCT lang AS label FROM t WHERE doc_id % 7 = 0),
    grid AS (SELECT l.label, b.bucket FROM lbls l
             CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b),
    lp AS (
      SELECT grid.label, grid.bucket,
             CAST(floor(ln((coalesce(cc.cnt, 0) + 1) * 1.0 /
               (coalesce(ct.tot, 0) + 64)) * 1000000 + 0.5) AS BIGINT) AS lp_u
      FROM grid LEFT JOIN cc ON cc.label = grid.label AND cc.bucket = grid.bucket
                LEFT JOIN ct ON ct.label = grid.label),
    dc AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS nd
           FROM t WHERE doc_id % 7 = 0 GROUP BY 1),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t WHERE doc_id % 7 = 0),
    pr AS (SELECT label,
                  CAST(floor(ln(nd * 1.0 / nt.n) * 1000000 + 0.5) AS BIGINT) AS prior_u
           FROM dc, nt),
    db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
    sc AS (SELECT db.doc_id, lp.label, CAST(sum(db.cnt * lp.lp_u) AS BIGINT) AS like_u
           FROM db JOIN lp USING (bucket) GROUP BY 1, 2),
    ss AS (SELECT sc.doc_id, sc.label, sc.like_u + pr.prior_u AS score_u
           FROM sc JOIN pr USING (label)),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rn,
                 lead(score_u) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS nxt
          FROM ss)
    SELECT r.doc_id, t.lang, r.label AS predicted, r.score_u,
           coalesce(r.score_u - r.nxt, 0) AS margin_u,
           CAST(r.label = t.lang AS INT) AS correct
    FROM r JOIN t ON t.doc_id = r.doc_id
    WHERE r.rn = 1 ORDER BY r.doc_id"""))

  /** THE SPINE WITH FUZZY DECONTAMINATION COMPOSED IN (round 17 — the
    * q205 -> q207 move applied to the round's own composition): q227's
    * gate -> scrub -> DSIR -> resample -> pack with
    * [[graft.operators.Dedup.fuzzyDecontaminate]] inserted between
    * scrub and DSIR, so paraphrased benchmark leakage leaves the
    * pipeline BEFORE it can shape the importance weights that would
    * select it. Both engines plant the benchmark set as 7-periodic
    * token-drop paraphrases of the SCRUBBED doc_id % 83 == 0 docs (no
    * 8-gram survives a 6-token run — this leakage is invisible to the
    * exact gate by construction); a gate-surviving source lands
    * `contaminated`, a gate-failed one stays `gated` — still exactly
    * one disposition per doc. The oracle is q227's CTE stack with
    * q230's banding/verify fragments spliced in (8 single-row bands,
    * tau 0.4 on the quantized Jaccard), the DSIR distributions
    * rebuilt over the CLEAN keepers only.
    */
  private val q231 = Q("q231_spine_decontam", (s, dir) => {
    import graft.operators.TextAnalysis
    val withPii = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"), concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
    val scrub83 = TextAnalysis.scrubPii(
      withPii.filter(col("doc_id") % 83 === 0), col("doc_id"), col("text"))
    val toksE = split(col("clean_text"), " ")
    val evalDocs = scrub83.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      array_join(transform(
        filter(sequence(lit(1), size(toksE)), i => i % 7 =!= 4),
        i => element_at(toksE, i)), " ").as("text"))
    CorpusOps.pretrainingPipeline(withPii,
        minWords = 20L, maxWords = 95L, minMeanLen = 4.5, maxMeanLen = 5.6,
        stopWords = Seq("the", "a"), minStopHits = 1L, maxTop2Frac = 0.12,
        targetPred = col("lang") === "en", dim = 64, samplesPerLang = 25,
        packBudget = 512L, maxOpen = 4, evalDocs = Some(evalDocs),
        fuzzyTau = 0.4, fuzzyRowsPerBand = 1)
      .orderBy(col("doc_id"))
  }, Some(raw"""
    WITH RECURSIVE
    p AS (
      SELECT doc_id, lang,
             text || ' reach user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or call 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    t AS MATERIALIZED (SELECT doc_id, lang, t0, len(t0) AS n_chars,
                 string_split(t0, ' ') AS toks FROM p),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor(CAST(list_reduce(list_transform(toks, s -> CAST(len(s) AS BIGINT)),
                       (a, b) -> a + b) AS DOUBLE) / len(toks) * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
             CAST(len(list_filter(toks, s -> s IN ('the', 'a'))) AS BIGINT) AS stop_hits
      FROM t),
    g2 AS (
      SELECT t.doc_id, t.n_chars, array_to_string(t.toks[r.i+1:r.i+2], ' ') AS gram
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.toks) - 1)) AS i) r),
    c2 AS (
      SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g2 GROUP BY doc_id, n_chars, gram),
    top AS (
      SELECT doc_id,
             floor(CAST(cnt * len(gram) AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000.0 AS top2_frac
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, gram) AS rn FROM c2)
      WHERE rn = 1),
    gatepass AS (
      SELECT w.doc_id FROM w JOIN top USING (doc_id)
      WHERE w.n_words BETWEEN 20 AND 95
        AND w.mean_word_len BETWEEN 4.5 AND 5.6
        AND w.stop_hits >= 1 AND top.top2_frac <= 0.12),
    scrub AS MATERIALIZED (
      SELECT t.doc_id, t.lang,
             regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(
                 regexp_replace(t.t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($$|[^0-9-])', '\1[PHONE]\3', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($$|[^0-9-])', '\1[PHONE]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($$|[^0-9-])', '\1[SSN]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($$|[^0-9-])', '\1[SSN]\3', 'g') AS clean
      FROM t JOIN gatepass USING (doc_id)),
    scrub83 AS MATERIALIZED (
      SELECT t.doc_id,
             regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(
                 regexp_replace(t.t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($$|[^0-9-])', '\1[PHONE]\3', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($$|[^0-9-])', '\1[PHONE]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($$|[^0-9-])', '\1[SSN]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($$|[^0-9-])', '\1[SSN]\3', 'g') AS clean
      FROM t WHERE t.doc_id % 83 = 0),
    evp AS MATERIALIZED (
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(list_transform(
               list_filter(range(1, len(string_split(clean, ' ')) + 1),
                 i -> i % 7 <> 4),
               i -> string_split(clean, ' ')[i]), ' ') AS text
      FROM scrub83),
    dsh AS (
      SELECT doc_id, text FROM evp
      UNION ALL SELECT doc_id, clean AS text FROM scrub),
    shx AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        i -> concat_ws(' ', string_split(text, ' ')[i],
          string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS s
      FROM dsh),
    hsx AS MATERIALIZED (
      SELECT doc_id, s,
             list_distinct(list_transform(s,
               g -> CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT))) AS hs
      FROM shx),
    sgx AS MATERIALIZED (
      SELECT doc_id, ${(0 until 8).map(graft.queriesExt.DedupQueries.sigSql).mkString(", ")}
      FROM hsx),
    bnx AS MATERIALIZED (
      SELECT doc_id, b.band_idx,
             concat_ws(':', CAST(b.band_idx AS VARCHAR),
               CASE b.band_idx
                 WHEN 0 THEN sig0 WHEN 1 THEN sig1 WHEN 2 THEN sig2
                 WHEN 3 THEN sig3 WHEN 4 THEN sig4 WHEN 5 THEN sig5
                 WHEN 6 THEN sig6 ELSE sig7 END) AS band_key
      FROM sgx, (SELECT unnest(range(8)) AS band_idx) b),
    cnx AS (
      SELECT DISTINCT a.doc_id AS doc_id, e.doc_id AS eval_id
      FROM bnx a JOIN bnx e USING (band_idx, band_key)
      WHERE a.doc_id < 10000000 AND e.doc_id >= 10000000),
    vfx AS (
      SELECT cnx.doc_id,
             floor(CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) /
                   len(list_distinct(list_concat(s1.hs, s2.hs))) * 1000000 + 0.5)
               / 1000000.0 AS jac
      FROM cnx JOIN hsx s1 ON s1.doc_id = cnx.doc_id
               JOIN hsx s2 ON s2.doc_id = cnx.eval_id),
    flagged AS (SELECT DISTINCT doc_id FROM vfx WHERE jac >= 0.4),
    cleank AS MATERIALIZED (
      SELECT * FROM scrub
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
    ntokAll AS MATERIALIZED (
      SELECT doc_id, lang, clean,
             CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok
      FROM scrub),
    ntok AS MATERIALIZED (
      SELECT doc_id, lang, clean,
             CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok
      FROM cleank),
    ktoks AS (SELECT doc_id, lang, string_split(clean, ' ') AS toks FROM cleank),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM ktoks),
    g AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket),
    dsir AS MATERIALIZED (
      SELECT db.doc_id, CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
      FROM db JOIN lr USING (bucket) GROUP BY db.doc_id),
    j AS MATERIALIZED (
      SELECT n.doc_id, n.lang, n.n_tok, s.dsir_weight_u,
             CAST(concat('0x', substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM ntok n JOIN dsir s USING (doc_id)),
    k2 AS (
      SELECT *, CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
      FROM j),
    k3 AS (
      SELECT *, dsir_weight_u
             - CAST(floor(ln(CAST(greatest(e_unat, 1) AS DOUBLE) / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS key_u
      FROM k2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY key_u DESC, doc_id) AS rn
      FROM k3),
    sampled AS MATERIALIZED (SELECT doc_id, lang, n_tok, dsir_weight_u,
                       CAST(rn AS INT) AS sample_rank
                FROM r WHERE rn <= 25 AND lang IS NOT NULL),
    tp AS MATERIALIZED (
      SELECT lang AS shard, doc_id, n_tok,
             CAST(row_number() OVER (PARTITION BY lang
                ORDER BY n_tok DESC, doc_id) AS INT) AS pos
      FROM sampled),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after,
             [{'b': CAST(0 AS BIGINT), 'f': n_tok}] AS open,
             CAST(1 AS BIGINT) AS nbins
      FROM tp WHERE pos = 1
      UNION ALL
      SELECT tp.shard, tp.pos, tp.doc_id, tp.n_tok,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.b ELSE rec.nbins END,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.f + tp.n_tok ELSE tp.n_tok END,
             CASE WHEN h.hit IS NOT NULL
                  THEN list_transform(rec.open, x ->
                    CASE WHEN x.b = h.hit.b THEN {'b': x.b, 'f': x.f + tp.n_tok} ELSE x END)
                  ELSE list_append(
                    CASE WHEN len(rec.open) >= 4 THEN rec.open[2:] ELSE rec.open END,
                    {'b': rec.nbins, 'f': tp.n_tok})
             END,
             CASE WHEN h.hit IS NOT NULL THEN rec.nbins ELSE rec.nbins + 1 END
      FROM rec
      JOIN tp ON tp.shard = rec.shard AND tp.pos = rec.pos + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(rec.open, x -> x.f + tp.n_tok <= 512)[1] AS hit) h)
    SELECT t.doc_id, t.lang, 'gated' AS disposition,
           CAST(NULL AS BIGINT) AS dsir_weight_u,
           CAST(NULL AS INT) AS sample_rank,
           CAST(NULL AS BIGINT) AS bin_idx,
           CAST(NULL AS BIGINT) AS n_tok
    FROM t WHERE t.doc_id NOT IN (SELECT doc_id FROM gatepass)
    UNION ALL
    SELECT na.doc_id, na.lang, 'contaminated',
           CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
           na.n_tok
    FROM ntokAll na JOIN flagged USING (doc_id)
    UNION ALL
    SELECT n.doc_id, n.lang, 'not_sampled', s.dsir_weight_u,
           CAST(NULL AS INT), CAST(NULL AS BIGINT), n.n_tok
    FROM ntok n JOIN dsir s USING (doc_id)
    WHERE n.doc_id NOT IN (SELECT doc_id FROM sampled)
    UNION ALL
    SELECT sa.doc_id, sa.lang, 'packed', sa.dsir_weight_u,
           sa.sample_rank, rec.bin_idx, sa.n_tok
    FROM sampled sa JOIN rec ON rec.doc_id = sa.doc_id
    ORDER BY doc_id"""))

  /** THE SPINE WITH NB DOMAIN ROUTING COMPOSED IN (round 18 — the
    * q205 -> q207 move applied to q229): q227's gate -> scrub -> DSIR
    * -> resample -> pack with [[CorpusOps.nbClassify]]'s model spliced
    * between the weights and the resample, so the per-language Gumbel
    * quota becomes a per-(lang, domain) quota — the fastText-style
    * production pattern where the router feeds the mixing step. The
    * model trains on the doc_id % 7 == 0 slice (label = `source`, the
    * planted-PII text) and routes every keeper on its SCRUBBED text;
    * featurization is the SAME hashed unigram+bigram stream DSIR uses
    * (dim 64), so the oracle's scoring join reads the `db` counts the
    * DSIR fold already built. Exactly-one-disposition preserved; the
    * output gains a trailing `domain` column (null on gated rows),
    * hash-compared like every other.
    */
  private val q233 = Q("q233_spine_domains", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    def planted(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
      c, lit(" reach user"), col("doc_id").cast("string"),
      lit("@example.com or call 415-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val withPii = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"), planted(col("text")).as("text"))
    val train = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("doc_id") % 7 === 0)
      .select(col("doc_id"), planted(col("text")).as("text"),
        col("source").as("label"))
    CorpusOps.pretrainingPipeline(withPii,
        minWords = 20L, maxWords = 95L, minMeanLen = 4.5, maxMeanLen = 5.6,
        stopWords = Seq("the", "a"), minStopHits = 1L, maxTop2Frac = 0.12,
        targetPred = col("lang") === "en", dim = 64, samplesPerLang = 3,
        packBudget = 512L, maxOpen = 4,
        domainTrain = Some(train))
      .orderBy(col("doc_id"))
  }, Some("""
    WITH RECURSIVE
    p AS (
      SELECT doc_id, lang, source,
             text || ' reach user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or call 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    t AS MATERIALIZED (SELECT doc_id, lang, source, t0, len(t0) AS n_chars,
                 string_split(t0, ' ') AS toks FROM p),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor(CAST(list_reduce(list_transform(toks, s -> CAST(len(s) AS BIGINT)),
                       (a, b) -> a + b) AS DOUBLE) / len(toks) * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
             CAST(len(list_filter(toks, s -> s IN ('the', 'a'))) AS BIGINT) AS stop_hits
      FROM t),
    g2 AS (
      SELECT t.doc_id, t.n_chars, array_to_string(t.toks[r.i+1:r.i+2], ' ') AS gram
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.toks) - 1)) AS i) r),
    c2 AS (
      SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g2 GROUP BY doc_id, n_chars, gram),
    top AS (
      SELECT doc_id,
             floor(CAST(cnt * len(gram) AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000.0 AS top2_frac
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, gram) AS rn FROM c2)
      WHERE rn = 1),
    gatepass AS (
      SELECT w.doc_id FROM w JOIN top USING (doc_id)
      WHERE w.n_words BETWEEN 20 AND 95
        AND w.mean_word_len BETWEEN 4.5 AND 5.6
        AND w.stop_hits >= 1 AND top.top2_frac <= 0.12),
    scrub AS MATERIALIZED (
      SELECT t.doc_id, t.lang,
             regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(
                 regexp_replace(t.t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($|[^0-9-])', '\1[PHONE]\3', 'g'),
                 '(^|[^0-9-])(\d{3}-\d{3}-\d{4})($|[^0-9-])', '\1[PHONE]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])', '\1[SSN]\3', 'g'),
               '(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])', '\1[SSN]\3', 'g') AS clean
      FROM t JOIN gatepass USING (doc_id)),
    ntok AS MATERIALIZED (
      SELECT doc_id, lang, clean,
             CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok
      FROM scrub),
    ktoks AS (SELECT doc_id, lang, string_split(clean, ' ') AS toks FROM scrub),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM ktoks),
    g AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket),
    dsir AS MATERIALIZED (
      SELECT db.doc_id, CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
      FROM db JOIN lr USING (bucket) GROUP BY db.doc_id),
    getr AS (
      SELECT doc_id, source AS label, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM t WHERE doc_id % 7 = 0),
    gtr AS (
      SELECT doc_id, label,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM getr),
    cc AS (SELECT label, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM gtr GROUP BY 1, 2),
    ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cc GROUP BY 1),
    lbls AS (SELECT DISTINCT source AS label FROM t WHERE doc_id % 7 = 0),
    grid AS (SELECT l.label, b.bucket FROM lbls l
             CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b),
    lp AS MATERIALIZED (
      SELECT grid.label, grid.bucket,
             CAST(floor(ln((coalesce(cc.cnt, 0) + 1) * 1.0 /
               (coalesce(ct.tot, 0) + 64)) * 1000000 + 0.5) AS BIGINT) AS lp_u
      FROM grid LEFT JOIN cc ON cc.label = grid.label AND cc.bucket = grid.bucket
                LEFT JOIN ct ON ct.label = grid.label),
    dc AS (SELECT source AS label, CAST(count(*) AS BIGINT) AS nd
           FROM t WHERE doc_id % 7 = 0 GROUP BY 1),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t WHERE doc_id % 7 = 0),
    pr AS (SELECT label,
                  CAST(floor(ln(nd * 1.0 / nt.n) * 1000000 + 0.5) AS BIGINT) AS prior_u
           FROM dc, nt),
    sc AS (SELECT db.doc_id, lp.label, CAST(sum(db.cnt * lp.lp_u) AS BIGINT) AS like_u
           FROM db JOIN lp USING (bucket) GROUP BY 1, 2),
    ss AS (SELECT sc.doc_id, sc.label, sc.like_u + pr.prior_u AS score_u
           FROM sc JOIN pr USING (label)),
    rte AS MATERIALIZED (SELECT doc_id, label AS domain FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                         ORDER BY score_u DESC, label) AS rn FROM ss)
            WHERE rn = 1),
    j AS MATERIALIZED (
      SELECT n.doc_id, n.lang, n.n_tok, s.dsir_weight_u,
             coalesce(rte.domain, 'unrouted') AS domain,
             CAST(concat('0x', substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM ntok n JOIN dsir s USING (doc_id)
                  LEFT JOIN rte ON rte.doc_id = n.doc_id),
    k2 AS (
      SELECT *, CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
      FROM j),
    k3 AS (
      SELECT *, dsir_weight_u
             - CAST(floor(ln(CAST(greatest(e_unat, 1) AS DOUBLE) / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS key_u
      FROM k2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang, domain ORDER BY key_u DESC, doc_id) AS rn
      FROM k3),
    sampled AS MATERIALIZED (SELECT doc_id, lang, domain, n_tok, dsir_weight_u,
                       CAST(rn AS INT) AS sample_rank
                FROM r WHERE rn <= 3 AND lang IS NOT NULL),
    tp AS MATERIALIZED (
      SELECT lang AS shard, doc_id, n_tok,
             CAST(row_number() OVER (PARTITION BY lang
                ORDER BY n_tok DESC, doc_id) AS INT) AS pos
      FROM sampled),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after,
             [{'b': CAST(0 AS BIGINT), 'f': n_tok}] AS open,
             CAST(1 AS BIGINT) AS nbins
      FROM tp WHERE pos = 1
      UNION ALL
      SELECT tp.shard, tp.pos, tp.doc_id, tp.n_tok,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.b ELSE rec.nbins END,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.f + tp.n_tok ELSE tp.n_tok END,
             CASE WHEN h.hit IS NOT NULL
                  THEN list_transform(rec.open, x ->
                    CASE WHEN x.b = h.hit.b THEN {'b': x.b, 'f': x.f + tp.n_tok} ELSE x END)
                  ELSE list_append(
                    CASE WHEN len(rec.open) >= 4 THEN rec.open[2:] ELSE rec.open END,
                    {'b': rec.nbins, 'f': tp.n_tok})
             END,
             CASE WHEN h.hit IS NOT NULL THEN rec.nbins ELSE rec.nbins + 1 END
      FROM rec
      JOIN tp ON tp.shard = rec.shard AND tp.pos = rec.pos + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(rec.open, x -> x.f + tp.n_tok <= 512)[1] AS hit) h)
    SELECT t.doc_id, t.lang, 'gated' AS disposition,
           CAST(NULL AS BIGINT) AS dsir_weight_u,
           CAST(NULL AS INT) AS sample_rank,
           CAST(NULL AS BIGINT) AS bin_idx,
           CAST(NULL AS BIGINT) AS n_tok,
           CAST(NULL AS VARCHAR) AS domain
    FROM t WHERE t.doc_id NOT IN (SELECT doc_id FROM gatepass)
    UNION ALL
    SELECT jj.doc_id, jj.lang, 'not_sampled', jj.dsir_weight_u,
           CAST(NULL AS INT), CAST(NULL AS BIGINT), jj.n_tok, jj.domain
    FROM j jj
    WHERE jj.doc_id NOT IN (SELECT doc_id FROM sampled)
    UNION ALL
    SELECT sa.doc_id, sa.lang, 'packed', sa.dsir_weight_u,
           sa.sample_rank, rec.bin_idx, sa.n_tok, sa.domain
    FROM sampled sa JOIN rec ON rec.doc_id = sa.doc_id
    ORDER BY doc_id"""))

  /** THE SPINE WITH THE C4 PRE-CLEAN LEG (round 18 — Raffel et al.
    * 2020 composed in front of the round-17 spine; the q205 -> q207
    * discipline yet again: the COMPOSITION is oracle-checked, not
    * just [[graft.operators.TextAnalysis.c4Clean]]'s q235 fragment).
    * The corpus has no line structure, so both engines build q235's
    * deterministic page frame (5-token lines, punctuation on the
    * (doc_id + line) % 4 grid, all four traps on their doc_id
    * strata), then: C4 line+page rules -> Gopher gate ON THE CLEANED
    * TEXT -> scrub (identity here: the pages carry no PII — the
    * stage still runs) -> DSIR -> per-language Gumbel resample ->
    * FFD packing. Ordering is load-bearing: the gate's word-count /
    * repetition signals score the text that will actually be trained
    * on, and a boilerplate page can never shape the DSIR
    * distributions. Every page lands EXACTLY ONE of four
    * dispositions (boilerplate / gated / not_sampled / packed); the
    * newline-flatten seam (clean lines re-enter the token-stream
    * stages space-joined) is exactly the kind of interop detail this
    * row exists to pin.
    */
  private val q236 = Q("q236_spine_c4", (s, dir) => {
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
    CorpusOps.pretrainingPipeline(
        docs.select(col("doc_id"), col("lang"), page.as("text")),
        minWords = 28L, maxWords = 72L, minMeanLen = 4.45, maxMeanLen = 5.0,
        stopWords = Seq("the", "a"), minStopHits = 1L, maxTop2Frac = 0.09,
        targetPred = col("lang") === "en", dim = 64, samplesPerLang = 20,
        packBudget = 512L, maxOpen = 4,
        c4 = Some(graft.operators.TextAnalysis.C4Policy(Seq("frak"),
          minWordsPerLine = 3, minKeptLines = 5)))
      .orderBy(col("doc_id"))
  }, Some("""    WITH RECURSIVE
    t0 AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    lx AS (
      SELECT doc_id, lang, toks, unnest(range(0, (len(toks) + 4) // 5)) AS i FROM t0),
    ll AS (
      SELECT doc_id, lang, i,
             array_to_string(toks[i*5+1 : i*5+5], ' ') ||
             (['.', '!', '?', ''])[CAST((doc_id + i) % 4 AS INT) + 1] AS line
      FROM lx),
    pg AS (
      SELECT doc_id, lang, string_agg(line, chr(10) ORDER BY i) AS body
      FROM ll GROUP BY doc_id, lang),
    page AS (
      SELECT doc_id, lang, body ||
        CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'click here to enable javascript now.' ELSE '' END ||
        CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END ||
        CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'well frak that plan entirely.' ELSE '' END AS text
      FROM pg),
    cf AS (
      SELECT doc_id, lang, text,
             list_filter(string_split(text, chr(10)), ln ->
               substr(ln, len(ln), 1) IN ('.', '!', '?', '"')
               AND len(string_split(ln, ' ')) >= 3
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM page),
    c4 AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(contains(lower(text), 'lorem ipsum') = false
                  AND contains(text, '{') = false
                  AND NOT list_has_any(string_split(replace(lower(text), chr(10), ' '), ' '), ['frak'])
                  AND len(kept) >= 5 AS INT) AS c4keep,
             replace(array_to_string(kept, chr(10)), chr(10), ' ') AS clean
      FROM cf),
    t AS MATERIALIZED (SELECT doc_id, lang, clean, len(clean) AS n_chars,
                 string_split(clean, ' ') AS toks
          FROM c4 WHERE c4keep = 1),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor(CAST(list_reduce(list_transform(toks, s -> CAST(len(s) AS BIGINT)),
                       (a, b) -> a + b) AS DOUBLE) / len(toks) * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
             CAST(len(list_filter(toks, s -> s IN ('the', 'a'))) AS BIGINT) AS stop_hits
      FROM t),
    g2 AS (
      SELECT t.doc_id, t.n_chars, array_to_string(t.toks[r.i+1:r.i+2], ' ') AS gram
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.toks) - 1)) AS i) r),
    c2 AS (
      SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g2 GROUP BY doc_id, n_chars, gram),
    top AS (
      SELECT doc_id,
             floor(CAST(cnt * len(gram) AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000.0 AS top2_frac
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, gram) AS rn FROM c2)
      WHERE rn = 1),
    gatepass AS (
      SELECT w.doc_id FROM w JOIN top USING (doc_id)
      WHERE w.n_words BETWEEN 28 AND 72
        AND w.mean_word_len BETWEEN 4.45 AND 5.0
        AND w.stop_hits >= 1 AND top.top2_frac <= 0.09),
    ntok AS MATERIALIZED (
      SELECT t.doc_id, t.lang, t.clean,
             CAST(len(t.toks) AS BIGINT) AS n_tok, t.toks
      FROM t JOIN gatepass USING (doc_id)),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM ntok),
    g AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket),
    dsir AS MATERIALIZED (
      SELECT db.doc_id, CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
      FROM db JOIN lr USING (bucket) GROUP BY db.doc_id),
    j AS MATERIALIZED (
      SELECT n.doc_id, n.lang, n.n_tok, s.dsir_weight_u,
             CAST(concat('0x', substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM ntok n JOIN dsir s USING (doc_id)),
    k2 AS (
      SELECT *, CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
      FROM j),
    k3 AS (
      SELECT *, dsir_weight_u
             - CAST(floor(ln(CAST(greatest(e_unat, 1) AS DOUBLE) / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS key_u
      FROM k2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY key_u DESC, doc_id) AS rn
      FROM k3),
    sampled AS MATERIALIZED (SELECT doc_id, lang, n_tok, dsir_weight_u,
                       CAST(rn AS INT) AS sample_rank
                FROM r WHERE rn <= 20 AND lang IS NOT NULL),
    tp AS MATERIALIZED (
      SELECT lang AS shard, doc_id, n_tok,
             CAST(row_number() OVER (PARTITION BY lang
                ORDER BY n_tok DESC, doc_id) AS INT) AS pos
      FROM sampled),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after,
             [{'b': CAST(0 AS BIGINT), 'f': n_tok}] AS open,
             CAST(1 AS BIGINT) AS nbins
      FROM tp WHERE pos = 1
      UNION ALL
      SELECT tp.shard, tp.pos, tp.doc_id, tp.n_tok,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.b ELSE rec.nbins END,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.f + tp.n_tok ELSE tp.n_tok END,
             CASE WHEN h.hit IS NOT NULL
                  THEN list_transform(rec.open, x ->
                    CASE WHEN x.b = h.hit.b THEN {'b': x.b, 'f': x.f + tp.n_tok} ELSE x END)
                  ELSE list_append(
                    CASE WHEN len(rec.open) >= 4 THEN rec.open[2:] ELSE rec.open END,
                    {'b': rec.nbins, 'f': tp.n_tok})
             END,
             CASE WHEN h.hit IS NOT NULL THEN rec.nbins ELSE rec.nbins + 1 END
      FROM rec
      JOIN tp ON tp.shard = rec.shard AND tp.pos = rec.pos + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(rec.open, x -> x.f + tp.n_tok <= 512)[1] AS hit) h)
    SELECT c4.doc_id, c4.lang, 'boilerplate' AS disposition,
           CAST(NULL AS BIGINT) AS dsir_weight_u,
           CAST(NULL AS INT) AS sample_rank,
           CAST(NULL AS BIGINT) AS bin_idx,
           CAST(NULL AS BIGINT) AS n_tok
    FROM c4 WHERE c4.c4keep = 0
    UNION ALL
    SELECT t.doc_id, t.lang, 'gated',
           CAST(NULL AS BIGINT), CAST(NULL AS INT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM t WHERE t.doc_id NOT IN (SELECT doc_id FROM gatepass)
    UNION ALL
    SELECT n.doc_id, n.lang, 'not_sampled', s.dsir_weight_u,
           CAST(NULL AS INT), CAST(NULL AS BIGINT), n.n_tok
    FROM ntok n JOIN dsir s USING (doc_id)
    WHERE n.doc_id NOT IN (SELECT doc_id FROM sampled)
    UNION ALL
    SELECT sa.doc_id, sa.lang, 'packed', sa.dsir_weight_u,
           sa.sample_rank, rec.bin_idx, sa.n_tok
    FROM sampled sa JOIN rec ON rec.doc_id = sa.doc_id
    ORDER BY doc_id"""))

  /** THE FULL SPINE — every leg at once (round 18): C4 pre-clean ->
    * Gopher gate on the CLEANED text -> scrub (identity: the pages
    * carry no PII; the stage still runs) -> fuzzy decontamination
    * (q231's paraphrase construction, built from the C4-CLEANED
    * flattened text of the %83 pages) -> DSIR -> NB domain routing
    * (q233's labeled %7 slice, trained on the raw page text) ->
    * Gumbel resample per (lang, domain) cell -> FFD pack. q236,
    * q231 and q233 each prove one leg against the spine core; this
    * row pins that the legs COMPOSE — five dispositions
    * (boilerplate / gated / contaminated / not_sampled / packed) in
    * one oracle-checked plan, exactly one per page, domain null on
    * every row that never reaches the router. The oracle is the
    * three splices assembled; its shared mid-stack CTEs are marked
    * MATERIALIZED (DuckDB re-evaluates plain CTEs per consumer — the
    * five-way disposition union plus the FFD recursion re-executed
    * the whole stack, 180 s -> 1.0 s at sf0.01 measured; results
    * identical, evaluation strategy only). MinHash band constants
    * inlined from Dedup.MINHASH_A/B/P.
    */
  private val q239 = Q("q239_spine_full", (s, dir) => {
    import graft.operators.TextAnalysis
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
    val pages = docs.select(col("doc_id"), col("lang"), col("source"), page.as("text"))
    val policy = TextAnalysis.C4Policy(Seq("frak"),
      minWordsPerLine = 3, minKeptLines = 5)
    val cleaned83 = TextAnalysis.c4Clean(pages.filter(col("doc_id") % 83 === 0),
        col("doc_id"), col("text"), policy)
      .select(col("doc_id"), translate(col("clean_text"), "\n", " ").as("ctext"))
    val toksE = split(col("ctext"), " ")
    val evalDocs = cleaned83.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      array_join(transform(
        filter(sequence(lit(1), size(toksE)), i => i % 7 =!= 4),
        i => element_at(toksE, i)), " ").as("text"))
    val train = pages.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"), col("source").as("label"))
    CorpusOps.pretrainingPipeline(
        pages.select(col("doc_id"), col("lang"), col("text")),
        minWords = 28L, maxWords = 72L, minMeanLen = 4.45, maxMeanLen = 5.0,
        stopWords = Seq("the", "a"), minStopHits = 1L, maxTop2Frac = 0.09,
        targetPred = col("lang") === "en", dim = 64, samplesPerLang = 3,
        packBudget = 512L, maxOpen = 4,
        evalDocs = Some(evalDocs), fuzzyTau = 0.4, fuzzyRowsPerBand = 1,
        domainTrain = Some(train), c4 = Some(policy))
      .orderBy(col("doc_id"))
  }, Some("""    WITH RECURSIVE
    t0 AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS rtoks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    lx AS (
      SELECT doc_id, lang, source, rtoks, unnest(range(0, (len(rtoks) + 4) // 5)) AS i FROM t0),
    ll AS (
      SELECT doc_id, lang, source, i,
             array_to_string(rtoks[i*5+1 : i*5+5], ' ') ||
             (['.', '!', '?', ''])[CAST((doc_id + i) % 4 AS INT) + 1] AS line
      FROM lx),
    pg AS (
      SELECT doc_id, lang, source, string_agg(line, chr(10) ORDER BY i) AS body
      FROM ll GROUP BY doc_id, lang, source),
    page AS (
      SELECT doc_id, lang, source, body ||
        CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'click here to enable javascript now.' ELSE '' END ||
        CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END ||
        CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'well frak that plan entirely.' ELSE '' END AS ptext
      FROM pg),
    cf AS (
      SELECT doc_id, lang, source, ptext,
             list_filter(string_split(ptext, chr(10)), ln ->
               substr(ln, len(ln), 1) IN ('.', '!', '?', '"')
               AND len(string_split(ln, ' ')) >= 3
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM page),
    c4 AS MATERIALIZED (
      SELECT doc_id, lang, source, ptext,
             CAST(contains(lower(ptext), 'lorem ipsum') = false
                  AND contains(ptext, '{') = false
                  AND NOT list_has_any(string_split(replace(lower(ptext), chr(10), ' '), ' '), ['frak'])
                  AND len(kept) >= 5 AS INT) AS c4keep,
             replace(array_to_string(kept, chr(10)), chr(10), ' ') AS clean
      FROM cf),
    t AS MATERIALIZED (SELECT doc_id, lang, source, clean, len(clean) AS n_chars,
                 string_split(clean, ' ') AS toks
          FROM c4 WHERE c4keep = 1),
    w AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             floor(CAST(list_reduce(list_transform(toks, s -> CAST(len(s) AS BIGINT)),
                       (a, b) -> a + b) AS DOUBLE) / len(toks) * 1000000 + 0.5) / 1000000.0 AS mean_word_len,
             CAST(len(list_filter(toks, s -> s IN ('the', 'a'))) AS BIGINT) AS stop_hits
      FROM t),
    g2 AS (
      SELECT t.doc_id, t.n_chars, array_to_string(t.toks[r.i+1:r.i+2], ' ') AS gram
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(0, len(t.toks) - 1)) AS i) r),
    c2 AS (
      SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM g2 GROUP BY doc_id, n_chars, gram),
    top AS (
      SELECT doc_id,
             floor(CAST(cnt * len(gram) AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000.0 AS top2_frac
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, gram) AS rn FROM c2)
      WHERE rn = 1),
    gatepass AS (
      SELECT w.doc_id FROM w JOIN top USING (doc_id)
      WHERE w.n_words BETWEEN 28 AND 72
        AND w.mean_word_len BETWEEN 4.45 AND 5.0
        AND w.stop_hits >= 1 AND top.top2_frac <= 0.09),
    scrub AS MATERIALIZED (
      SELECT t.doc_id, t.lang, t.clean FROM t JOIN gatepass USING (doc_id)),
    evp AS (
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(list_transform(
               list_filter(range(1, len(string_split(clean, ' ')) + 1),
                 i -> i % 7 <> 4),
               i -> string_split(clean, ' ')[i]), ' ') AS text
      FROM c4 WHERE doc_id % 83 = 0),
    dsh AS (
      SELECT doc_id, text FROM evp
      UNION ALL SELECT doc_id, clean AS text FROM scrub),
    shx AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        i -> concat_ws(' ', string_split(text, ' ')[i],
          string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS s
      FROM dsh),
    hsx AS (
      SELECT doc_id, s,
             list_distinct(list_transform(s,
               g -> CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT))) AS hs
      FROM shx),
    sgx AS (
      SELECT doc_id, list_min(list_transform(hs, h -> (2971 * h + 1409) % 1000000007)) AS sig0, list_min(list_transform(hs, h -> (6011 * h + 2003) % 1000000007)) AS sig1, list_min(list_transform(hs, h -> (9103 * h + 3947) % 1000000007)) AS sig2, list_min(list_transform(hs, h -> (3301 * h + 4241) % 1000000007)) AS sig3, list_min(list_transform(hs, h -> (7873 * h + 5443) % 1000000007)) AS sig4, list_min(list_transform(hs, h -> (4409 * h + 6367) % 1000000007)) AS sig5, list_min(list_transform(hs, h -> (9973 * h + 7237) % 1000000007)) AS sig6, list_min(list_transform(hs, h -> (5087 * h + 8147) % 1000000007)) AS sig7
      FROM hsx),
    bnx AS (
      SELECT doc_id, b.band_idx,
             concat_ws(':', CAST(b.band_idx AS VARCHAR),
               CASE b.band_idx
                 WHEN 0 THEN sig0 WHEN 1 THEN sig1 WHEN 2 THEN sig2
                 WHEN 3 THEN sig3 WHEN 4 THEN sig4 WHEN 5 THEN sig5
                 WHEN 6 THEN sig6 ELSE sig7 END) AS band_key
      FROM sgx, (SELECT unnest(range(8)) AS band_idx) b),
    cnx AS (
      SELECT DISTINCT a.doc_id AS doc_id, e.doc_id AS eval_id
      FROM bnx a JOIN bnx e USING (band_idx, band_key)
      WHERE a.doc_id < 10000000 AND e.doc_id >= 10000000),
    vfx AS (
      SELECT cnx.doc_id,
             floor(CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) /
                   len(list_distinct(list_concat(s1.hs, s2.hs))) * 1000000 + 0.5)
               / 1000000.0 AS jac
      FROM cnx JOIN hsx s1 ON s1.doc_id = cnx.doc_id
               JOIN hsx s2 ON s2.doc_id = cnx.eval_id),
    flagged AS (SELECT DISTINCT doc_id FROM vfx WHERE jac >= 0.4),
    cleank AS (
      SELECT * FROM scrub
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
    ntokAll AS (
      SELECT doc_id, lang, clean,
             CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok
      FROM scrub),
    ntok AS (
      SELECT doc_id, lang, clean,
             CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok
      FROM cleank),
    ktoks AS (SELECT doc_id, lang, string_split(clean, ' ') AS toks FROM cleank),
    ge AS (
      SELECT doc_id, lang, unnest(list_concat(toks,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks) - 1)])) AS gram
      FROM ktoks),
    g AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM ge),
    tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM g
            WHERE lang = 'en' GROUP BY bucket),
    raws AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM g GROUP BY bucket),
    tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt,
                   (SELECT coalesce(sum(rc), 0) FROM raws) AS rt),
    lr AS (
      SELECT b.bucket,
             CAST(floor(ln((coalesce(tgt.tc, 0) + 1) * 1.0 / (tot.tt + 64)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((coalesce(raws.rc, 0) + 1) * 1.0 / (tot.rt + 64)) * 1000000 + 0.5) AS BIGINT) AS lr_u
      FROM (SELECT unnest(range(0, 64)) AS bucket) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raws USING (bucket), tot),
    db AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM g GROUP BY doc_id, bucket),
    dsir AS MATERIALIZED (
      SELECT db.doc_id, CAST(sum(db.cnt * lr.lr_u) AS BIGINT) AS dsir_weight_u
      FROM db JOIN lr USING (bucket) GROUP BY db.doc_id),
    trn AS (SELECT doc_id, source, string_split(ptext, ' ') AS ptoks
            FROM page WHERE doc_id % 7 = 0),
    getr AS (
      SELECT doc_id, source AS label, unnest(list_concat(ptoks,
        [array_to_string(ptoks[i+1:i+2], ' ') for i in range(0, len(ptoks) - 1)])) AS gram
      FROM trn),
    gtr AS (
      SELECT doc_id, label,
             CAST(concat('0x', substr(md5(gram), 1, 12)) AS BIGINT) % 64 AS bucket
      FROM getr),
    cc AS (SELECT label, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM gtr GROUP BY 1, 2),
    ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cc GROUP BY 1),
    lbls AS (SELECT DISTINCT source AS label FROM trn),
    grid AS (SELECT l.label, b.bucket FROM lbls l
             CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b),
    lp AS (
      SELECT grid.label, grid.bucket,
             CAST(floor(ln((coalesce(cc.cnt, 0) + 1) * 1.0 /
               (coalesce(ct.tot, 0) + 64)) * 1000000 + 0.5) AS BIGINT) AS lp_u
      FROM grid LEFT JOIN cc ON cc.label = grid.label AND cc.bucket = grid.bucket
                LEFT JOIN ct ON ct.label = grid.label),
    dc AS (SELECT source AS label, CAST(count(*) AS BIGINT) AS nd
           FROM trn GROUP BY 1),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM trn),
    pr AS (SELECT label,
                  CAST(floor(ln(nd * 1.0 / nt.n) * 1000000 + 0.5) AS BIGINT) AS prior_u
           FROM dc, nt),
    sc AS (SELECT db.doc_id, lp.label, CAST(sum(db.cnt * lp.lp_u) AS BIGINT) AS like_u
           FROM db JOIN lp USING (bucket) GROUP BY 1, 2),
    ss AS (SELECT sc.doc_id, sc.label, sc.like_u + pr.prior_u AS score_u
           FROM sc JOIN pr USING (label)),
    rte AS MATERIALIZED (SELECT doc_id, label AS domain FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                         ORDER BY score_u DESC, label) AS rn FROM ss)
            WHERE rn = 1),
    j AS MATERIALIZED (
      SELECT n.doc_id, n.lang, n.n_tok, s.dsir_weight_u,
             coalesce(rte.domain, 'unrouted') AS domain,
             CAST(concat('0x', substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
      FROM ntok n JOIN dsir s USING (doc_id)
                  LEFT JOIN rte ON rte.doc_id = n.doc_id),
    k2 AS (
      SELECT *, CAST(floor(-ln((CAST(hv AS DOUBLE) + 1) / 281474976710656.0) * 1000000 + 0.5) AS BIGINT) AS e_unat
      FROM j),
    k3 AS (
      SELECT *, dsir_weight_u
             - CAST(floor(ln(CAST(greatest(e_unat, 1) AS DOUBLE) / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS key_u
      FROM k2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang, domain ORDER BY key_u DESC, doc_id) AS rn
      FROM k3),
    sampled AS MATERIALIZED (SELECT doc_id, lang, domain, n_tok, dsir_weight_u,
                       CAST(rn AS INT) AS sample_rank
                FROM r WHERE rn <= 3 AND lang IS NOT NULL),
    tp AS MATERIALIZED (
      SELECT lang AS shard, doc_id, n_tok,
             CAST(row_number() OVER (PARTITION BY lang
                ORDER BY n_tok DESC, doc_id) AS INT) AS pos
      FROM sampled),
    rec AS (
      SELECT shard, pos, doc_id, n_tok,
             CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill_after,
             [{'b': CAST(0 AS BIGINT), 'f': n_tok}] AS open,
             CAST(1 AS BIGINT) AS nbins
      FROM tp WHERE pos = 1
      UNION ALL
      SELECT tp.shard, tp.pos, tp.doc_id, tp.n_tok,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.b ELSE rec.nbins END,
             CASE WHEN h.hit IS NOT NULL THEN h.hit.f + tp.n_tok ELSE tp.n_tok END,
             CASE WHEN h.hit IS NOT NULL
                  THEN list_transform(rec.open, x ->
                    CASE WHEN x.b = h.hit.b THEN {'b': x.b, 'f': x.f + tp.n_tok} ELSE x END)
                  ELSE list_append(
                    CASE WHEN len(rec.open) >= 4 THEN rec.open[2:] ELSE rec.open END,
                    {'b': rec.nbins, 'f': tp.n_tok})
             END,
             CASE WHEN h.hit IS NOT NULL THEN rec.nbins ELSE rec.nbins + 1 END
      FROM rec
      JOIN tp ON tp.shard = rec.shard AND tp.pos = rec.pos + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(rec.open, x -> x.f + tp.n_tok <= 512)[1] AS hit) h)
    SELECT c4.doc_id, c4.lang, 'boilerplate' AS disposition,
           CAST(NULL AS BIGINT) AS dsir_weight_u,
           CAST(NULL AS INT) AS sample_rank,
           CAST(NULL AS BIGINT) AS bin_idx,
           CAST(NULL AS BIGINT) AS n_tok,
           CAST(NULL AS VARCHAR) AS domain
    FROM c4 WHERE c4.c4keep = 0
    UNION ALL
    SELECT t.doc_id, t.lang, 'gated',
           CAST(NULL AS BIGINT), CAST(NULL AS INT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM t WHERE t.doc_id NOT IN (SELECT doc_id FROM gatepass)
    UNION ALL
    SELECT na.doc_id, na.lang, 'contaminated',
           CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
           na.n_tok, CAST(NULL AS VARCHAR)
    FROM ntokAll na JOIN flagged USING (doc_id)
    UNION ALL
    SELECT jj.doc_id, jj.lang, 'not_sampled', jj.dsir_weight_u,
           CAST(NULL AS INT), CAST(NULL AS BIGINT), jj.n_tok, jj.domain
    FROM j jj
    WHERE jj.doc_id NOT IN (SELECT doc_id FROM sampled)
    UNION ALL
    SELECT sa.doc_id, sa.lang, 'packed', sa.dsir_weight_u,
           sa.sample_rank, rec.bin_idx, sa.n_tok, sa.domain
    FROM sampled sa JOIN rec ON rec.doc_id = sa.doc_id
    ORDER BY doc_id"""))

  /** Deterministic epoch shuffle under the oracle (round 18,
    * [[graft.operators.CorpusOps.epochShuffle]]): seeded hash48 sort
    * key, shard = key mod 8, position by a PER-SHARD window — the
    * training loader's reproducible data order. The oracle replays
    * key, shard and position from the md5 arithmetic alone.
    */
  private val q240 = Q("q240_epoch_shuffle", (s, dir) => {
    CorpusOps.epochShuffle(Tables.load(s, dir, "documents"),
        col("doc_id"), seed = 7L, nShards = 8)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH k AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS skey
      FROM documents WHERE doc_id IS NOT NULL),
    sh AS (SELECT doc_id, skey, CAST(skey % 8 AS BIGINT) AS shard FROM k)
    SELECT doc_id, skey, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
    FROM sh ORDER BY doc_id"""))

  /** Token-budget mixture fill under the oracle (round 18,
    * [[graft.operators.CorpusOps.tokenBudgetFill]]): per-mille
    * weights over the five languages (400/200/200/100/100 of a
    * 10k-token budget), documents drawn in the seeded hash order,
    * kept while the per-source running total stays within budget —
    * the auditable ledger row (cum_tok on EVERY doc, kept flag cast
    * to int). Budgets small enough that both kept and rejected rows
    * populate at every SF.
    */
  private val q241 = Q("q241_token_budget_fill", (s, dir) => {
    CorpusOps.tokenBudgetFill(
        Tables.load(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        col("doc_id"), col("lang"), size(split(col("text"), " ")),
        weightsPerMille = Map("en" -> 400L, "de" -> 200L, "es" -> 200L,
          "fr" -> 100L, "zh" -> 100L),
        totalBudget = 10000L, seed = 7L)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH d AS (
      SELECT doc_id, lang AS source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS skey,
             CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 2000 WHEN 'es' THEN 2000
                       WHEN 'fr' THEN 1000 WHEN 'zh' THEN 1000 END AS budget
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL),
    c AS (
      SELECT doc_id, source, n_tok, skey,
             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY skey, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
             budget
      FROM d)
    SELECT doc_id, source, n_tok, skey, cum_tok,
           CAST(cum_tok <= budget AS INT) AS kept
    FROM c ORDER BY doc_id"""))

  val list: Seq[Q] = Seq(q78, q79, q80, q96, q104, q105, q114, q115, q125,
    q126, q192, q212, q216, q221, q223, q227, q229, q231, q233, q236, q239, q240, q241)
}
