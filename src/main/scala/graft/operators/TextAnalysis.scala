package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{transform => transformArray, filter => filterArray}

import graft.functions.quantize.micro

/** Text-analysis operators for training-data pipelines: language ID
  * (marker-token scoring), quality scoring, token counting
  * (whitespace + regex "BPE-ish"), and rolling-hash fingerprinting.
  * All pure column expressions — narrow, codegen'd, shuffle-free.
  */
object TextAnalysis {

  /** Marker stopword profiles for the five corpus languages. A
    * lightweight n-gram/stopword heuristic: per language, count tokens
    * hitting the marker set; predict the argmax (ties -> lexicographic
    * language code). Real-world profiles would be larger; the operator
    * shape (k marker-set scores + argmax, one pass) is the same.
    */
  val MARKERS: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "que"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une", "dans"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"))

  def tokens(textCol: String): Column = split(col(textCol), " ")

  /** Count of tokens present in a fixed marker set. */
  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filterArray(toks, t => t.isInCollection(markers))).cast("long")

  /** Language-ID: per-language marker scores + argmax prediction. */
  def languageId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(textCol)
    val scored = MARKERS.foldLeft(df) { case (acc, (lang, markers)) =>
      acc.withColumn(s"score_$lang", markerScore(toks, markers))
    }
    // argmax with lexicographic tiebreak: fold over (score, lang) pairs
    val best = MARKERS.map { case (lang, _) =>
      struct(col(s"score_$lang").as("s"), lit(lang).as("l"))
    }.reduceLeft { (a, b) =>
      when(b.getField("s") > a.getField("s"), b).otherwise(a)
    }
    scored.withColumn("pred_lang", best.getField("l"))
  }

  /** Quality metrics: token stats, stopword ratio, digit ratio and a
    * composite score in [0,1]. Quantized (1e-6) for reproducibility.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val q6 = graft.functions.quantize.q6 _
    val (nToks, avgTokLen, stopRatio, digitRatio, composite) = qualityParts(textCol)
    df.select(col("doc_id"),
      nToks.as("n_tokens"),
      q6(avgTokLen).as("avg_token_len"),
      q6(stopRatio).as("stopword_ratio"),
      q6(digitRatio).as("digit_ratio"),
      q6(composite).as("quality"))
  }

  /** The q52 quality composite alone, as a reusable narrow COLUMN —
    * pipeline callers ([[CorpusOps.curationPipeline]]) evaluate it in
    * their own projection instead of self-joining the corpus against
    * [[qualityScore]]'s output (which would re-scan and re-shuffle
    * the corpus just to attach one derived column).
    */
  def qualityColumn(textCol: String): Column =
    graft.functions.quantize.q6(qualityParts(textCol)._5)

  private def qualityParts(textCol: String):
      (Column, Column, Column, Column, Column) = {
    val toks = tokens(textCol)
    val nToks = size(toks).cast("long")
    val avgTokLen = aggregate(transformArray(toks, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x).cast("double") / nToks
    val stopRatio = markerScore(toks, MARKERS.flatMap(_._2)).cast("double") / nToks
    val digitRatio = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[0-9]", ""))).cast("double") / length(col(textCol))
    val lenScore = least(nToks.cast("double") / lit(100.0), lit(1.0))
    val composite = lenScore * (lit(1.0) - digitRatio) *
      least(avgTokLen / lit(8.0), lit(1.0))
    (nToks, avgTokLen, stopRatio, digitRatio, composite)
  }

  /** Token counting: whitespace tokens, regex word-run tokens (a
    * BPE-ish lower-bound segmentation: alpha runs + digit runs +
    * single punctuation), and the distinct-token ratio.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(textCol)
    val q6 = graft.functions.quantize.q6 _
    df.select(col("doc_id"),
      size(toks).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit("[a-zA-Z]+|[0-9]+"), lit(0))).cast("long").as("re_tokens"),
      size(array_distinct(toks)).cast("long").as("distinct_tokens"),
      q6(size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"))
  }

  /** Rolling polynomial fingerprint (Karp-Rabin over token hashes):
    * fp = foldLeft(0) { (acc, h) => (acc * 31 + h) mod P } — order
    * sensitive by design (captures token sequence, not just the set).
    */
  def fingerprint(textCol: String): Column = {
    val hs = transformArray(tokens(textCol), t => Dedup.hash48(t))
    aggregate(hs, lit(0L), (acc, h) => (acc * 31 + h) % lit(Dedup.MINHASH_P))
  }

  /** Gzip compression ratio — the entropy-style quality signal used by
    * web-corpus filters (highly repetitive boilerplate compresses far
    * below ~natural text; random noise barely compresses). Uses the
    * engine's native codegen'd Gzip expression; a narrow per-row
    * projection, no shuffle. No DuckDB oracle exists (no SQL gzip),
    * so its query is a declared rows-only entry (the q29 class) with
    * the behavioral contract pinned in TextSpec instead: repetitive <
    * natural < noise ordering and byte-identical double runs.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val raw = encode(col(textCol), "UTF-8")
    val q6 = graft.functions.quantize.q6 _
    df.select(col(idCol),
      octet_length(raw).cast("long").as("raw_bytes"),
      octet_length(graft.functions.codecs.gzip(raw)).cast("long").as("gz_bytes"))
      .withColumn("ratio", q6(col("gz_bytes").cast("double") / col("raw_bytes")))
  }

  /** Vocabulary coverage by minimum-frequency threshold — the
    * tokenizer-training prestep: "if we keep only tokens seen >= t
    * times, how many types survive and what share of the corpus'
    * token MASS do they cover". Rising thresholds shrink the type
    * table geometrically while mass coverage decays slowly (Zipf),
    * and this query is how you pick the knee. No global sort and no
    * rank: each threshold is a conditional aggregate over the type
    * table (types x |thresholds| narrow multiply — thresholds are a
    * literal handful), so the plan is two map-side-combined
    * aggregations regardless of corpus size. mass_permille rides
    * integer division.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
      thresholds: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L)): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val vocab = df.select(explode(tokens(textCol)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_c"))
    vocab.select(col("_c"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("_c") >= col("threshold"), 1L).otherwise(0L)).as("kept_types"),
        sum(col("_c")).as("_total"),
        sum(when(col("_c") >= col("threshold"), col("_c")).otherwise(0L)).as("_kept"))
      .select(col("threshold"), col("n_types"), col("kept_types"),
        expr("(_kept * 1000) div _total").as("mass_permille"))
  }

  /** Per-document mean bigram surprise under an add-one-smoothed
    * bigram LM trained on the corpus itself — the sharper relative of
    * [[unigramLogProb]]: a document full of common words in UNCOMMON
    * ORDER ("the of and the of") scores high here while the unigram
    * model waves it through, which is exactly the gibberish/spam the
    * perplexity gate exists to catch (Wenzek et al., CCNet).
    *
    *   nll(w1 w2) = ln((C(w1) + V) / (C(w1 w2) + 1))
    *
    * with C(w1) the count of w1 as a bigram HISTORY, V the corpus
    * vocabulary size (add-one mass), both plain counts. The surprise
    * is quantized to the integer micro-nat grid PER BIGRAM TYPE and
    * summed as longs (q101's discipline), so any engine replays the
    * mean bit-for-bit. Documents with < 2 tokens have no bigrams and
    * are absent.
    *
    * Scale shape: the narrow [[bigrams]] expansion and its
    * map-side-combined type table; C(w1) sums the type table per w1
    * (vocabulary-scale, never the bigram stream again) and V is a
    * broadcast one-row aggregate; [[meanSurprise]] scores.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = lmDocs(df, idCol, textCol)
    val (big, types) = bigrams(docs, idCol, textCol)
    val vocab = docs.select(explode(tokens(textCol)).as("term")).distinct()
      .agg(count(lit(1)).as("_v"))
    val hist = types.groupBy(col("w1")).agg(sum(col("_cb")).as("_ch"))
    val surprise = types.join(hist, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        micro(log((col("_ch") + col("_v")).cast("double") / (col("_cb") + lit(1)))).as("_su"))
    meanSurprise(big, surprise, Seq("w1", "w2"), idCol, "n_bigrams")
  }

  /** Interpolated KNESER-NEY bigram surprise (round 18; Kneser & Ney
    * 1995, in the interpolated form of Chen & Goodman 1999 — the
    * smoothing the CCNet-style perplexity filters actually train
    * with, where [[bigramLogProb]]'s add-one is the didactic
    * baseline):
    *
    *   P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1·)
    *            + D·N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(··)
    *
    * with the discount D = 3/4 held RATIONAL so the whole probability
    * is one ratio of exact integers:
    *
    *   P = [ (4·c(w1,w2) - 3)·T + 3·N1+(w1,·)·N1+(·,w2) ]
    *       / [ 4·c(w1·)·T ]            (T = total bigram types)
    *
    * — every factor a count, multiplied in BIGINT on both engines,
    * one double division + floor-1e6 micro-nat ln at the end (the
    * q176/q221 grid discipline). Scoring the training corpus itself
    * (the [[bigramLogProb]] contract) means every scored bigram has
    * c >= 1, so the max(·,0) clamp never binds and no unseen-event
    * backoff path is needed. Overflow bound, documented not hidden:
    * the integer products stay exact while c(w1·)·T < 2^61 — beyond
    * that (a ~10^9-type corpus) shift both factors onto the double
    * grid FIRST on both engines.
    *
    * Output matches [[bigramLogProb]]: (id, n_bigrams, mean_nll), so
    * the two smoothers are drop-in comparable. A doc with < 2 tokens
    * has no bigram and no row — the caller's explicit-reject
    * decision, as in the add-one variant.
    *
    * Shape: [[bigramLogProb]]'s — the (w1,w2) type table over the
    * bigram stream, then (w1) and a one-row type total over the type
    * table — plus one (w2) aggregation of the type table.
    */
  def knBigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (big, cb) = bigrams(lmDocs(df, idCol, textCol), idCol, textCol)
    // per history w1: total continuations c(w1·) and distinct-type
    // count N1+(w1,·) — one pass over the type table
    val ch = cb.groupBy(col("w1"))
      .agg(sum(col("_cb")).as("_ch"), count(lit(1)).as("_n1p"))
    val n2 = cb.groupBy(col("w2")).agg(count(lit(1)).as("_n2"))
    val tt = cb.agg(count(lit(1)).as("_tt"))
    val surprise = cb.join(ch, "w1").join(n2, "w2").crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"),
        micro(log((lit(4L) * col("_ch") * col("_tt")).cast("double") /
          ((lit(4L) * col("_cb") - lit(3L)) * col("_tt") +
            lit(3L) * col("_n1p") * col("_n2")).cast("double"))).as("_su"))
    meanSurprise(big, surprise, Seq("w1", "w2"), idCol, "n_bigrams")
  }

  /** Unigram language-model scoring — the perplexity-style quality
    * signal (a doc whose tokens are corpus-typical scores low; line
    * noise and boilerplate score high). Trains the model and scores in
    * ONE plan: token unigram counts -> per-token surprise
    * -ln p(t) = ln(total/count), INTEGER-quantized to a 1e-6 grid —
    * so each doc's sum over tokens is a long addition, exact under any
    * partitioning/order — then mean surprise per doc (nats).
    *
    * Scale shape: one explode + two hash aggregations build the model
    * (shuffles carry (term, count), map-side combined — the TF-IDF
    * build, q55); the surprise table is vocabulary-sized (words:
    * ~10^6 rows / ~10 MB at web scale) and [[meanSurprise]] scores.
    *
    * Output: (id, n_tokens, mean_nll).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = lmDocs(df, idCol, textCol).select(col(idCol), explode(tokens(textCol)).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("_c"))
    // corpus token total as a one-row in-plan aggregate (no driver
    // count — the q55 discipline)
    val total = vocab.agg(sum(col("_c")).cast("double").as("_total"))
    val surprise = vocab.crossJoin(broadcast(total))
      .select(col("term"), micro(log(col("_total") / col("_c"))).as("_su"))
    meanSurprise(tok, surprise, Seq("term"), idCol, "n_tokens")
  }

  /** The corpus-LM front end of [[unigramLogProb]], [[bigramLogProb]]
    * and [[knBigramLogProb]]: the documents with a non-null id and
    * text. A null-id document is no document — a GROUP BY would merge
    * every null id into one pseudo-doc — so it neither gets a row nor
    * counts into the model.
    */
  private def lmDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)

  /** The bigram stream (id, w1, w2) of [[lmDocs]] — a NARROW per-row
    * slice/zip of the token array, no window, no shuffle for adjacency
    * — and its type table (w1, w2, `_cb`). A doc with < 2 tokens has no
    * bigram. Both bigram smoothers read the history count C(w1) as the
    * sum of `_cb` per w1, off the type table.
    */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val big = docs.select(col(idCol), tokens(textCol).as("_l")).where(size(col("_l")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_l) - 2), i -> struct(_l[i] AS w1, _l[i + 1] AS w2))")).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    (big, big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("_cb")))
  }

  /** The per-document fold of every corpus LM: `table` (`keys`, `_su`
    * micro-nat surprise per event type) joins BROADCAST onto the
    * corpus-scale `events` stream — the type table is vocabulary-sized,
    * so the stream never shuffles for the join (for a table that
    * outgrows a broadcast, drop the hint and the same plan
    * shuffle-joins on `keys`) — and each doc folds to (id, `nName`,
    * mean_nll = floor(sum_micro/n + 0.5)/1e6): a long sum, then one
    * IEEE division + floor, engine-reproducible.
    */
  private def meanSurprise(events: DataFrame, table: DataFrame, keys: Seq[String],
      idCol: String, nName: String): DataFrame =
    events.join(broadcast(table), keys)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(nName), sum(col("_su")).as("_ssum"))
      .select(col(idCol), col(nName),
        (floor(col("_ssum").cast("double") / col(nName) + lit(0.5)) / lit(1e6)).as("mean_nll"))

  /** Feature-hashed TF-IDF document vectors (the "hashing trick"):
    * each term lands in bucket hash48(term) mod `dim`, weighted
    * tf * idf — text becomes a FIXED-dimension vector with no
    * vocabulary table, no fitting step, and no driver state, which is
    * what makes the encoding viable on a 100 TB corpus (a vocabulary
    * join at that scale is a billion-row dimension table; the hash is
    * a per-row expression). Collisions add weights — the standard,
    * analyzed trade (Weinberger et al., ICML'09).
    *
    * Output is SPARSE (doc_id, bucket, w) rows; [[hashedTfIdfDense]]
    * pivots to the dense array the vector operators consume. idf
    * rides the integer micro-nat grid (floor(ln(N/df)*1e6+0.5)) and
    * tf is a count, so w = tf * idf_u is an exact integer — any
    * engine replays it (q128).
    *
    * Scale: explode + (doc, term) and (term) aggregations — the same
    * shuffles as TF-IDF (q55); the idf table is term-keyed and joins
    * hash-partitioned; N enters as a broadcast one-row aggregate (the
    * q55 no-driver-count discipline).
    */
  def hashedTfIdf(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val tf = df.select(col(idCol), explode(tokens(textCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_tf"))
    val nDocs = df.agg(count(lit(1)).cast("double").as("_nd"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), micro(log(col("_nd") / col("_df").cast("double"))).as("_idf_u"))
    tf.join(idf, "term")
      .groupBy(col(idCol),
        pmod(graft.functions.codecs.hash48(col("term")), lit(dim.toLong)).as("bucket"))
      .agg(sum(col("_tf") * col("_idf_u")).as("w"))
  }

  /** [[hashedTfIdf]] pivoted to dense array<double> vectors — the
    * bridge from the text family into the vector family: the output
    * plugs straight into Similarity.bruteForceTopK / bandedAnnPairs /
    * int8Quantize (TextSpec composes it with ANN to find planted
    * near-duplicates with no embedding model anywhere).
    */
  def hashedTfIdfDense(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame =
    hashedTfIdf(df, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("bucket"), col("w"))))).as("_m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("_m"), i.cast("long")), lit(0L)).cast("double"))
          .as("tfidf_vec"))

  /** BM25 relevance scoring of every document against a fixed query
    * term set — the standard lexical retrieval ranker (Robertson &
    * Zaragoza 2009), the sparse half of any hybrid RAG retriever next
    * to the vector path (int8TopK/bandedAnnPairs):
    *
    *   score = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    *   idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)
    *
    * Determinism: idf rides the integer micro-nat grid, and each
    * TERM's contribution is floored to integer micro-units BEFORE the
    * per-document sum — a double sum across partitions would be
    * aggregation-order-dependent; the integer sum cannot be (q138).
    *
    * Scale: see [[bm25Terms]] — the fixed terms filter the token
    * stream before its one shuffle; no vocabulary table, no score
    * matrix.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term required")
    bm25Terms(df, idCol, textCol, k1, b)(_.filter(col("term").isin(queryTerms: _*)))
      .groupBy(col(idCol))
      .agg(sum(col("_c_u")).as("_s_u"))
      .select(col(idCol), (col("_s_u").cast("double") / lit(1e6)).as("bm25"))
  }

  /** THE BM25 scorer behind [[bm25]] and [[bm25Candidates]]: each
    * non-null-id doc's per-term contribution `_c_u` on the integer
    * micro-unit grid, as (term, `idCol`, `_c_u`) at the (doc, term)
    * grain. `restrict` cuts the exploded (`idCol`, `_dl`, term) token
    * stream to the query terms BEFORE the tf shuffle, so the shuffle
    * carries only matching (doc, term) rows.
    *
    * Contract: null-id docs are excluded EVERYWHERE — contributions
    * and the corpus statistics N, df and avgdl. A SQL mirror's
    * GROUP BY would lump them into one pseudo-doc; the oracles carry
    * the same IS NOT NULL.
    *
    * Shape: doc length is size(tokens), a NARROW per-row value that
    * rides the token rows INTO the tf aggregation (max over the group;
    * `_dl` is constant per doc), not its own scan, exchange and
    * join-back. N and avgdl are ONE scalar aggregate broadcast to both
    * legs (ReuseExchange serves them from one broadcast). A null text
    * counts into N (it is a document) but not into avgdl, exactly the
    * rows a SQL unnest keeps: split yields >= 1 token for every
    * non-null text; the `when` gate makes that independent of
    * sizeOfNull. df is counted as sum(1 where _tf >= 1 and _dl >= 1)
    * — the same number as count(*) — because referencing BOTH
    * aggregated columns keeps the idf subtree identical to the
    * contribution's, so ReuseExchange serves both from one
    * token-stream shuffle (a plain count(*) lets pruning specialize
    * the idf copy into a second explode + exchange of the corpus).
    * The scoring arithmetic runs once per (doc, term), never per
    * fanned-out (query, doc, term) row.
    */
  private def bm25Terms(docs: DataFrame, idCol: String, textCol: String,
      k1: Double, b: Double)(restrict: DataFrame => DataFrame): DataFrame = {
    val docsT = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), tokens(textCol).as("_toks"))
    val stats = docsT.agg(
      count(lit(1)).cast("double").as("_nd"),
      (sum(when(col("_toks").isNotNull, size(col("_toks")))).cast("double") /
        count(col("_toks")).cast("double")).as("_avgdl"))
    val tf = restrict(docsT.select(col(idCol),
        size(col("_toks")).cast("long").as("_dl"), explode(col("_toks")).as("term")))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("_tf"), max(col("_dl")).as("_dl"))
    val idf = tf.groupBy(col("term"))
      .agg(sum(when(col("_tf") >= 1 && col("_dl") >= 1, lit(1L))).as("_df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), micro(log((col("_nd") - col("_df").cast("double") + 0.5) /
        (col("_df").cast("double") + 0.5) + 1.0)).as("_idf_u"))
    tf.join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col(idCol),
        floor(col("_idf_u").cast("double") *
          (col("_tf").cast("double") * (k1 + 1)) /
          (col("_tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl").cast("double") / col("_avgdl"))) +
          lit(0.5)).cast("long").as("_c_u"))
  }

  /** Per-query BM25 retrieval ("more-like-this"): each query
    * DOCUMENT's distinct terms act as its query term set, every corpus
    * document containing a shared term is scored with [[bm25]]'s exact
    * formula (same integer micro-unit grid, same k1/b), self excluded,
    * and each query keeps its `topK` by score. This is the SPARSE
    * retriever of a hybrid RAG stack as it actually serves — per-query
    * rankings, not one fixed term list — feeding
    * [[Similarity.reciprocalRankFusion]] next to the dense ANN path
    * (q145).
    *
    * Scale: candidate generation is inverted-index shaped — the
    * exploded token stream joins the (small, broadcast) query term
    * set, so the shuffle carries only (doc, term) rows matching some
    * query term; cost scales with postings of the query terms, never
    * |queries| x |corpus|. df/avgdl/N are tiny broadcast aggregates;
    * the final rank is a per-query window over candidate rows only.
    *
    * Output: (query_id, neighbor_id, rank, bm25).
    */
  def bm25Retrieve(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, topK: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_u").desc, col("neighbor_id"))
    bm25Candidates(docs, queries, idCol, textCol, k1, b)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        (col("score_u").cast("double") / lit(1e6)).as("bm25"))
  }

  /** The candidate-generation stage of [[bm25Retrieve]] WITHOUT the
    * per-query rank window: every (query, corpus doc) pair sharing a
    * term, scored on the exact integer micro-unit BM25 grid. Exists so
    * a hybrid retriever (q145) can rank the sparse and dense legs in
    * ONE window pass over one query_id partitioning instead of paying
    * a separate rank exchange per leg — see
    * [[graft.operators.Similarity.rankFuseScored]].
    *
    * Output: (query_id, neighbor_id, score_u: long). score_u orders
    * identically to [[bm25Retrieve]]'s bm25 (it IS bm25 * 1e6 before
    * the double division), and stays exact under a double cast while
    * |score_u| < 2^53 — far above any real per-pair BM25 mass.
    */
  def bm25Candidates(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries
      .select(col(idCol).as("query_id"), explode(tokens(textCol)).as("term"))
      .distinct()
    val need = qterms.select(col("term")).distinct()
    // the corpus id rides as `_did` so it cannot collide with query_id
    bm25Terms(docs.select(col(idCol).as("_did"), col(textCol)), "_did", textCol, k1, b)(
        _.join(broadcast(need), "term"))
      .join(broadcast(qterms), "term") // query term sets are serving-size
      .filter(col("_did") =!= col("query_id"))
      .groupBy(col("query_id"), col("_did"))
      .agg(sum(col("_c_u")).as("score_u"))
      .select(col("query_id"), col("_did").as("neighbor_id"), col("score_u"))
  }

  /** Token-sequence sentinel for [[bpeTokenize]]: each token rides as
    * SEP + token + SEP, so the pattern for an adjacent pair (a, b) is
    * SEP a SEP SEP b SEP — it can never match inside a token or across
    * a non-adjacent boundary, and a literal left-to-right replace of
    * that pattern is exactly one greedy BPE merge application.
    */
  private val SEP = "\u001f"

  /** A fixed BPE merge-rank table (rank = list position, lowest rank
    * merges first) sized to the corpus vocabulary. Fixed — not
    * data-learned — so a SQL oracle replays tokenization exactly; the
    * operator accepts any table (a learned one slots in unchanged).
    */
  val BPE_MERGES: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "e" -> "r", "a" -> "t", "t" -> "a",
    "ta" -> "b", "tab" -> "l", "tabl" -> "e", "o" -> "w", "i" -> "n",
    "a" -> "n", "s" -> "c", "sc" -> "an", "d" -> "at", "dat" -> "a",
    "r" -> "ow", "b" -> "at", "bat" -> "c", "batc" -> "h", "v" -> "a",
    "va" -> "l", "val" -> "u", "valu" -> "e", "o" -> "r", "qu" -> "er",
    "q" -> "u", "s" -> "m", "sm" -> "a", "sma" -> "ll", "l" -> "l")

  /** BPE merge-table TRAINING (round 18; Sennrich et al. 2016 —
    * [[bpeTokenize]] APPLIES a merge table, this LEARNS one, closing
    * the tokenizer loop): k greedy iterations, each (1) counting
    * adjacent symbol pairs over the word histogram weighted by word
    * frequency (overlap-counted, the reference get_stats), (2)
    * picking the most frequent pair — ties to the lexicographically
    * smallest (lhs, rhs), a DETERMINISTIC adaptation of the
    * reference's arbitrary dict-order tie, documented not hidden —
    * and (3) rewriting every word's symbol sequence with the merged
    * pair, leftmost-non-overlapping (exactly the semantics of a
    * literal string `replace` over the SEP-delimited sequence, the
    * [[bpeTokenize]] representation, so train and apply cannot drift).
    *
    * THE scale trick, same as every real distributed BPE trainer:
    * iterate over the DISTINCT-WORD HISTOGRAM, not the corpus — one
    * corpus-scale shuffle builds (word, cnt) once, then each of the
    * k rounds is an aggregation + rewrite over the vocabulary-sized
    * frame. Each round's argmax is ONE collected row (k driver
    * round-trips of one row each — config-sized by construction);
    * the histogram is persisted per round and the previous round
    * released (the trainKMeans iteration discipline). Stops early if
    * the pair supply runs dry (every word a single symbol).
    *
    * Output: (rank, lhs, rhs, pair_count) — the merge table, k rows,
    * feeding [[bpeTokenize]]/[[subwordCounts]] unchanged.
    */
  def trainBpeMerges(df: DataFrame, textCol: Column, k: Int = 8,
      collectThreshold: Long = 200000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val hist0 = df
      .select(explode(regexp_extract_all(lower(textCol), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("tokseq", regexp_replace(col("word"), "(.)", SEP + "$1" + SEP))
    var hist = hist0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabRows = hist.count()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // SMALL-VOCAB FAST PATH (optimization round 18, the
    // connectedComponents collectThreshold discipline): the k greedy
    // rounds are each an argmax job + a rewrite/persist/count job over
    // the vocabulary histogram — ~2k fixed scheduling overhead
    // regardless of vocab size. When the materialized histogram is
    // measured small (the count above is already paid), run the rounds
    // on the driver over the collected rows: pair counting replays the
    // exact Spark expressions (substring/split(regex, -1)/literal
    // replace are the same Java semantics; tie-break compares in UTF8
    // binary order), so the merge table is bit-identical. Above the
    // threshold — a real corpus vocabulary — the distributed loop
    // below is unchanged. The threshold is a PARAMETER (round 19,
    // review item: it was a hardcoded literal, the one gate in the
    // codebase a tight-driver-heap caller could not lower), bounding
    // driver memory exactly like connectedComponents' collectThreshold;
    // callers force the distributed path in tests with 0.
    if (vocabRows <= collectThreshold) {
      val seqs = hist.select(col("cnt"), col("tokseq")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      var cur = seqs
      var r = 0
      var dry = false
      def lt(x: String, y: String): Boolean =
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      while (r < k && !dry) {
        val counts = new java.util.HashMap[(String, String), Long]()
        cur.foreach { case (cnt, ts) =>
          val syms = ts.substring(1, ts.length - 1).split(SEP + SEP, -1)
          if (syms.length >= 2) {
            var i = 0
            while (i < syms.length - 1) {
              counts.merge((syms(i), syms(i + 1)), cnt, (a, b) => a + b)
              i += 1
            }
          }
        }
        if (counts.isEmpty) dry = true
        else {
          var best: ((String, String), Long) = null
          counts.forEach { (p, c) =>
            if (best == null || c > best._2 ||
              (c == best._2 && (lt(p._1, best._1._1) ||
                (p._1 == best._1._1 && lt(p._2, best._1._2)))))
              best = (p, c)
          }
          val ((a, b), c) = best
          out += ((r.toLong, a, b, c))
          val (pat, rep) = (SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP)
          cur = cur.map { case (cnt, ts) => (cnt, ts.replace(pat, rep)) }
          r += 1
        }
      }
      hist.unpersist()
      import spark.implicits._
      return out.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
    }
    var r = 0
    var dry = false
    while (r < k && !dry) {
      val best = hist
        .select(col("cnt"),
          split(expr("substring(tokseq, 2, length(tokseq) - 2)"), SEP + SEP).as("_s"))
        .where(size(col("_s")) >= 2) // a single-symbol word has no pair
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(_s) - 2), i -> struct(_s[i] AS a, _s[i + 1] AS b))")).as("_p"))
        .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b")).limit(1)
        .collect()
      if (best.isEmpty) dry = true
      else {
        val (a, b, c) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        out += ((r.toLong, a, b, c))
        val next = hist.withColumn("tokseq",
            replace(col("tokseq"), lit(SEP + a + SEP + SEP + b + SEP),
              lit(SEP + a + b + SEP)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        hist.unpersist()
        hist = next
        r += 1
      }
    }
    hist.unpersist()
    import spark.implicits._
    out.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** [[trainBpeMerges]] collected into the (lhs, rhs) table
    * [[bpeTokenize]] consumes — train-then-apply in one call chain.
    */
  def trainedMerges(df: DataFrame, textCol: Column, k: Int = 8): Seq[(String, String)] =
    trainBpeMerges(df, textCol, k).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Greedy subword (BPE) tokenization over a broadcast FIXED
    * merge-rank table — the token accounting every LLM-pipeline budget
    * decision actually runs on: whitespace counts ([[tokens]]) are
    * 1.3-1.7x off per language, and mixing weights / packing budgets
    * downstream inherit the error (cf. Sennrich et al. 2016).
    *
    * Algorithm (per word): start from characters; each round finds the
    * LOWEST-RANK merge whose pair occurs adjacently and replaces all
    * its non-overlapping occurrences left to right; repeat `rounds`
    * times (a word of length L needs at most L-1 — rounds bounds the
    * chain like pageRank's fixed iterations). The token sequence rides
    * a sentinel-delimited string, so a round is: one fold over the
    * merge table for the best applicable rank (narrow), then one
    * literal replace — both codegen'd expressions, no shuffle.
    *
    * Scale shape: tokenization runs on the DISTINCT-word vocabulary
    * table, then a broadcast join maps occurrences back — the corpus
    * text is scanned once and never re-shuffled, and the iterative
    * work is proportional to |vocab|, not corpus size (exactly how
    * production tokenizers cache word -> pieces).
    *
    * Output: (id, word_pos, word, tokens, n_subwords) per word
    * occurrence; `tokens` is the space-joined subword sequence.
    */
  def bpeTokenize(df: DataFrame, idCol: Column, textCol: Column,
      merges: Seq[(String, String)] = BPE_MERGES, rounds: Int = 8): DataFrame = {
    require(rounds >= 1 && merges.nonEmpty, "need rounds >= 1 and a non-empty merge table")
    val mergesArr = array(merges.zipWithIndex.map { case ((a, b), r) =>
      struct(lit(r).as("rank"),
        lit(SEP + a + SEP + SEP + b + SEP).as("pat"),
        lit(SEP + a + b + SEP).as("rep")) }: _*)
    val none = struct(lit(Int.MaxValue).as("rank"), lit("").as("pat"), lit("").as("rep"))
    def mergeRound(ts: Column): Column = {
      val best = aggregate(mergesArr, none, (acc, m) =>
        when(m.getField("rank") < acc.getField("rank") &&
          contains(ts, m.getField("pat")), m).otherwise(acc))
      when(best.getField("pat") === "", ts)
        .otherwise(replace(ts, best.getField("pat"), best.getField("rep")))
    }
    val words = df.select(idCol.as("id"),
      posexplode(regexp_extract_all(lower(textCol), lit("[a-z]+"), lit(0)))
        .as(Seq("word_pos", "word")))
    val vocab0 = words.select(col("word")).distinct()
      .withColumn("tokseq", regexp_replace(col("word"), "(.)", SEP + "$1" + SEP))
    val vocab = (0 until rounds).foldLeft(vocab0) { (v, _) =>
        v.withColumn("tokseq", mergeRound(col("tokseq")))
      }
      .select(col("word"),
        replace(replace(col("tokseq"), lit(SEP + SEP), lit(" ")), lit(SEP), lit(""))
          .as("tokens"),
        ((length(col("tokseq")) -
          length(replace(col("tokseq"), lit(SEP), lit("")))) / 2).cast("long")
          .as("n_subwords"))
    words.join(broadcast(vocab), "word")
      .select(col("id"), col("word_pos").cast("long").as("word_pos"), col("word"),
        col("tokens"), col("n_subwords"))
  }

  /** Per-document subword counts from [[bpeTokenize]] — the budget
    * measure for mixing/packing decisions: (id, n_words, n_subwords).
    */
  def subwordCounts(df: DataFrame, idCol: Column, textCol: Column,
      merges: Seq[(String, String)] = BPE_MERGES, rounds: Int = 8): DataFrame =
    bpeTokenize(df, idCol, textCol, merges, rounds)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_subwords")).as("n_subwords"))

  /** Per-document token-distribution stats — the cheap lexical-
    * diversity filters a corpus pipeline runs next to [[qualityScore]]:
    * keyword-stuffed/boilerplate pages have low entropy and low
    * type-token ratio; organic prose sits high on both.
    *
    *  - `entropy_unat`: Shannon entropy of the WITHIN-document token
    *    distribution in integer micro-nats, via
    *    H = ln(n) - (1/n) * sum_t c_t ln(c_t). Each c*ln(c) term is
    *    quantized to the micro-nat grid BEFORE summing (q101's
    *    discipline), and the division is integer floor-div — so
    *    aggregation order can never perturb the result and any engine
    *    replays it exactly.
    *  - `ttr_pm`: type-token ratio in integer per-mille
    *    (n_types * 1000 div n_tokens) — pure integer arithmetic.
    *
    * Scale: explode + two doc_id-keyed aggregations; the shuffle
    * carries (doc_id, term) counters, map-side combined. No global
    * state, no vocabulary table.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.intmath.ldiv
    val freq = df.select(col(idCol), explode(tokens(textCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_c"))
    freq.groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(micro(col("_c").cast("double") * log(col("_c").cast("double")))).as("_clc"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        ldiv(col("n_types") * 1000, col("n_tokens")).as("ttr_pm"),
        (micro(log(col("n_tokens").cast("double"))) -
          ldiv(col("_clc"), col("n_tokens"))).as("entropy_unat"))
  }

  /** Word-boundary phrase search via an inverted n-gram index — the
    * "find every document containing this exact phrase" query
    * (quote detection, benchmark-prompt lookup, dataset audits) run
    * the way a search engine runs it, not the way a LIKE scan does.
    *
    * Plan: postings = one explode of each doc's DISTINCT word
    * n-grams (built once, reusable across queries — the inverted
    * index); each phrase contributes its n-gram set as a broadcast
    * literal frame; a candidate is a doc whose posting set covers
    * the phrase's gram set (one broadcast join + one
    * count-distinct-per-(phrase, doc) against the required count);
    * candidates then pass the EXACT padded-contains verify on their
    * text. Candidates ⊇ true matches by construction (a doc
    * containing the phrase contains every one of its n-grams), so
    * with the verify the result EQUALS the naive definition — the
    * oracle states `contains(' '||text||' ', ' '||phrase||' ')` over
    * the full corpus and the hash match proves the index path
    * lossless. At corpus scale the win is the probe: only postings
    * of the phrase's grams are touched (gram-key join, pruned by the
    * broadcast), and the expensive full-text verify runs on
    * candidates only, never the corpus.
    *
    * Phrases must each carry >= n tokens (shorter ones have no
    * n-gram and would match nothing — rejected eagerly). Output:
    * (phrase, idCol) matches.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], n: Int = 2): DataFrame = {
    require(phrases.nonEmpty, "at least one phrase required")
    val spark = docs.sparkSession
    import spark.implicits._
    val short = phrases.filter(_.split(" ", -1).length < n)
    require(short.isEmpty,
      s"phrases need >= $n tokens for the $n-gram index: ${short.mkString("; ")}")
    val phraseGrams = phrases.distinct.flatMap { p =>
      p.split(" ", -1).sliding(n).map(g => (p, g.mkString(" "))).toSeq.distinct
    }.toDF("phrase", "gram")
    val gramCounts = phraseGrams.groupBy(col("phrase"))
      .agg(count(lit(1)).as("_ng"))
    val postings = docs.select(col(idCol),
      explode(array_distinct(
        graft.functions.shingles.wordShingles(col(textCol), n))).as("gram"))
    val cands = postings.join(broadcast(phraseGrams), "gram")
      .groupBy(col("phrase"), col(idCol))
      .agg(count(lit(1)).as("_hit"))
      .join(broadcast(gramCounts), "phrase")
      .where(col("_hit") === col("_ng"))
      .select(col("phrase"), col(idCol))
    cands.join(docs.select(col(idCol), col(textCol)), idCol)
      .where(concat(lit(" "), col(textCol), lit(" "))
        .contains(concat(lit(" "), col("phrase"), lit(" "))))
      .select(col("phrase"), col(idCol))
  }

  /** PII scrubbing pass (round 16; counts/anchoring hardened round
    * 17) — the redaction step every production training-data pipeline
    * runs before text leaves the curation boundary: emails,
    * North-American-style phone numbers and SSN-shaped ids are
    * replaced with typed placeholder tokens, and per-type match
    * counts are emitted BESIDE the scrubbed text so the pipeline can
    * alarm on PII-dense sources instead of silently laundering them.
    * Patterns are deliberately RE2-safe (character classes, bounded
    * repetition, alternation and capture groups only — no
    * backreferences or lookaround), so the same regexes run
    * identically under Java's engine here and RE2-family engines
    * elsewhere.
    *
    * Round-17 hardening (both were ADVICE findings):
    *  - The numeric shapes are BOUNDARY-ANCHORED — `(^|[^0-9-])` /
    *    `($|[^0-9-])` around the digit groups — so a phone/SSN-shaped
    *    substring INSIDE a longer digit-dash run (an 11-digit id, a
    *    part number) is never partially redacted. Lookaround is not
    *    RE2-safe, so the boundaries are consuming groups restored by
    *    `$1`/`$3` in the replacement; because a consumed trailing
    *    boundary hides an IMMEDIATELY adjacent second match, each
    *    anchored replacement runs twice (the second pass catches the
    *    odd/even leftovers — deterministic in any engine).
    *  - Counts are derived FROM THE REDACTIONS, not re-matched on the
    *    original text: each stage's count is the placeholder-
    *    occurrence delta across that stage (exact integer
    *    `(len_before_strip - len_after_strip) / len(placeholder)`
    *    arithmetic on literal `replace`, no regex), so a phone
    *    swallowed by the email replacement is counted as the EMAIL it
    *    was part of — counts always agree with the emitted text.
    *
    * Shape: one narrow projection — regexp_replace + length
    * arithmetic per row, no shuffle, no UDF.
    */
  def scrubPii(df: DataFrame, idCol: Column, textCol: Column,
      carry: Seq[String] = Nil): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "(^|[^0-9-])(\\d{3}-\\d{3}-\\d{4})($|[^0-9-])"
    val ssn = "(^|[^0-9-])(\\d{3}-\\d{2}-\\d{4})($|[^0-9-])"
    def twice(c: Column, pat: String, rep: String): Column =
      regexp_replace(regexp_replace(c, pat, rep), pat, rep)
    // occurrences of the literal `tok` in `c`: exact length arithmetic
    // over literal replace — no regex, no escaping concerns
    def occ(c: Column, tok: String): Column =
      ((length(c) - length(replace(c, lit(tok), lit("")))) / tok.length)
        .cast("long")
    val t1 = regexp_replace(textCol, email, "[EMAIL]")
    val t2 = twice(t1, phone, "$1[PHONE]$3")
    val t3 = twice(t2, ssn, "$1[SSN]$3")
    // `carry` columns pass straight through (optimization round 18):
    // composed pipelines (the spine) used to re-join this projection
    // against its own input on doc_id just to restore `lang` — a
    // corpus-wide exchange pair for a column that was already in hand.
    // The feed is widened (Par.widen, gated no-op at scale): five
    // regex passes per row are the cost here, and a single-row-group
    // input would otherwise run them all on one core.
    graft.operators.Par.widen(df.filter(idCol.isNotNull && textCol.isNotNull))
      .select(Seq(idCol.as("doc_id")) ++ carry.map(col) ++ Seq(
        textCol.as("_t0"), t1.as("_t1"), t2.as("_t2"), t3.as("_t3")): _*)
      .select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        (occ(col("_t1"), "[EMAIL]") - occ(col("_t0"), "[EMAIL]")).as("n_emails"),
        (occ(col("_t2"), "[PHONE]") - occ(col("_t1"), "[PHONE]")).as("n_phones"),
        (occ(col("_t3"), "[SSN]") - occ(col("_t2"), "[SSN]")).as("n_ssns"),
        col("_t3").as("clean_text")): _*)
  }

  /** Gopher-style REPETITION signals (round 16; Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", appendix A — the public
    * repetition filters production pre-training pipelines run): per
    * document, (a) for each n in `topNs`, the fraction of the
    * document's CHARACTERS covered by its single most frequent word
    * n-gram (count x gram length / doc length — a page that is one
    * slogan repeated scores near 1), and (b) for `dupN`, the fraction
    * of n-gram OCCURRENCES whose gram appears more than once (the
    * duplicated-n-gram signal; Gopher's char-weighted variant is
    * ill-defined under overlaps, so the occurrence fraction is the
    * deterministic adaptation — documented, not hidden). Ties for
    * the top gram break to the lexicographically smallest.
    *
    * Shape: per-row native shingle arrays (graft.functions.shingles —
    * NO higher-order-function lambdas: the first formulation built
    * grams with transform+slice per row and spent ~10 s at sf0.1
    * interpreting lambda trees; an interim one shuffled the token
    * stream by doc_id just to `lead` n-1 tokens ahead — the round-18
    * optimization pass moved that look-ahead inside the row), then
    * one (doc, n, gram) count shuffle (map-side combined), one
    * per-(doc, n) fold, one pivot back to a row per document.
    * Fractions on the 1e-6 floor grid.
    */
  def repetitionStats(df: DataFrame, idCol: Column, textCol: Column,
      topNs: Seq[Int] = Seq(2, 3, 4), dupN: Int = 5): DataFrame = {
    require(topNs.nonEmpty && (topNs :+ dupN).forall(_ >= 1),
      s"n-gram sizes must be >= 1, got topNs=$topNs dupN=$dupN")
    val allNs = (topNs :+ dupN).distinct.sorted
    // Gram construction is one NARROW generate pair per row
    // (optimization round 18): the native
    // [[graft.functions.shingles.wordShingles]] expression emits each
    // n's gram array inside the row, so the old posexplode ->
    // Exchange(doc_id) -> Sort -> Window(lead x maxN-1) pipeline —
    // a full token-stream shuffle whose only purpose was looking
    // n-1 tokens ahead — disappears from the plan (plan diff:
    // 2 Exchange -> 1, the remaining one is the (doc, n, gram) count
    // shuffle, now fed map-side). Gram strings are identical: same
    // `split` tokenization (trailing empties kept), same space joins,
    // windows never cross documents, and a doc shorter than n grams
    // emits an empty array exactly where every lead was null before.
    val rows = df
      .filter(idCol.isNotNull && textCol.isNotNull)
      .select(idCol.as("doc_id"), length(textCol).as("n_chars"),
        explode(array(allNs.map(n => struct(lit(n).as("n"),
          graft.functions.shingles.wordShingles(textCol, n).as("grams"))): _*))
          .as("_g"))
      .select(col("doc_id"), col("n_chars"), col("_g.n").as("n"),
        explode(col("_g.grams")).as("gram"))
    // ONE shuffle for all three aggregation grains (guide §2.4 "two
    // operations keyed the same way can share one exchange"): the
    // explicit doc_id repartition satisfies every downstream
    // clustering — (doc, n, gram) count, the per-(doc, n) fold, the
    // per-doc pivot — so none of them exchanges again (without it the
    // planner inserts three successively-narrower exchanges).
    val counts = rows.repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("n_chars"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    // per (doc, n): total occurrences, duplicated occurrences, and the
    // top gram via min(struct(-cnt, gram)) — largest count, ties to
    // the smallest gram, one aggregation instead of a ranking window
    val pern = counts.groupBy(col("doc_id"), col("n_chars"), col("n"))
      .agg(sum(col("cnt")).as("total"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_occ"),
        min(struct((-col("cnt")).as("nc"), col("gram").as("g"))).as("top"))
      .select(col("doc_id"), col("n"),
        graft.functions.quantize.q6(
          ((-col("top.nc")) * length(col("top.g"))).cast("double") /
            col("n_chars")).as("top_frac"),
        graft.functions.quantize.q6(
          col("dup_occ").cast("double") / col("total")).as("dup_frac"))
    val aggs =
      topNs.map(n => max(when(col("n") === n, col("top_frac")))
        .as(s"top${n}_frac")) :+
      max(when(col("n") === dupN, col("dup_frac"))).as(s"dup${dupN}_frac")
    pern.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .na.fill(0.0) // a doc shorter than n grams has no rows for that n
  }

  /** The Gopher gate's thresholds as one value — what
    * [[graft.streaming.StreamingOps.curationStream]] takes to run
    * this gate as its quality stage (round 17).
    */
  final case class GopherGate(minWords: Long, maxWords: Long,
      minMeanLen: Double, maxMeanLen: Double, stopWords: Seq[String],
      minStopHits: Long, maxTop2Frac: Double)

  /** [[gopherQualityGate]] from a [[GopherGate]] parameter bundle. */
  def gopherQualityGate(df: DataFrame, idCol: Column, textCol: Column,
      g: GopherGate): DataFrame =
    gopherQualityGate(df, idCol, textCol, g.minWords, g.maxWords,
      g.minMeanLen, g.maxMeanLen, g.stopWords, g.minStopHits, g.maxTop2Frac)

  /** Gopher-style QUALITY GATE (round 16; Rae et al. 2021 appendix A
    * — the rule set, with thresholds as parameters because they are
    * corpus-tuned in every production pipeline): a document keeps iff
    * (1) its word count lies in [minWords, maxWords], (2) its mean
    * word length lies in [minMeanLen, maxMeanLen], (3) it contains at
    * least `minStopHits` occurrences of the given stop words (the
    * "must contain 2 of the/be/to/of/and/..." rule), and (4) its
    * top-2-gram character fraction ([[repetitionStats]]) does not
    * exceed `maxTop2Frac`. Emits every signal plus the composite
    * `keep` so downstream curation can audit which rule fired —
    * the [[graft.operators.CorpusOps]] disposition discipline.
    *
    * Shape: rules 1-3 are NARROW per-row folds over the token array;
    * rule 4 joins [[repetitionStats]]'s one-shuffle output back on
    * doc_id. Mean word length uses the 1e-6 grid. A document with
    * fewer than 2 tokens has no 2-gram, so it has no repetition row
    * and DROPS from the gate (the inner join) — pre-filter or score
    * such fragments separately; a real pipeline's minWords floor is
    * far above 2 anyway.
    */
  def gopherQualityGate(df: DataFrame, idCol: Column, textCol: Column,
      minWords: Long, maxWords: Long, minMeanLen: Double,
      maxMeanLen: Double, stopWords: Seq[String], minStopHits: Long,
      maxTop2Frac: Double): DataFrame = {
    require(stopWords.nonEmpty, "stopWords must be non-empty")
    val narrow = gopherNarrow(df, idCol, textCol, stopWords, Nil)
    val top2 = repetitionStats(df, idCol, textCol, topNs = Seq(2), dupN = 2)
      .select(col("doc_id"), col("top2_frac"))
    narrow.join(top2, "doc_id")
      .withColumn("keep", gopherKeep(minWords, maxWords, minMeanLen,
        maxMeanLen, minStopHits, maxTop2Frac))
  }

  /** Rules 1-3's narrow per-row signal projection — the shared front
    * of [[gopherQualityGate]] and [[gopherQualityGateAll]]. `carry`
    * columns pass straight through (the scrubPii carry note).
    */
  private def gopherNarrow(df: DataFrame, idCol: Column, textCol: Column,
      stopWords: Seq[String], carry: Seq[String]): DataFrame = {
    val toks = split(textCol, " ")
    df.filter(idCol.isNotNull && textCol.isNotNull)
      .select(Seq(idCol.as("doc_id")) ++ carry.map(col) ++ Seq(
        size(toks).cast("long").as("n_words"),
        graft.functions.quantize.q6(
          aggregate(transformArray(toks, t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).cast("double") / size(toks))
          .as("mean_word_len"),
        size(filterArray(toks, t => t.isInCollection(stopWords)))
          .cast("long").as("stop_hits")): _*)
  }

  /** The gate's composite keep rule over the four signal columns. */
  private def gopherKeep(minWords: Long, maxWords: Long, minMeanLen: Double,
      maxMeanLen: Double, minStopHits: Long, maxTop2Frac: Double): Column =
    col("n_words").between(minWords, maxWords) &&
      col("mean_word_len").between(minMeanLen, maxMeanLen) &&
      (col("stop_hits") >= minStopHits) &&
      (col("top2_frac") <= maxTop2Frac)

  /** [[gopherQualityGate]] with EVERY input row in the output
    * (optimization round 18): the repetition side joins LEFT, and a
    * document with no 2-gram — which the inner gate drops — keeps
    * `keep = false` explicitly (too short is a fail, not a crash: the
    * exact rule [[graft.operators.CorpusOps.pretrainingRun]] used to
    * re-derive by left-joining the inner gate back onto its own input
    * on doc_id, paying a second corpus-wide exchange pair). `carry`
    * columns pass straight through for the same reason.
    */
  def gopherQualityGateAll(df: DataFrame, idCol: Column, textCol: Column,
      g: GopherGate, carry: Seq[String] = Nil): DataFrame = {
    require(g.stopWords.nonEmpty, "stopWords must be non-empty")
    val narrow = gopherNarrow(df, idCol, textCol, g.stopWords, carry)
    val top2 = repetitionStats(df, idCol, textCol, topNs = Seq(2), dupN = 2)
      .select(col("doc_id"), col("top2_frac"))
    narrow.join(top2, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(gopherKeep(g.minWords, g.maxWords,
        g.minMeanLen, g.maxMeanLen, g.minStopHits, g.maxTop2Frac),
        lit(false)))
  }

  /** The C4 line-level cleaner's thresholds + page-level word list as
    * one value — the [[GopherGate]] discipline, so streaming and
    * spine compositions take the whole policy as a single frozen
    * parameter.
    */
  final case class C4Policy(badWords: Seq[String],
      minWordsPerLine: Int = 3, minKeptLines: Int = 5)

  /** C4-style cleaning (round 18; Raffel et al. 2020 §2.2 — the
    * heuristics that built the C4 corpus, minus the langdetect and
    * three-sentence-span steps which exist separately as
    * [[languageId]] and [[graft.operators.Dedup.crossDocSpans]]):
    *
    * LINE rules — a line of the page survives iff it (1) ends in a
    * terminal punctuation mark (`.` `!` `?` `"`), (2) has at least
    * `minWordsPerLine` space-separated words, and (3) does not
    * contain the token "javascript" (case-insensitive substring, the
    * boilerplate-warning rule).
    *
    * PAGE rules — the whole page drops if it (4) contains the phrase
    * "lorem ipsum" (case-insensitive), (5) contains a curly brace
    * `{` (code), (6) contains any word from `badWords`
    * (whole-token match on the lowercased space/newline-split page —
    * C4 used the public "List of Dirty, Naughty …" list; the list is
    * a parameter because it is deployment-tuned), or (7) keeps fewer
    * than `minKeptLines` lines after the line rules (C4's
    * five-sentence floor, with "kept line" as the sentence unit —
    * a deterministic adaptation, documented not hidden).
    *
    * Emits every signal (`n_lines`, `kept_lines`, `has_lorem`,
    * `has_brace`, `has_badword`) plus the composite `keep` and the
    * rebuilt `clean_text` (kept lines re-joined with `\n`) so
    * downstream curation can audit which rule fired — the
    * [[graft.operators.CorpusOps]] disposition discipline.
    *
    * Shape: pure per-row column expressions over the line array —
    * NARROW, shuffle-free, embarrassingly parallel; at 100 TB this
    * is a map over the corpus scan with no exchange at all. The
    * terminal-punct test is a last-char `isin`, not a regex, so both
    * engines (and any SQL mirror) agree byte-for-byte.
    */
  def c4Clean(df: DataFrame, idCol: Column, textCol: Column,
      p: C4Policy): DataFrame =
    c4Clean(df, idCol, textCol, p.badWords, p.minWordsPerLine,
      p.minKeptLines)

  /** [[c4Clean]] from a policy bundle with carry columns (the
    * overload split keeps Scala's one-default-argument-list rule).
    */
  def c4CleanCarry(df: DataFrame, idCol: Column, textCol: Column,
      p: C4Policy, carry: Seq[String]): DataFrame =
    c4Clean(df, idCol, textCol, p.badWords, p.minWordsPerLine,
      p.minKeptLines, carry)

  def c4Clean(df: DataFrame, idCol: Column, textCol: Column,
      badWords: Seq[String], minWordsPerLine: Int = 3,
      minKeptLines: Int = 5, carry: Seq[String] = Nil): DataFrame = {
    require(badWords.nonEmpty, "badWords must be non-empty (C4's word list)")
    require(minWordsPerLine >= 1 && minKeptLines >= 1,
      s"line/page floors must be >= 1, got $minWordsPerLine/$minKeptLines")
    val lines = split(textCol, "\n")
    val keptLines = filterArray(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        (size(split(l, " ")) >= minWordsPerLine) &&
        !contains(lower(l), lit("javascript")))
    // page-level word check on the lowercased page with newlines
    // flattened to spaces, so line-boundary tokens split cleanly
    val pageToks = split(translate(lower(textCol), "\n", " "), " ")
    // `carry` columns pass straight through (optimization round 18,
    // the scrubPii note): the cleaner is narrow, so restoring a
    // caller column by re-joining on doc_id paid a corpus exchange
    // pair for nothing. Widened like scrubPii: the line-rule lambdas
    // are interpreted per row and a single-row-group input would run
    // them on one core.
    graft.operators.Par.widen(df.filter(idCol.isNotNull && textCol.isNotNull))
      .select(Seq(idCol.as("doc_id")) ++ carry.map(col) ++ Seq(
        size(lines).cast("long").as("n_lines"),
        size(keptLines).cast("long").as("kept_lines"),
        contains(lower(textCol), lit("lorem ipsum")).cast("int").as("has_lorem"),
        contains(textCol, lit("{")).cast("int").as("has_brace"),
        exists(pageToks, t => t.isInCollection(badWords)).cast("int")
          .as("has_badword"),
        array_join(keptLines, "\n").as("clean_text")): _*)
      .withColumn("keep",
        ((col("has_lorem") + col("has_brace") + col("has_badword")) === 0 &&
          col("kept_lines") >= minKeptLines).cast("int"))
  }
}
