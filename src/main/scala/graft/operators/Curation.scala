package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators that sit between raw ingestion and the
  * training loader: PII redaction, URL extraction/blocklisting,
  * Gopher-style repetition metrics, benchmark decontamination, and
  * temperature-based source mixing weights.
  *
  * 100 TB design notes (details per operator):
  *  - redaction and URL extraction are narrow codegen'd projections —
  *    zero shuffle, they compose with the scan;
  *  - repetition metrics and decontamination use the inverted-index
  *    shape (explode -> hash-partitioned groupBy with map-side
  *    combine) — the shuffles carry (id, gram-hash, count) tuples,
  *    never documents;
  *  - the eval-set gram table in decontamination is broadcast: eval
  *    benchmarks are small by nature, the corpus side never shuffles
  *    for the join;
  *  - mixing weights aggregate to one row per stratum (tens of rows)
  *    before any window, so the single-partition window is bounded by
  *    the stratum count, not the corpus.
  */
object Curation {

  /** PII patterns chosen to parse identically under Java regex (Spark)
    * and RE2 (DuckDB oracle): no backreferences, no lookarounds.
    */
  val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PHONE_RE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IPV4_RE = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** Redact emails, then phones, then IPv4s (email first: the later
    * patterns cannot match inside the `<EMAIL>` token, so application
    * order is confluent on disjoint matches and documented otherwise).
    * A narrow per-row projection — composes with the scan, no shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EMAIL_RE, "<EMAIL>"),
        PHONE_RE, "<PHONE>"),
      IPV4_RE, "<IP>")

  /** Per-row PII match counts (computed on the ORIGINAL text — counts
    * and redaction must agree, so both read the un-redacted input).
    */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(EMAIL_RE), lit(0))).cast("long"),
    "n_phones" -> size(regexp_extract_all(text, lit(PHONE_RE), lit(0))).cast("long"),
    "n_ips" -> size(regexp_extract_all(text, lit(IPV4_RE), lit(0))).cast("long"))

  /** Extract `http(s)://` URLs from free text and split each into
    * host / path / a query param, flagging hosts with a blocklisted
    * suffix. posexplode keeps the in-document URL order stable.
    * Narrow: regexp + parse_url projections, no shuffle.
    *
    * Matching runs to the next whitespace (never across lines), then
    * trailing sentence punctuation is stripped — "see http://x.bad.net,
    * then..." must parse host "x.bad.net", not "x.bad.net," (which
    * would also dodge a suffix blocklist).
    */
  def extractUrls(df: DataFrame, idCol: String, text: Column,
      blockedSuffixes: Seq[String], queryParam: String = "ref"): DataFrame = {
    val urls = transform(
      regexp_extract_all(text, lit("https?://[^\\s]+"), lit(0)),
      u => regexp_replace(u, "[.,;:!?'\")\\]]+$", ""))
    val blocked = blockedSuffixes
      .map(s => col("url_host").endsWith(s))
      .reduceOption(_ || _).getOrElse(lit(false))
    df.select(col(idCol), posexplode(urls).as(Seq("url_idx", "url")))
      .withColumn("url_host", parse_url(col("url"), lit("HOST")))
      .withColumn("url_path", parse_url(col("url"), lit("PATH")))
      .withColumn("url_" + queryParam,
        coalesce(parse_url(col("url"), lit("QUERY"), lit(queryParam)), lit("")))
      .withColumn("blocked", blocked.cast("int"))
  }

  /** Gopher-style repetition metrics: duplicate-2-gram fraction,
    * top-2-gram fraction, duplicate-3-gram fraction, and a filter flag.
    * All fractions are exact integer divisions (bit-identical on any
    * engine / partitioning), so the flag thresholds compare raw values.
    *
    * Shape: explode n-grams -> groupBy(doc, gram) count -> groupBy(doc)
    * — the inverted-index build, twice (n=2,3), joined on the doc key.
    * Shuffles carry (doc, gram-hash, count); map-side combine applies
    * at both levels. No per-doc work is quadratic in doc length.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, text: Column,
      dupFrac2Flag: Double = 0.05, topFrac2Flag: Double = 0.10): DataFrame = {
    def gramStats(n: Int, p: String): DataFrame =
      df.select(col(idCol),
          explode(graft.functions.shingles.wordShingles(text, n)).as("_g"))
        .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
        .groupBy(col(idCol)).agg(
          sum(col("_c")).as(s"n_$p"),
          count(lit(1)).as(s"d_$p"),
          max(col("_c")).as(s"top_$p"))
    val q6 = graft.functions.quantize.q6 _
    // fractions are 0 (not absent) for docs too short to have n-grams:
    // a curation pipeline keeping flagged=0 rows must pass short docs
    // through, not silently lose them to an inner join / empty explode
    val dupFrac2 = coalesce(lit(1.0) - col("d_g2").cast("double") / col("n_g2"), lit(0.0))
    val topFrac2 = coalesce(col("top_g2").cast("double") / col("n_g2"), lit(0.0))
    val dupFrac3 = coalesce(lit(1.0) - col("d_g3").cast("double") / col("n_g3"), lit(0.0))
    df.select(col(idCol))
      .join(gramStats(2, "g2"), Seq(idCol), "left")
      .join(gramStats(3, "g3"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_g2"), lit(0L)).cast("long").as("n_2grams"),
        q6(dupFrac2).as("dup_frac_2"),
        q6(topFrac2).as("top_frac_2"),
        q6(dupFrac3).as("dup_frac_3"),
        (dupFrac2 > dupFrac2Flag || topFrac2 > topFrac2Flag).cast("int").as("flagged"))
  }

  /** The contamination kernel's gram step: one row per DISTINCT word
    * `n`-gram of each row of `df`, as the `keep` columns plus
    * `_h = hash48(gram)`. [[decontaminate]], [[decontaminateBloom]],
    * [[evalContamination]], the curation pipeline's and the curation
    * stream's eval gates and the published eval-gram table all derive
    * their grams here, so they agree on the grain.
    */
  private[graft] def gramHashes(df: DataFrame, keep: Seq[String], text: Column,
      n: Int): DataFrame =
    df.select(keep.map(col) :+ explode(array_distinct(
        graft.functions.shingles.wordShingles(text, n))).as("_g"): _*)
      .select(keep.map(col) :+ Dedup.hash48(col("_g")).as("_h"): _*)

  /** The rows of `grams` whose `_h` is in `evalSet`: a left-semi join
    * against the BROADCAST eval set — eval benchmarks are small by
    * nature, so the corpus side never shuffles for the join.
    */
  private[graft] def sharedGrams(grams: DataFrame, evalSet: DataFrame): DataFrame =
    grams.join(broadcast(evalSet), Seq("_h"), "left_semi")

  /** The per-doc contamination row: every id of `ids`, the `perDoc`
    * frames (keyed by `idCol`, carrying `n_grams` / `n_matched`)
    * left-joined on in order, projected to (n_grams, n_matched,
    * contam_frac, contaminated). Docs shorter than n tokens have no
    * grams: they are CLEAN rows (n_grams=0, contaminated=0), not absent
    * ones — a keep-set built from this output must include them.
    */
  private[graft] def contamStats(ids: DataFrame, idCol: String,
      perDoc: DataFrame*): DataFrame =
    perDoc.foldLeft(ids.select(col(idCol)))(_.join(_, Seq(idCol), "left"))
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        graft.functions.quantize.q6(coalesce(
          col("n_matched").cast("double") / col("n_grams"), lit(0.0))).as("contam_frac"),
        (coalesce(col("n_matched"), lit(0L)) > 0).cast("int").as("contaminated"))

  /** Per id of `grams`: its gram count and how many of its grams are in
    * `matched` (a distinct `_h` set), through one broadcast LEFT join,
    * so the totals and the matches come from the same pass.
    */
  private def matchCounts(grams: DataFrame, idCol: String,
      matched: DataFrame): DataFrame =
    grams.join(broadcast(matched.withColumn("_m", lit(1))), Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_m"), lit(0))).cast("long").as("n_matched"))

  /** The exact-dup keeper tag of the curation pipeline and stream: each
    * row of `df` (doc_id, text, ...) gains `_md5` of its text and
    * `_keeper`, the lowest doc_id with that md5. A groupBy(min) joined
    * back, not a window: one row per distinct text goes through the
    * shuffle, and a skewed text is an AQE-splittable join instead of
    * one window partition.
    */
  private[graft] def keeperTagged(df: DataFrame): DataFrame = {
    val tagged = df.withColumn("_md5", md5(encode(col("text"), "UTF-8")))
    tagged.join(
      tagged.groupBy(col("_md5")).agg(min(col("doc_id")).as("_keeper")),
      Seq("_md5"))
  }

  /** Benchmark decontamination by n-gram overlap (the GPT-3/PaLM
    * method): hash each corpus document's distinct word n-grams and
    * count how many appear in the eval set's gram table. Returns one
    * row per corpus doc with (n_grams, n_matched, contam_frac,
    * contaminated).
    *
    * Scale: the eval gram table is derived from the (small, by nature)
    * benchmark set and broadcast — the corpus side is explode ->
    * broadcast-join -> groupBy(doc), i.e. one hash-partitioned shuffle
    * of (doc, count) partials; corpus documents never shuffle.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      text: Column, n: Int = 8): DataFrame = {
    val evalSet = gramHashes(evalDocs, Nil, text, n).distinct()
    contamStats(corpus, idCol,
      matchCounts(gramHashes(corpus, Seq(idCol), text, n), idCol, evalSet))
  }

  /** Benchmark decontamination with a BLOOM-FILTER prefilter — the
    * 100 TB form of [[decontaminate]]. Same output contract (one row
    * per corpus doc: n_grams, n_matched, contam_frac, contaminated),
    * EXACT results: the bloom filter admits false positives but never
    * false negatives, so probing it first and exact-confirming the
    * survivors against the gram table yields byte-identical output to
    * the pure exact path (the oracle is the same SQL as q84's).
    *
    * Why this beats the plain broadcast join at scale: the corpus side
    * explodes to one row per distinct gram — trillions at 100 TB. The
    * bloom probe is a narrow, broadcast-bits membership test applied
    * IN THE SCAN STAGE, so only the ~fpp false-positive fraction plus
    * true matches ever reach the confirm join; the join input shrinks
    * by ~100x at fpp=0.01 while the n_grams totals come from a
    * join-free map-side-combined count. The filter itself is built
    * with one distributed aggregation over the (small, by contract)
    * eval set — a bounded driver-side materialization of ~1.2 MB at
    * the default sizing, broadcast once, the same bounded-build
    * contract as [[Similarity.trainKMeans]].
    *
    * The probe is a Scala UDF (no builtin bloom probe exists in the
    * public API): non-codegen but a few ns per row against broadcast
    * bits, and it removes ~99% of rows from the shuffle-side join —
    * the trade every runtime-filter implementation makes.
    */
  def decontaminateBloom(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      text: Column, n: Int = 8, expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val evalSet = gramHashes(evalDocs, Nil, text, n).distinct()
    val bf = evalSet.stat.bloomFilter("_h", expectedItems, fpp)
    val bfBc = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bfBc.value.mightContainLong(h))
    val corpusGrams = gramHashes(corpus, Seq(idCol), text, n)
    // branch 1: per-doc gram totals — join-free, map-side combined
    val totals = corpusGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    // branch 2: bloom-positive grams, exact-confirmed via semi join
    val matched = sharedGrams(corpusGrams.filter(mightContain(col("_h"))), evalSet)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"))
    contamStats(corpus, idCol, totals, matched)
  }

  /** Contamination severity per EVAL doc — the transpose of
    * [[decontaminate]]: for each eval doc, the fraction of its
    * distinct n-grams present ANYWHERE in the training corpus. This
    * is the direction benchmark maintainers audit ("is my eval set
    * leaked?"), where [[decontaminate]] answers the corpus curator's
    * question ("which training docs must I drop?").
    *
    * Scale shape (the corpus is the 100 TB side here, so it must be
    * scanned once and never carry the join): the eval gram set is
    * small by contract and BROADCASTS; corpus grams semi-join against
    * it in the scan stage, so only grams that occur in the eval set
    * — at most |eval grams| distinct values — survive into the
    * `hits` distinct. `hits` is then itself broadcast back onto the
    * per-eval-doc gram table. Both joins are broadcast; the only
    * shuffle over corpus-derived data is the distinct on the
    * post-filter survivor set, bounded by the eval gram count, not
    * the corpus.
    *
    * Same short-doc contract as [[decontaminate]]: an eval doc with
    * fewer than n tokens has no grams and reports a CLEAN row.
    */
  def evalContamination(corpus: DataFrame, evalDocs: DataFrame,
      idCol: String, text: Column, n: Int = 8): DataFrame = {
    val evalGrams = gramHashes(evalDocs, Seq(idCol), text, n)
    val hits = sharedGrams(gramHashes(corpus, Nil, text, n),
      evalGrams.select(col("_h")).distinct()).distinct()
    contamStats(evalDocs, idCol, matchCounts(evalGrams, idCol, hits))
  }

  /** Temperature-based source mixing weights (alpha = 0.5, the
    * sqrt-temperature rule used for multilingual/multi-source corpus
    * balancing): weight_s ∝ sqrt(share_s), normalized. Returns one row
    * per stratum with token share, sampling weight and the implied
    * up/down-weighting factor.
    *
    * Determinism: shares are exact integer divisions; sqrt is IEEE
    * correctly-rounded (bit-identical everywhere); the normalizing sum
    * runs over INTEGER-QUANTIZED weights (1e-9 grid), so its result
    * cannot depend on floating-point addition order — the same trick
    * as the repo-wide integer-cents aggregation.
    *
    * Scale: one map-side-combined groupBy to tens of stratum rows;
    * the unpartitioned window after it is bounded by the stratum
    * count, not the corpus.
    */
  def mixingWeights(df: DataFrame, stratum: Column, tokenCount: Column): DataFrame = {
    val q6 = graft.functions.quantize.q6 _
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val agg = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount.cast("long")).as("n_tokens"))
    agg
      .withColumn("share", col("n_tokens").cast("double") / sum(col("n_tokens")).over(wAll))
      .withColumn("_w", floor(sqrt(col("share")) * 1e9 + lit(0.5)).cast("long"))
      .withColumn("weight", col("_w").cast("double") / sum(col("_w")).over(wAll))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        q6(col("share")).as("share"),
        q6(col("weight")).as("weight"),
        q6(col("weight") / col("share")).as("upweight"))
  }
}
