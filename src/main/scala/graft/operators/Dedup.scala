package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{transform => transformArray}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * 100 TB design: every operator reduces to hash-partitioned groupBy /
  * equi-join — no global sorts, no cross products. The LSH band join is
  * the scale path: candidate generation shuffles on (band, signature)
  * keys so work is distributed by bucket; only candidates (a tiny
  * fraction of n^2) reach the exact-Jaccard verification. Hash seeds
  * are fixed constants for cross-run determinism.
  */
object Dedup {

  /** First 48 bits of md5 as a positive long — a deterministic string
    * hash computable identically in any engine (the oracle replicates
    * it as `CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT)`),
    * unlike Spark's murmur3 `hash()` which is engine-specific. Backed
    * by the native [[graft.functions.Hash48]] expression (md5 bytes
    * folded directly — no hex-string round trip in the shingle loop).
    */
  def hash48(s: Column): Column = graft.functions.codecs.hash48(s)

  /** Fixed MinHash seed pairs (a_k * h + b_k mod P). */
  val MINHASH_A: Seq[Long] = Seq(2971L, 6011L, 9103L, 3301L, 7873L, 4409L, 9973L, 5087L)
  val MINHASH_B: Seq[Long] = Seq(1409L, 2003L, 3947L, 4241L, 5443L, 6367L, 7237L, 8147L)
  val MINHASH_P: Long = 1000000007L

  /** Word n-gram shingles (default 3) over single-space tokenization.
    * Native expression — the array-lambda formulation re-tokenizes the
    * text per element (see graft.functions.ShingleExpression scaladoc).
    */
  def wordShingles(textCol: String, n: Int = 3): Column =
    graft.functions.shingles.wordShingles(col(textCol), n)

  /** Character n-gram shingles. */
  def charShingles(textCol: String, n: Int = 4): Column =
    graft.functions.shingles.charShingles(col(textCol), n)

  /** Exact dedup: group identical payloads by content hash, keep the
    * smallest id (deterministic winner). Map-side partial aggregation
    * makes this one shuffle of (hash, min-id, count) — not of payloads.
    */
  def exact(df: DataFrame, idCol: String, payload: Column): DataFrame =
    df.groupBy(md5(encode(payload, "UTF-8")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** The k MinHash lanes of one row, as an array: lane i is the
    * minimum of the seeded hash `(A_i * h + B_i) mod P` over the row's
    * shingle hashes ([[graft.functions.MinHashLanes]], one native pass).
    * Null when the row has no shingle hash. Batch signatures, batch
    * bands and the stream's band keys all come from here.
    *
    * `hs` must be a BOUND column (the `_hs` of a
    * [[prepareHashedShingles]] frame), never an inline hash
    * expression, and callers bind the lanes array once before reading
    * its items: an expression repeated per lane runs per lane (the
    * stream's former band keys ran shingling + md5 9 times per row;
    * PlanSpec pins one `hash48` per scan and one `minhash_lanes` per
    * band side).
    */
  private[graft] def minhashLanes(hs: Column, k: Int): Column = {
    require(k <= MINHASH_A.length,
      s"k=$k exceeds the ${MINHASH_A.length} fixed seed pairs")
    graft.functions.minhash.lanes(hs, MINHASH_A.take(k), MINHASH_B.take(k), MINHASH_P)
  }

  /** The LSH band keys of one row's bound lanes array `sigs`
    * ([[minhashLanes]]): an array of k/rowsPerBand
    * `(band_idx, band_key)` structs, band_key laid out `"b:sig:sig"`
    * (the band index embedded, so a bare band_key join is band-aware;
    * band tables on disk use this exact layout). Empty when `sigs` is
    * null: all-null lanes would otherwise put every shingle-less doc in
    * the shared buckets "0".."3" and candidate generation would go
    * quadratic in the short-doc count.
    */
  private[graft] def bandKeys(sigs: Column, k: Int, rowsPerBand: Int): Column = {
    require(k % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide k=$k or trailing signature lanes are silently unused")
    val bands = (0 until k / rowsPerBand).map { b =>
      val key = concat_ws(":",
        (lit(b.toString) +: (0 until rowsPerBand).map(r => sigs.getItem(b * rowsPerBand + r))): _*)
      struct(lit(b).as("band_idx"), key.as("band_key"))
    }
    when(sigs.isNotNull, array(bands: _*)).otherwise(array())
  }

  /** MinHash signatures `(id, sig0..sig{k-1})` of a
    * [[prepareHashedShingles]] frame: narrow projections, no shuffle.
    * A doc with no shingles gets null signatures.
    */
  def minhashSignatures(hashed: DataFrame, idCol: String, k: Int = 8): DataFrame =
    hashed.select(col(idCol), minhashLanes(col("_hs"), k).as("_sig"))
      .select(col(idCol) +: (0 until k).map(i => col("_sig").getItem(i).as(s"sig$i")): _*)

  /** LSH banding of a [[prepareHashedShingles]] frame: one
    * (id, band_idx, band_key) row per band per doc, none for a doc
    * with no shingles. Narrow projections + an explode, so it runs on a
    * streaming frame too. Candidate pairs are an equi-join on the band
    * key — shuffle-partitioned by bucket, never O(n^2).
    */
  def lshBands(hashed: DataFrame, idCol: String, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    hashed.select(col(idCol), minhashLanes(col("_hs"), k).as("_sig"))
      .select(col(idCol), explode(bandKeys(col("_sig"), k, rowsPerBand)).as("_b"))
      .select(col(idCol), col("_b.band_idx"), col("_b.band_key"))

  /** Hot-bucket guardrail: drop the rows of `bands` whose bucket (the
    * `keys` columns) holds more than `cap` rows — one map-side-combined
    * count joined back. The band self-join is quadratic inside a
    * bucket, and a bucket that wide is a near-uninformative key; a
    * pair's other bands still vote. Dropping is part of the recall
    * contract of every caller that enables it.
    */
  private[graft] def dropHotBuckets(bands: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val small = bands.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") <= cap)
      .select(keys.map(col): _*)
    bands.join(small, keys).select(bands.columns.map(col): _*)
  }

  /** Candidate pairs from shared LSH buckets (id1 < id2, distinct). */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("id1"), col("band_idx"), col("band_key"))
    val b = bands.select(col(idCol).as("id2"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Exact Jaccard between two shingle columns. Set semantics come
    * from array_intersect/array_union themselves (both return distinct
    * elements regardless of input duplicates), so no extra
    * array_distinct pass is paid per comparison.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Full MinHash+LSH near-dup pipeline: signatures -> bands ->
    * candidates -> exact-Jaccard verification >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    minhashNearDupsOn(df, idCol, wordShingles(textCol), threshold, k, rowsPerBand)

  /** The `(id, _hs)` frame every MinHash stage consumes: each doc's
    * distinct 48-bit shingle hashes. Exposed so callers can compute it
    * ONCE — persist it or write it as a table — and feed
    * [[minhashSignatures]] / [[lshBands]] / [[minhashNearDupsPrepared]]
    * from the same materialization (the q41/q42/q44 family shares this
    * stage; see DedupQueries.shingled). The md5 pass (the dominant
    * near-dup cost: ~4M hashes at sf0.1 for char-12 shingles) runs
    * once, and the persisted arrays are longs (~8 B/shingle vs
    * ~50 B/shingle for the string form), so the three in-DAG
    * references (bands + both verify sides) read ~32 MB instead
    * of recomputing ~4M md5 calls each. Verification Jaccard over the
    * hashed sets equals string-set Jaccard up to md5[0:48] collisions
    * (p ~ |union|^2 / 2^49 ~ 5e-9 for 1.6k-shingle pairs), and the
    * oracle hashes identically, so both engines see the same sets.
    *
    * Dedup runs AFTER hashing, on the longs: measured 25% cheaper
    * than deduping 12-char strings first (md5 itself is ~10% of the
    * stage; the string hash-set was the cost), and the oracle mirrors
    * it exactly as `list_distinct(list_transform(s, H48))`, so the
    * two engines agree on the set even if a collision ever fired.
    */
  def prepareHashedShingles(df: DataFrame, idCol: String, shingles: Column): DataFrame =
    // NOT widened here (measured, optimization round 18): this frame
    // is multi-referenced by every consumer, so an in-operator widen
    // re-executes its repartition once per reference on un-persisted
    // inputs (q230's eval side regressed 0.73 s -> 1.1 s). Callers
    // that persist the frame widen the feed themselves (see
    // DedupQueries.shingled) — there the repartition runs once into
    // the cache and the md5 pass parallelizes.
    df.select(col(idCol),
      array_distinct(transformArray(shingles, s => hash48(s))).as("_hs"))

  /** Generalized near-dup pipeline over an arbitrary shingle column
    * (word n-grams, char n-grams, ...): LSH candidates -> exact
    * Jaccard. Never materializes all pairs — the only join is the
    * band-key equi-join, so cost scales with true-duplicate density,
    * not n^2 (an all-pairs verify at sf0.1 takes ~460 s; this takes
    * ~5 s for identical output).
    */
  def minhashNearDupsOn(df: DataFrame, idCol: String, shingles: Column,
      threshold: Double, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    minhashNearDupsPrepared(prepareHashedShingles(df, idCol, shingles), idCol,
      threshold, k, rowsPerBand)

  /** Near-dup pipeline over a pre-built `(idCol, _hs)` hashed-shingle
    * frame (see [[prepareHashedShingles]]). The frame is referenced
    * THREE times in the DAG (bands, and both sides of the verify
    * join) — pass a persisted/materialized frame and the shingle+md5
    * derivation runs once, not three times. Verification is exact
    * Jaccard over the hashed sets (same value as string sets up to
    * 48-bit collisions — see prepareHashedShingles).
    */
  def minhashNearDupsPrepared(withHashes: DataFrame, idCol: String,
      threshold: Double, k: Int = 8, rowsPerBand: Int = 2,
      maxBucket: Option[Int] = None): DataFrame = {
    // optional hot-bucket guardrail ([[dropHotBuckets]]): minhash
    // minima concentrate on globally-frequent shingles as the corpus
    // grows. Default None = the exhaustive-banded semantics every
    // existing oracle states.
    val bands = lshBands(withHashes, idCol, k, rowsPerBand)
    val candidates = lshCandidates(
      maxBucket.fold(bands)(dropHotBuckets(bands, Seq("band_idx", "band_key"), _)), idCol)
    val s1 = withHashes.select(col(idCol).as("id1"), col("_hs").as("_hs1"))
    val s2 = withHashes.select(col(idCol).as("id2"), col("_hs").as("_hs2"))
    candidates.join(s1, "id1").join(s2, "id2")
      .withColumn("jac", jaccard(col("_hs1"), col("_hs2")))
      .filter(col("jac") >= threshold)
      .select(col("id1"), col("id2"),
        graft.functions.quantize.q6(col("jac")).as("jaccard"))
  }

  /** FUZZY benchmark decontamination (round 17) — the near-dup
    * generalization of the exact n-gram overlap gate
    * ([[Curation.decontaminate]] / q84/q99): exact overlap misses
    * lightly paraphrased or truncated eval leakage that still shares
    * most of its shingle set. Corpus documents whose shingle-set
    * Jaccard against ANY benchmark document reaches `threshold` are
    * flagged, each with its BEST match (highest quantized Jaccard,
    * ties to the lowest eval id).
    *
    * Both sides are [[prepareHashedShingles]] frames. Candidates come
    * from the SAME banded-MinHash key space computed on each side —
    * a CROSS-FRAME band equi-join, so cost scales with collision
    * density, never |corpus| x |eval| — and survivors verify with
    * exact hashed-set Jaccard. The banding is part of the CONTRACT
    * (the q42 discipline): a pair no band catches is not flagged;
    * with the default 4 bands of 2 rows the catch probability is
    * 1-(1-j^2)^4 (~97% at j=0.7, ~31% at j=0.3) — tune k/rowsPerBand
    * to the S-curve rather than treating this as exhaustive well
    * below the threshold it is banded for.
    *
    * 100 TB shape: the eval side is small by contract but NOTHING
    * here requires it — both sides shuffle only on band keys and the
    * verify join moves candidate pairs' shingle arrays only.
    *
    * HOT-BUCKET GUARDRAIL (round 18, the [[Similarity.bandedAnnPairs]]
    * `maxBucket` discipline): with `rowsPerBand = 1` a band key is a
    * SINGLE minhash value, and minhash minima concentrate on
    * globally-frequent shingles — corpus-side band-bucket occupancy
    * GROWS with corpus size, and the band join degrades quadratically
    * inside hot buckets. `maxBucket = Some(cap)` drops corpus band
    * keys whose occupancy exceeds `cap` BEFORE the join (one
    * map-side-combined count over the band frame). This is part of
    * the recall CONTRACT, like the banding itself: a pair only a hot
    * band would have caught is not flagged — but a hot bucket is by
    * definition a near-uninformative key (a shingle shared by `> cap`
    * documents separates nothing), and the pair's other `k/rowsPerBand - 1`
    * bands still vote. Default None preserves the exhaustive-banded
    * semantics the oracle states; at 100 TB with rowsPerBand = 1, set
    * a cap (SCALE.md carries the measured occupancy/wall lines).
    */
  def fuzzyDecontaminate(corpusHashed: DataFrame, evalHashed: DataFrame,
      idCol: String, threshold: Double, k: Int = 8,
      rowsPerBand: Int = 2, maxBucket: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bandsOf(df: DataFrame, id: String) = lshBands(df, idCol, k, rowsPerBand)
      .select(col(idCol).as(id), col("band_idx"), col("band_key"))
    val corpusBands = bandsOf(corpusHashed, "doc_id")
    val cands = maxBucket
      .fold(corpusBands)(dropHotBuckets(corpusBands, Seq("band_idx", "band_key"), _))
      .join(bandsOf(evalHashed, "eval_id"), Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("_jq").desc, col("eval_id"))
    cands
      .join(corpusHashed.select(col(idCol).as("doc_id"), col("_hs").as("_h1")),
        "doc_id")
      .join(evalHashed.select(col(idCol).as("eval_id"), col("_hs").as("_h2")),
        "eval_id")
      .withColumn("_jq", graft.functions.quantize.q6(jaccard(col("_h1"), col("_h2"))))
      .filter(col("_jq") >= threshold)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("eval_id"), col("_jq").as("jaccard"))
  }

  /** CROSS-DOCUMENT exact substring spans (round 18) — the span-level
    * dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"): find, in every document, the maximal
    * token spans of length >= `n` whose every n-token window also
    * appears in at least one OTHER document. This is the dedup class
    * the doc-level family structurally misses: a 50-token quote
    * shared by two otherwise-different documents changes neither
    * whole-doc hash ([[exactDedup]]) nor doc-level Jaccard enough for
    * MinHash ([[minhashNearDupsOn]]) — but it is exactly the repeated
    * text span-level dedup exists to remove.
    *
    * Definition (mirrors the brute-force oracle): position `p` of doc
    * `d` is SHARED iff the n-gram starting at `p` (single-space
    * tokenization, hashed — the q84/q177 gram discipline) occurs in
    * >= 2 DISTINCT documents; within-doc repetition alone does not
    * count (min(doc) != max(doc) is the exact >= 2-distinct test, no
    * count-distinct needed). Shared positions merge into maximal
    * spans when they overlap or touch (next start <= prev start + n);
    * output one row per merged span: (id, start_tok, end_tok,
    * span_tok), token positions 1-based inclusive.
    *
    * 100 TB shape — and why this never goes quadratic where the naive
    * cross-doc join would: the postings stream (doc, pos, gramHash) is
    * one narrow Generate; the shared-gram table is ONE map-side
    * combined (min, max) aggregate on the hash; membership is an
    * equi-join of postings against that table (cost linear in
    * postings, NEVER doc x doc — a gram shared by a million documents
    * adds a million posting rows, not 10^12 pairs); the merge is one
    * per-document window over the doc's own shared positions. Compare
    * the verify-join families: here there is nothing to verify — the
    * gram hash IS the (48-bit-collision-bounded) evidence, exactly as
    * [[Curation.decontaminate]] treats it.
    */
  def crossDocSpans(df: DataFrame, idCol: String, textCol: Column,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"span grain n must be >= 2 tokens, got $n")
    val postings = df
      .filter(col(idCol).isNotNull && textCol.isNotNull)
      .select(col(idCol),
        posexplode(graft.functions.shingles.wordShingles(textCol, n))
          .as(Seq("_p", "_g")))
      .select(col(idCol), (col("_p") + 1).cast("long").as("pos"),
        hash48(col("_g")).as("_h"))
    val shared = postings.groupBy(col("_h"))
      .agg(min(col(idCol)).as("_lo"), max(col(idCol)).as("_hi"))
      .filter(col("_lo") =!= col("_hi"))
      .select(col("_h"))
    val hits = postings.join(shared, "_h").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val run = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hits
      // fixed-length intervals sorted by start: merge iff the next
      // start is within prev start + n (overlap or adjacency), so a
      // single lag decides the island break — no running-max needed
      .withColumn("_brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + n, 1).otherwise(0))
      .withColumn("_isl", sum(col("_brk")).over(run))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + n - 1).as("end_tok"))
      .select(col(idCol), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tok"))
  }

  /** Cross-document span REDACTION (round 18) — the application Lee
    * et al. 2021 run [[crossDocSpans]] for: remove the duplicated text
    * itself, keeping exactly ONE copy in the corpus. Ownership is per
    * gram: the LOWEST doc id containing an n-gram owns it (the
    * [[exact]] keeper rule at span grain); every position of every
    * OTHER doc covered by a shared n-gram window is cut. Owner docs
    * keep their text; a doc that is a whole copy of a lower-id doc
    * redacts to the empty string. Output one row per input doc:
    * (id, n_redacted_tok, clean_text) — clean text is the surviving
    * tokens re-joined, full strings hash-compared by the oracle.
    *
    * A position can be covered by overlapping windows with DIFFERENT
    * owners; it survives only if NO foreign-owned window covers it —
    * which the per-position flag + island merge handles with no
    * special casing. Same scale shape as [[crossDocSpans]] (postings,
    * one (min, max) aggregate, an equi-join, a per-doc window) plus
    * one per-doc spans list (merged spans are disjoint, their count
    * bounded by the doc's own length) and a narrow rebuild pass.
    */
  def redactCrossDocSpans(df: DataFrame, idCol: String, textCol: Column,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"span grain n must be >= 2 tokens, got $n")
    val base = df.filter(col(idCol).isNotNull && textCol.isNotNull)
      .select(col(idCol), textCol.as("_t"))
    val postings = base
      .select(col(idCol),
        posexplode(graft.functions.shingles.wordShingles(col("_t"), n))
          .as(Seq("_p", "_g")))
      .select(col(idCol), (col("_p") + 1).cast("long").as("pos"),
        hash48(col("_g")).as("_h"))
    val shared = postings.groupBy(col("_h"))
      .agg(min(col(idCol)).as("_lo"), max(col(idCol)).as("_hi"))
      .filter(col("_lo") =!= col("_hi"))
      .select(col("_h"), col("_lo"))
    // a hit = a window this doc does NOT own
    val hits = postings.join(shared, "_h")
      .filter(col(idCol) =!= col("_lo"))
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val run = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val spans = hits
      .withColumn("_brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + n, 1).otherwise(0))
      .withColumn("_isl", sum(col("_brk")).over(run))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("pos")).as("_s"), (max(col("pos")) + n - 1).as("_e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_s"), col("_e"))).as("_spans"),
        sum(col("_e") - col("_s") + 1).as("_cut"))
    // rebuild: the token array is the TRANSFORM INPUT (evaluated once
    // per row) — an element_at(split(..), i) lambda body would
    // re-evaluate the split per element, the O(tokens^2) HOF pitfall
    // functions/shingles.scala exists to avoid. Covered tokens map to
    // null, the filter drops them, join restores single spaces.
    base.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_cut"), lit(0L)).as("n_redacted_tok"),
        when(col("_spans").isNull, col("_t")).otherwise(
          array_join(filter(
            transform(split(col("_t"), " ", -1), (tok, i0) =>
              when(!exists(col("_spans"),
                sp => i0 + 1 >= sp.getField("_s") &&
                  i0 + 1 <= sp.getField("_e")), tok)),
            t => t.isNotNull), " ")).as("clean_text"))
  }

  /** Asymmetric shingle CONTAINMENT for candidate pairs:
    * |A intersect B| / |A| — Jaccard's directional sibling, and the
    * measure that catches what Jaccard structurally cannot: a short
    * document quoted whole inside a long one scores containment ~1.0
    * while Jaccard stays near |A|/|B| (tiny). The quote/excerpt-reuse
    * detector of a dedup pipeline (and the Lee et al. motivation for
    * span-level dedup, from the other direction).
    *
    * Runs on CANDIDATE pairs (LSH output, adjacency, any generator) —
    * never all pairs — over a [[prepareHashedShingles]] frame, the
    * same verify-join shape as [[minhashNearDupsPrepared]]. Output
    * per pair: |A|, the overlap, and both containment directions.
    */
  def containmentPairs(withHashes: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val s1 = withHashes.select(col(idCol).as("id1"), col("_hs").as("_hs1"))
    val s2 = withHashes.select(col(idCol).as("id2"), col("_hs").as("_hs2"))
    val common = size(array_intersect(col("_hs1"), col("_hs2"))).cast("long")
    pairs.join(s1, "id1").join(s2, "id2")
      .select(col("id1"), col("id2"),
        size(col("_hs1")).cast("long").as("n1"),
        size(col("_hs2")).cast("long").as("n2"),
        common.as("n_common"),
        graft.functions.quantize.q6(
          common.cast("double") / size(col("_hs1")).cast("double")).as("containment_1in2"),
        graft.functions.quantize.q6(
          common.cast("double") / size(col("_hs2")).cast("double")).as("containment_2in1"))
  }

  /** EXACT Jaccard set-similarity self-join via prefix filtering
    * (Bayardo et al. WWW'07 "AllPairs" / Chaudhuri et al. ICDE'06):
    * every pair of documents whose shingle-set Jaccard is >=
    * tauPct/100, found WITHOUT approximation and WITHOUT all-pairs —
    * the exact counterpart of the MinHash family (q42 trades recall
    * for speed; this trades a sharper candidate bound for exactness,
    * the right tool when a legal/contract dedup cannot tolerate
    * probabilistic misses).
    *
    * Prefix-filtering principle: order every set by one GLOBAL token
    * order (document frequency ascending, then token — rarest
    * first); if |A ∩ B| >= o then the first |A|-o+1 tokens of A and
    * the first |B|-o+1 of B must share a token. Jaccard >= tau
    * implies overlap >= ceil(tau·|A|) (and symmetrically for B), so
    * joining on prefix tokens of length |x| - ceil(tau·|x|) + 1 is
    * LOSSLESS — the q160 fuzzyPairs discipline: the oracle states
    * the naive any-shared-token + exact-Jaccard definition, and the
    * hash match proves the pruning drops nothing.
    *
    * Scale shape: df(token) and |set| are map-side-combined counts;
    * the per-set rank is a window bounded by set size; the candidate
    * join is an equi-join on PREFIX tokens only (rare tokens by
    * construction — the frequency order exists to keep fan-out
    * near-linear); verification is an equi-join on (id, token)
    * counting intersections, cost ∝ candidate pairs × set size.
    * Nothing is quadratic in corpus size.
    *
    * Output: (id_a, id_b, inter, n_a, n_b, jacc_permille) with
    * id_a < id_b, jacc_permille = (inter*1000) div (union).
    */
  /** The prefix-filter stage of [[jaccardJoin]], separable so its
    * skew story is testable on its own (DedupSpec's stopword-flood
    * probe): takes (_id, _set, _n) rows and emits each set's prefix
    * tokens — the n - ceil(tau*n/100) + 1 RAREST tokens under the
    * global document-frequency order. These prefixes are the band
    * keys of the candidate equi-join, and their rarity is the skew
    * guarantee: a token of frequency f can appear in at most f
    * prefixes, and the corpus-wide stopwords that would make a
    * shared-token join explode are by construction the LAST tokens in
    * the df order — they enter a prefix only for a set so small that
    * nearly all of it IS the prefix.
    */
  private[graft] def jaccardPrefixes(arrs: DataFrame, tauPct: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Tokens ride as xxhash64 LONGS through the candidate machinery
    // (round 11): both window sorts compare longs instead of shingle
    // strings, and the candidate equi-join keys on 8-byte hashes.
    // Losslessness survives intact: the global token order is
    // (df-per-hash, hash, token) — a TOTAL order on string tokens, and
    // the prefix bound holds for ANY total order — while joining on
    // the hash can only WIDEN the candidate set (a collision merges
    // two tokens' buckets; it never separates equal tokens), and the
    // exact string-array verify downstream eliminates the extras. The
    // output is byte-identical with or without collisions.
    val tok = arrs.select(col("_id"), col("_n"), explode(col("_set")).as("_t"))
      .withColumn("_th", xxhash64(col("_t")))
    // df via groupBy + join-back, NOT a count window over the hash
    // partition: tok rows are per-doc distinct so both give the same
    // number, but the groupBy MAP-SIDE COMBINES before its shuffle
    // (one row per token per input partition) and the join-back's hot
    // keys are AQE-skew-splittable — a window partition is neither:
    // a corpus-wide stopword would put its every occurrence into ONE
    // un-splittable window task (a round-11 interim draft did exactly
    // that).
    val dfreq = tok.groupBy(col("_th")).agg(count(lit(1)).as("_df"))
    // _t last: the string comparator only runs on exact (_df, _th)
    // ties, and even then both orderings emit the same _th rows
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("_df"), col("_th"), col("_t"))
    // prefix length = n - ceil(tau*n/100) + 1, all integer; _n rides
    // the token rows so the PPJoin length filter can run INSIDE the
    // candidate join, before the dedup shuffle
    tok.join(dfreq, "_th")
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= col("_n") - expr(s"(($tauPct * _n + 99) div 100)") + 1)
      .select(col("_id"), col("_n"), col("_th").as("_t"))
  }

  def jaccardJoin(df: DataFrame, idCol: String, setCol: Column,
      tauPct: Int): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100, s"tauPct must be in [1,100], got $tauPct")
    import org.apache.spark.sql.expressions.Window
    // per-doc distinct token arrays: ONE narrow projection serves the
    // token stream (explode), the set sizes, and the verify stage —
    // the first draft's explode().distinct() paid a full token-stream
    // exchange for what array_distinct computes per row, and a
    // separate groupBy for the _n that size() already knows.
    //
    // The frame is referenced six times in the plan (both prefix
    // sides, both hashed-screen sides, both exact-verify sides) but
    // every reference is column-pruned differently and the references
    // feed broadcast builds — an optimization-round experiment that
    // persisted+cut arrs/prefix/hashedArrs measured 2.6x SLOWER at
    // sf0.1 (2.3 s -> 5.9 s: materializing the full string-array
    // frame into the block manager costs more than the pruned
    // recomputations it saves, and the accurate cache stats flip the
    // self-join from broadcast to sort-merge). Kept UNCACHED by
    // measurement; only the derivation feed is widened (Par.widen —
    // the shingle split ran single-core on single-row-group inputs).
    val arrs = df
      .select(col(idCol).as("_id"), array_distinct(setCol).as("_set"))
      .select(col("_id"), col("_set"), size(col("_set")).cast("long").as("_n"))
    val prefix = jaccardPrefixes(arrs, tauPct)
    val cand = prefix.select(col("_id").as("id_a"), col("_n").as("n_a"), col("_t"))
      .join(prefix.select(col("_id").as("id_b"), col("_n").as("n_b"), col("_t")), "_t")
      .where(col("id_a") < col("id_b") &&
        lit(100) * least(col("n_a"), col("n_b")) >=
          lit(tauPct) * greatest(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b")).distinct()
    // Two-stage verify (round 11). Stage 1 — HASHED screen: intersect
    // the docs' xxhash64 arrays (8-byte longs, not shingle strings;
    // far cheaper per pair and far fewer bytes through the fetch
    // joins). Lossless by a collision argument: when a doc has no
    // intra-doc hash collision (_cf, checked exactly per doc), every
    // truly-shared token is a shared hash, so inter_h >= inter and the
    // screen can only ADMIT extras (cross-collision ghosts), never
    // drop a qualifying pair; the rare _cf=false doc bypasses the
    // screen entirely. Stage 2 — EXACT verify: the handful of
    // survivors (true pairs + ghosts, ~0.15% of candidates at sf0.1)
    // intersect their string arrays for the exact inter the output
    // reports. Both stages are narrow per-pair expressions — the
    // first draft's re-explode of every candidate into |pair|·|set|
    // (id, token) rows was a 15M-row shuffle for 300k candidates.
    val hashedArrs = arrs.select(col("_id"),
      transform(col("_set"), t => xxhash64(t)).as("_seth"), col("_n"))
      .withColumn("_cf", size(array_distinct(col("_seth"))).cast("long") === col("_n"))
    val screened = cand
      .join(hashedArrs.select(col("_id").as("id_a"), col("_seth").as("_ha"),
        col("_n").as("n_a"), col("_cf").as("_cfa")), "id_a")
      .join(hashedArrs.select(col("_id").as("id_b"), col("_seth").as("_hb"),
        col("_n").as("n_b"), col("_cf").as("_cfb")), "id_b")
      .withColumn("_ih", size(array_intersect(col("_ha"), col("_hb"))).cast("long"))
      .where(!col("_cfa") || !col("_cfb") ||
        col("_ih") * 100 >= lit(tauPct) * (col("n_a") + col("n_b") - col("_ih")))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
    screened
      .join(arrs.select(col("_id").as("id_a"), col("_set").as("_sa")), "id_a")
      .join(arrs.select(col("_id").as("id_b"), col("_set").as("_sb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .where(col("inter") * 100 >= lit(tauPct) * (col("n_a") + col("n_b") - col("inter")))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        expr("(inter * 1000) div (n_a + n_b - inter)").as("jacc_permille"))
  }

  /** Embedding-cosine near-dup dedup — the vector-space member of the
    * dedup family (exact / MinHash / SimHash / char-ngram / cosine).
    * Candidates come from corpus-size-aware banded vector LSH
    * ([[Similarity.bandedAnnPairs]] — never all-pairs), survivors are
    * cosine-verified at `threshold`, and the keep rule is the standard
    * greedy lowest-id representative: a row is dropped iff it has a
    * smaller-id neighbor at or above the threshold (anti-join on the
    * id2 side of id1<id2 pairs). Returns the KEPT rows.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBands: Int = 4, bitsPerBand: Int = 4,
      dim: Int = 64): DataFrame = {
    val dups = Similarity
      .bandedAnnPairs(df, idCol, vecCol, nBands, bitsPerBand, dim)
      .filter(col("cos_sim") >= threshold)
      .select(col("id2").as(idCol)).distinct()
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * scoped to k-means clusters. Cluster assignment is the narrow
    * broadcast-argmin ([[Similarity.assignCells]] — zero corpus
    * shuffle); pairwise cosine runs only WITHIN a cluster (a self
    * equi-join on the cell key), which is the published scale bound:
    * candidate work is sum(n_c^2) over cluster sizes, not n^2 — at
    * 100 TB, k is sized so n_c stays bounded (k grows with the corpus,
    * exactly like [[Similarity.bandedAnnPairs]] sizes bits-per-band).
    * Keep rule is the repo-standard greedy lowest-id representative: a
    * row is dropped iff a smaller-id cluster-mate has quantized cosine
    * >= `threshold` (anti-join on the id2 side of id1<id2 pairs).
    *
    * Shuffle discipline: ONE shuffle of (cell, id, vec) per join side —
    * vectors must meet their cluster-mates to score, so carrying them
    * on the cell shuffle is optimal (re-joining vectors per candidate
    * pair would move |pairs| >= |rows| vectors instead). The cell
    * assignment is referenced by BOTH join sides, so it is
    * `localCheckpoint`ed (lazily) to materialize the broadcast-argmin
    * once instead of re-running its lineage per side — the DAG-
    * duplication pitfall SCALE.md warns about; at 100 TB the
    * equivalent move is writing the assignment as a table (one argmin
    * pass, many reads). Returns the KEPT rows of `df`.
    */
  def semDedup(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val cells = Similarity.assignCells(df, centroids, idCol, vecCol)
      .localCheckpoint(eager = false)
    val a = cells.select(col("cell"), col("_id").as("id1"), col("_v").as("_v1"))
    val b = cells.select(col("cell"), col("_id").as("id2"), col("_v").as("_v2"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(graft.functions.quantize.q6(
        Similarity.cosine(col("_v1"), col("_v2"))) >= threshold)
      .select(col("id2").as(idCol)).distinct()
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** Duplicated-span detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * find word n-grams that occur more than once across the corpus
    * (their 50-token-substring dedup, re-expressed at n-gram
    * granularity) and report, per document, the fraction of its spans
    * that are duplicated — the signal a pipeline thresholds on to
    * drop or trim boilerplate-heavy documents.
    *
    * Shape: explode n-grams (positions preserved, NO dedup — within-
    * doc repetition counts, as in the paper) -> hash48 -> global
    * frequency by hash (one map-side-combined shuffle) -> re-join
    * grams to frequencies on the hash key (hash-partitioned equi-join;
    * the frequency side is corpus-sized, so no broadcast) -> per-doc
    * counts. Both shuffles carry (doc_id, hash48) longs, never text —
    * linear in corpus token count, the same discipline as
    * [[prepareHashedShingles]]. Documents shorter than `n` words have no
    * spans and are absent from the output (callers treat missing as
    * dup_frac 0).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: Column,
      n: Int = 3): DataFrame = {
    val grams = docs
      .select(col(idCol), explode(
        graft.functions.shingles.wordShingles(textCol, n)).as("_g"))
      .select(col(idCol), hash48(col("_g")).as("_h"))
    val freq = grams.groupBy(col("_h")).agg(count(lit(1)).as("_n"))
    grams.join(freq, "_h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_n") >= 2, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        graft.functions.quantize.q6(col("dup_grams") / col("n_grams")))
  }

  /** Connected components over a near-dup pair list — turns pairwise
    * "A duplicates B" edges into per-document cluster assignments, the
    * step a real corpus-dedup pipeline needs between candidate pairs
    * and "keep one representative per cluster" (pairs alone under-merge:
    * A~B, B~C must collapse to one cluster even if A~C was never a
    * candidate).
    *
    * Algorithm: CONTRACTION-based Hash-Min (round 13). Each round
    * (1) computes every region's smallest adjacent region (`groupBy
    * min` over the symmetric region-graph edges), (2) compresses the
    * resulting merge chains TO A FIXPOINT (`m := m(m)` doubles the
    * hop distance per pass — O(log chain) self-joins on the small
    * mapping frame; one step is not enough: on a monotone-id chain,
    * the natural shape for sequential doc_ids, a single step shifts
    * labels by 2 per round and the outer loop degenerates to ~n/2
    * rounds), (3) relabels nodes through the mapping,
    * and (4) CONTRACTS the edge set onto the surviving regions
    * (self-loops dropped, duplicates merged). Contraction is what the
    * pre-round-13 pointer-jumping variant lacked: jumping compresses
    * chains in the LABEL graph, but min-labels still crossed the
    * ORIGINAL graph one merge-boundary per round — measured on a
    * 500-node scrambled cycle (the affine family x -> 13x+7 mod n,
    * SCALE.md "Round-13"), it was still merging at round 25.
    * With contraction every region merges with its smallest neighbor
    * SIMULTANEOUSLY, so the region count at least halves per round —
    * genuine O(log n) rounds on ANY topology, and the edge frame
    * shrinks geometrically with it (late rounds are near-free).
    * Every per-round frame is checkpointed through
    * [[Graph.ckptMeasured]]: the contraction joins e with a mapping
    * derived FROM e, and labels with that same mapping — the
    * multi-chain shape where even eager checkpoints compound size
    * ESTIMATES ~3x bit-length per round (Graph.ckptEager's measured
    * round-13 constraint); measured rowCount x row-width stats
    * firebreak the recurrence and keep the shrinking mapping frame
    * honestly broadcastable.
    *
    * 100 TB design: per round, the shuffles carry (node, label) /
    * (region, region) long pairs — never payloads — and the dominant
    * |E|-sized contraction join shrinks geometrically after round 1
    * (near-dup graphs are mostly tiny clusters: one round contracts
    * them to singletons). The convergence probe is `e.isEmpty` over
    * the round's own checkpoint — the contracted edge set IS the
    * not-yet-merged remainder, so no label-diff join is needed. The
    * input here is the *near-dup pair list* (tiny relative to the
    * corpus: proportional to duplicate density), not the corpus
    * itself.
    *
    * Returns (id, cluster_rep, cluster_size) for every node that
    * appears in `pairs`; `cluster_rep` is the smallest member id
    * (deterministic representative — the "keeper" under the standard
    * lowest-id keep rule).
    */
  def connectedComponents(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 25,
      collectThreshold: Long = 200000L): DataFrame = {
    // ONE materialization of the caller's pair pipeline (optimization
    // round 19, guide §2.4): the old shape derived the node set AND
    // the symmetric edge set straight from `pairs`, so the caller's
    // candidate lineage (a full MinHash/banding pipeline in every
    // dedup query) executed once per checkpoint JOB — twice, plus two
    // more collect jobs on the fast path. Persist the two-column
    // projection first; everything below reads cached blocks, and the
    // cache is dropped before returning.
    val p0 = pairs.select(col(idCol1).as("a"), col(idCol2).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairRows = p0.count()
    // SMALL-GRAPH FAST PATH (optimization round 18, the broadcast-
    // threshold discipline): the contraction loop costs a fixed 5-15
    // driver jobs (checkpoints, hop probes, relabel joins) regardless
    // of graph size — ~2 s of pure scheduling for the dozens-of-nodes
    // graphs the dedup/linkage queries produce. Round 19 moves the
    // gate to the RAW pair count (nodes <= 2x pairs and distinct
    // edges <= 2x pairs, so the driver bound is the same class), which
    // lets the driver path skip the node/edge checkpoints entirely:
    // union-find needs neither distinct edges nor a prebuilt node
    // list — duplicate and symmetric edges are no-op unions, a
    // self-loop just registers its endpoint. Identical output
    // (smallest-member representative; string ids compare in Spark's
    // binary UTF8 order — the collectThreshold=0 spec pins driver ==
    // distributed). Above the threshold — the 100 TB path — the
    // contraction loop is unchanged.
    val idType = pairs.schema(idCol1).dataType
    val smallOk = pairRows <= collectThreshold &&
      (idType match {
        case _: org.apache.spark.sql.types.LongType => true
        case _: org.apache.spark.sql.types.IntegerType => true
        case _: org.apache.spark.sql.types.StringType => true
        case _ => false
      })
    if (smallOk) {
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: Long, b: Long) => a < b
        case (a: Int, b: Int) => a < b
        case (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
        case _ => throw new IllegalStateException("unreachable: gated types")
      }
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != null && parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != null && parent.get(c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      p0.collect().foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        // every endpoint registers as a node — including a null id,
        // which the node-set derivation of the distributed path also
        // keeps (union+distinct); null and self edges carry no merge
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        if (a != null && b != null && a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // smaller id becomes the representative
            if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      p0.unpersist()
      val ids = new java.util.ArrayList[Any](parent.keySet())
      val reps = new java.util.HashMap[Any, Any]()
      val sizes = new java.util.HashMap[Any, Long]()
      ids.forEach { id =>
        val r = find(id); reps.put(id, r)
        sizes.merge(r, 1L, (a, b) => a + b); ()
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](ids.size())
      ids.forEach { id =>
        val r = reps.get(id)
        out.add(org.apache.spark.sql.Row(id, r, sizes.get(r))); ()
      }
      import org.apache.spark.sql.types._
      return pairs.sparkSession.createDataFrame(out,
        StructType(Seq(StructField("id", idType),
          StructField("cluster_rep", idType),
          StructField("cluster_size", LongType, nullable = false))))
    }
    // Distributed path: the node-label and symmetric-edge checkpoints
    // both derive from the CACHED pair projection and are mutually
    // independent — materialize them concurrently (guide §2.6), then
    // drop the pair cache; the contraction loop below is unchanged.
    val labelsFut = Par.inheritedFuture(pairs.sparkSession.sparkContext) {
      Graph.ckptMeasuredN(
        p0.select(col("a").as("id")).union(p0.select(col("b").as("id")))
          .distinct().select(col("id"), col("id").as("rep")))
    }
    // symmetric region graph; self-loops carry no merge information
    val (e0, e0Rows) = Graph.ckptMeasuredN(
      p0.union(p0.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct())
    var labels = scala.concurrent.Await.result(labelsFut,
      scala.concurrent.duration.Duration.Inf)._1
    p0.unpersist()
    var e = e0
    var done = e0Rows == 0L
    var round = 0
    while (!done && round < maxIter) {
      // (1) every region's smallest neighbor; keep only shrinking
      // moves — for any edge (x, y) with x < y the y side always
      // yields one, so every region with a neighbor merges this round
      val m = e.groupBy(col("a")).agg(min(col("b")).as("m"))
        .filter(col("m") < col("a"))
      // (2) FULL chain compression to a fixpoint: m := m(m) doubles
      // the hop distance per pass, so this inner loop is
      // O(log longest-merge-chain) joins over the (round-shrinking,
      // region-count-sized) mapping frame. A single compression step
      // is NOT enough: on a monotone-id chain (sequential doc_ids —
      // the natural near-dup shape) m(i) = i-1 and one step shifts
      // labels by only 2 per round, degenerating the outer loop to
      // ~n/2 rounds (caught in round-13 self-review; DedupSpec pins
      // the monotone chain + monotone cycle). Each pass is ONE job:
      // the mapping's key set never changes across passes, so its row
      // count is known up front (ckptKnownStats needs no count job)
      // and the hop-count probe doubles as the materializing action.
      // Superseded pass frames drop their last reference on
      // reassignment; localCheckpoint blocks live OUTSIDE
      // CacheManager, so the ContextCleaner reclaims them on GC
      // (unlike Dataset.persist entries, which pin until unpersist).
      val (mj0, mjRows) = Graph.ckptMeasuredN(
        m.select(col("a").as("_r0"), col("m").as("_r1")))
      // measured byte size of the mapping (actual cached blocks when
      // ids are variable-width strings — see withKnownStats' policy);
      // the compression passes keep the same keys and ~same value
      // widths, so it doubles as their size hint
      val mjSize = mj0.queryExecution.optimizedPlan.stats.sizeInBytes
      var mj = mj0
      var compressing = mjRows > 0L
      while (compressing) {
        val step = Graph.ckptKnownStats(mj.alias("x")
          .join(mj.select(col("_r0").as("_r1"), col("_r1").as("_r2")).alias("y"),
            Seq("_r1"), "left")
          .select(col("_r0"), coalesce(col("_r2"), col("_r1")).as("_r1"),
            col("_r2").isNotNull.as("_hop")), mjRows, Some(mjSize))
        // one job: materializes the checkpoint AND counts hops
        compressing = step.filter(col("_hop")).count() > 0L
        mj = step.select(col("_r0"), col("_r1"))
      }
      // (3) relabel nodes whose region moved
      labels = Graph.ckptMeasured(
        labels.join(mj, labels("rep") === mj("_r0"), "left")
          .select(col("id"), coalesce(col("_r1"), col("rep")).as("rep")))
      // (4) contract the edge set onto the surviving regions
      val eA = e.join(mj, e("a") === mj("_r0"), "left")
        .select(coalesce(col("_r1"), col("a")).as("a"), col("b"))
      val eB = eA.join(mj, eA("b") === mj("_r0"), "left")
        .select(col("a"), coalesce(col("_r1"), col("b")).as("b"))
      val (e2, eRows) = Graph.ckptMeasuredN(
        eB.filter(col("a") =!= col("b")).distinct())
      e = e2
      done = eRows == 0L
      round += 1
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds " +
      "(contraction at least halves the region count per round — " +
      "raise maxIter only beyond 2^25 regions)")
    val sizes = labels.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "rep")
      .select(col("id"), col("rep").as("cluster_rep"), col("cluster_size"))
  }

  /** Segment-level exact dedup (the C4/RefinedWeb "line dedup" move,
    * over fixed token windows since this corpus has no newlines): chop
    * each document into `segTokens`-token segments, drop every segment
    * whose exact text occurred earlier in the corpus (first occurrence
    * by (doc_id, seg_idx) wins), and re-assemble the survivors in
    * order.
    *
    * Shape: posexplode(segments) -> one shuffle partitioned by segment
    * text (window row_number picks the first occurrence) -> groupBy doc
    * to re-assemble. The segment shuffle carries (segment, doc, idx)
    * tuples — the same inverted-index shape as TF-IDF — and the
    * re-assembly agg is map-side combinable. No driver actions, no
    * all-pairs anything: cost is O(total segments), hash-partitioned.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    val toks = split(col(textCol), " ")
    val nSegs = ceil(size(toks) / lit(segTokens.toDouble)).cast("int")
    val segs = transformArray(
      sequence(lit(0), nSegs - 1),
      i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " "))
    firstOccurrenceKeep(
      df.select(col(idCol), posexplode(segs).as(Seq("seg_idx", "seg"))), idCol)
  }

  /** Shared tail of the segment-dedup family: first corpus occurrence
    * of each segment text wins (window by segment text, ordered by
    * (doc, seg_idx)), survivors re-assembled in order. One keep-rule
    * implementation so [[segmentDedup]] and [[cdcDedup]] cannot
    * silently diverge. Expects (idCol, seg_idx, seg) rows.
    */
  private def firstOccurrenceKeep(exploded: DataFrame, idCol: String): DataFrame = {
    val firstWins = exploded.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("seg")).orderBy(col(idCol), col("seg_idx"))))
    firstWins
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transformArray(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("seg_idx"), col("seg"))))),
            x => x("seg")),
          " ").as("kept_text"))
  }

  /** Content-defined segment dedup — the shift-robust sibling of
    * [[segmentDedup]]. Fixed windows misalign after a single token
    * insertion (every later window shifts, so no downstream segment
    * matches); content-defined boundaries (cut BEFORE tokens whose
    * hash is 0 mod `avgTokens` — Karp-Rabin content chunking at token
    * granularity, the rsync/LBFS move) are a function of local content
    * only, so segment streams re-synchronize right after an edit.
    *
    * Shape: posexplode tokens -> per-doc running-sum window assigns
    * segment ids (the shuffle carries (doc, pos, token) — the TF-IDF
    * inverted-index volume) -> groupBy (doc, segment) re-assembles
    * segment text (order via array_sort on (pos, token) structs, never
    * bare collect_list order) -> first corpus occurrence of each
    * segment text wins (window by segment, ordered by (doc, seg)) ->
    * groupBy doc re-assembles survivors. No stage is quadratic in
    * anything; all shuffles are hash-partitioned.
    */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
      avgTokens: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val seg = toks.withColumn("boundary",
        when(pmod(hash48(col("tok")), lit(avgTokens.toLong)) === 0, 1L).otherwise(0L))
      .withColumn("seg_idx", sum(col("boundary")).over(
        w.partitionBy(col(idCol)).orderBy(col("pos"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)))
    val segs = seg.groupBy(col(idCol), col("seg_idx"))
      .agg(array_join(transformArray(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x("tok")), " ").as("seg"))
    firstOccurrenceKeep(segs, idCol)
  }

  /** 16-bit SimHash over the distinct-token set: per bit, the sign of
    * sum(+1/-1) votes from each token hash. Explode + single groupBy:
    * one shuffle of (doc, 16 counters) with map-side combine.
    */
  def simhash16(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(array_distinct(split(text, " "))).as("_tok"))
      .withColumn("_h", hash48(col("_tok")))
    val bitVotes = (0 until 16).map { b =>
      sum(when(shiftright(col("_h"), b) % 2 === 1, 1).otherwise(-1)).as(s"_bit$b")
    }
    val simhash = (0 until 16).map { b =>
      when(col(s"_bit$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    exploded.groupBy(col(idCol))
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(col(idCol), simhash.as("simhash"))
  }
}
