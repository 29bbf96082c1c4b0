package graft.queriesExt

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import graft.queriesRelational.RelationalQueries.Q

/** Oracle corpus for the dedup operators (SURVEY.md §2 B38-B39 + the
  * training-data-pipeline extensions). The DuckDB oracle replicates
  * MinHash/SimHash exactly: both engines hash shingles with
  * hex(md5)[0:12] -> int48 and the same fixed seed constants, so
  * signatures — and therefore candidate pairs — are hash-identical.
  */
object DedupQueries {

  /** Session-scoped cache of the shared shingle stage: the q41/q42/q44
    * family derives (doc_id, distinct shingles) from the same corpus —
    * q41/q42 over word 3-grams, q44 over char 12-grams — and each
    * near-dup query references the frame three times in its own DAG
    * (bands + both verify-join sides). Persisting the frame once
    * per (session, dir, kind) makes the shingle derivation run once
    * across the whole family instead of seven times. MEMORY_AND_DISK
    * so an oversized corpus spills instead of OOMing; at 100 TB the
    * equivalent move is materializing the signature stage as a table
    * (one write, many reads) rather than caching.
    */
  private val shingleCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), org.apache.spark.sql.DataFrame]

  /** Unpersist and drop every cached shingle frame. Long-lived
    * services that cycle SparkSessions should call this on session
    * teardown — entries are keyed by session identity and would
    * otherwise pin dead sessions' cached frames.
    */
  def clearShingleCache(): Unit = {
    shingleCache.values.forEach(df => df.unpersist())
    shingleCache.clear()
  }

  /** What gets persisted is the HASHED stage `(doc_id, _hs: long[])` —
    * not the string shingles. The md5 pass is the dominant cost (~4M
    * hashes at sf0.1 for char-12), the frame is referenced three times
    * per near-dup DAG plus shared across the query family, and the
    * hashed arrays are ~6x smaller than the strings (~32 MB vs ~200 MB
    * for char-12 at sf0.1): measured, persisting the string form made
    * q44 SLOWER than recomputing (4.0 s vs 3.2 s at local[8]) while
    * persisting the hashed form cuts it to ~1.5 s. At 100 TB the same
    * stage is materialized as a table of long arrays — one md5 pass,
    * many cheap reads.
    */
  private def shingled(s: org.apache.spark.sql.SparkSession, dir: String,
      kind: String): org.apache.spark.sql.DataFrame = {
    val df = shingleCache.computeIfAbsent(
      (System.identityHashCode(s), dir, kind), _ => {
        val docs = Tables.load(s, dir, "documents")
        val sh = kind match {
          case "word3"  => Dedup.wordShingles("text")
          case "char12" => Dedup.charShingles("text", 12)
        }
        // widened HERE, where the frame is persisted (optimization
        // round 18): the repartition runs once into the cache and the
        // md5 pass — the dominant near-dup cost, single-task on the
        // one-row-group corpus file — parallelizes. The operator
        // itself stays un-widened (multi-reference callers would
        // re-execute the exchange per reference).
        Dedup.prepareHashedShingles(graft.operators.Par.widen(docs), "doc_id", sh)
      })
    // (re-)persist on every lookup, not just at insert: an external
    // `spark.catalog.clearCache()` (the bench's round-18 per-run
    // hygiene) unpersists the frame while this map still returns it —
    // without the re-arm, every later near-dup query would silently
    // re-derive the shingles three times per DAG. persist() on an
    // already-cached frame is a no-op (no warning: CacheManager keys
    // on the plan, and this IS the same plan).
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  // DuckDB fragments mirroring Dedup.scala's constants/functions.
  private val H48 = "CAST(concat('0x', substr(md5(%s), 1, 12)) AS BIGINT)"
  private def shinglesSql(textExpr: String): String =
    s"list_distinct(list_transform(range(1, greatest(len(string_split($textExpr, ' ')) - 1, 1)), " +
      s"i -> concat_ws(' ', string_split($textExpr, ' ')[i], string_split($textExpr, ' ')[i+1], string_split($textExpr, ' ')[i+2])))"
  private[queriesExt] def sigSql(i: Int): String =
    s"list_min(list_transform(hs, h -> (${Dedup.MINHASH_A(i)} * h + ${Dedup.MINHASH_B(i)}) % ${Dedup.MINHASH_P})) AS sig$i"
  private def sigsCteFor(shingleExpr: String): String =
    s"""WITH sh AS (
      SELECT doc_id, $shingleExpr AS s FROM documents),
    hsed AS (
      SELECT doc_id, s, list_distinct(list_transform(s, g -> ${H48.format("g")})) AS hs FROM sh),
    sigs AS (
      SELECT doc_id, ${(0 until 8).map(sigSql).mkString(", ")} FROM hsed)"""

  private val sigsCte = sigsCteFor(shinglesSql("text"))

  /** Shared LSH band-join + verify CTEs (parameterized threshold),
    * ending in a `pairs` CTE so both the pair queries (q42/q44) and the
    * clustering query (q75) build on the same fragment.
    */
  private def lshCtesSql(threshold: Double): String = s"""
    bands AS (
      SELECT doc_id, b.band_idx,
             CASE b.band_idx
               WHEN 0 THEN concat_ws(':', '0', sig0, sig1)
               WHEN 1 THEN concat_ws(':', '1', sig2, sig3)
               WHEN 2 THEN concat_ws(':', '2', sig4, sig5)
               ELSE        concat_ws(':', '3', sig6, sig7) END AS band_key
      FROM sigs, (SELECT unnest(range(4)) AS band_idx) b),
    cands AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b USING (band_idx, band_key)
      WHERE a.doc_id < b.doc_id),
    verified AS (
      SELECT id1, id2,
             CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) /
             len(list_distinct(list_concat(s1.hs, s2.hs))) AS jac
      FROM cands JOIN hsed s1 ON s1.doc_id = id1 JOIN hsed s2 ON s2.doc_id = id2),
    pairs AS (
      SELECT id1, id2, jac FROM verified WHERE jac >= $threshold)"""

  private def lshTailSql(threshold: Double): String = s"""
    ${lshCtesSql(threshold)}
    SELECT id1, id2, floor(jac * 1000000 + 0.5) / 1000000.0 AS jaccard
    FROM pairs ORDER BY id1, id2"""

  /** B38: exact dedup via content-hash groupBy. */
  private val q40 = Q("q40_exact_dedup", (s, dir) => {
    Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", col("text"))
      .orderBy(col("keeper"))
  }, Some("""
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keeper"""))

  /** B39: MinHash signatures (8 seeded hash lanes over 3-gram shingles). */
  private val q41 = Q("q41_minhash_sig", (s, dir) => {
    Dedup.minhashSignatures(shingled(s, dir, "word3"), "doc_id")
      .orderBy(col("doc_id"))
  }, Some(s"""
    $sigsCte
    SELECT * FROM sigs ORDER BY doc_id"""))

  /** B39: the full LSH pipeline — band join candidates, exact-Jaccard
    * verification at 0.5. The shuffle is on band keys; candidate count
    * << n^2 (25 true pairs out of 124k possible at sf0.01).
    */
  private val q42 = Q("q42_lsh_neardup", (s, dir) => {
    Dedup.minhashNearDupsPrepared(shingled(s, dir, "word3"), "doc_id", 0.5)
      .orderBy(col("id1"), col("id2"))
  }, Some(s"""
    $sigsCte, ${lshTailSql(0.5)}"""))

  /** B39: 16-bit SimHash fingerprints (explode + one groupBy shuffle of
    * 16 counters, map-side combined).
    */
  private val q43 = Q("q43_simhash", (s, dir) => {
    Dedup.simhash16(Tables.load(s, dir, "documents"), "doc_id", col("text"))
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
    hashed AS (
      SELECT doc_id, ${H48.format("tok")} AS h FROM toks),
    votes AS (
      SELECT doc_id,
             ${(0 until 16).map(b => s"sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS bit$b").mkString(", ")}
      FROM hashed GROUP BY doc_id)
    SELECT doc_id,
           ${(0 until 16).map(b => s"CASE WHEN bit$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")} AS simhash
    FROM votes ORDER BY doc_id"""))

  /** Character n-gram Jaccard near-dup via the SAME LSH candidate path
    * (MinHash over char shingles). Two scale lessons are baked in:
    * (1) the first cut blocked by language and verified all in-block
    * pairs — 461 s at sf0.1 (the 2k-doc 'en' block alone is 2.4M pairs
    * x 800-element set ops); LSH candidates fix the quadratic.
    * (2) shingle width must exceed the vocabulary's shared-substring
    * scale or buckets saturate: 4-gram shingles on this corpus put
    * 3.3M of 12.5M possible pairs in shared buckets (every doc shares
    * common 4-grams); 12-gram shingles (~2 words) cut that to 4.9k
    * candidates while finding the same 25 true pairs.
    */
  private val q44 = Q("q44_char_ngram_jaccard", (s, dir) => {
    Dedup.minhashNearDupsPrepared(shingled(s, dir, "char12"), "doc_id", 0.5)
      .orderBy(col("id1"), col("id2"))
  }, Some(s"""
    ${sigsCteFor("list_distinct(list_transform(range(1, greatest(len(text) - 10, 1)), i -> substr(text, i, 12)))")}, ${lshTailSql(0.5)}"""))

  /** Connected-components clustering over the q42 near-dup pairs: the
    * step between pairwise candidates and "keep one representative per
    * cluster" (pairs under-merge transitive duplicates). Spark side is
    * Dedup.connectedComponents (min-label propagation + pointer
    * jumping, O(log diameter) rounds); the oracle computes the same
    * components with a recursive transitive-closure CTE over the same
    * LSH-verified pairs.
    */
  private val q75 = Q("q75_dedup_clusters", (s, dir) => {
    val pairs = Dedup
      .minhashNearDupsPrepared(shingled(s, dir, "word3"), "doc_id", 0.5)
      .select(col("id1"), col("id2"))
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_rep"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }, Some(s"""
    ${sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, ${lshCtesSql(0.5)},
    undirected AS (
      SELECT id1 AS s, id2 AS d FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM undirected),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT u.s AS id, reach.r FROM undirected u JOIN reach ON reach.id = u.d),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id)
    SELECT doc_id, cluster_rep,
           count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
    FROM comp ORDER BY doc_id"""))

  /** Cluster-safe train/val/test split (round 12): q96's hash split
    * with the split KEY lifted to the near-dup cluster representative,
    * so near-duplicates — including transitive cluster members that
    * never shared a candidate pair — can never straddle the
    * train/eval boundary (eval leakage via training-set twins).
    * Singletons keep their own id as the key, so their buckets equal
    * a plain assignSplit's. Oracle: q75's recursive-CTE components
    * LEFT-joined to the corpus, then the q96 md5-bucket split on
    * coalesce(cluster_rep, doc_id) with independently-computed
    * 800/900 bounds.
    */
  private val q202 = Q("q202_cluster_safe_split", (s, dir) => {
    val pairs = Dedup
      .minhashNearDupsPrepared(shingled(s, dir, "word3"), "doc_id", 0.5)
      .select(col("id1"), col("id2"))
    graft.operators.CorpusOps.clusterSafeSplit(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", pairs,
        splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("lang"), col("cluster_rep"),
        col("split_key"), col("split"))
      .orderBy(col("doc_id"))
  }, Some(s"""
    ${sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, ${lshCtesSql(0.5)},
    undirected AS (
      SELECT id1 AS s, id2 AS d FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs),
    cnodes AS (SELECT DISTINCT s AS id FROM undirected),
    reach AS (
      SELECT id, id AS r FROM cnodes
      UNION
      SELECT u.s AS id, reach.r FROM undirected u JOIN reach ON reach.id = u.d),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id),
    keyed AS (
      SELECT d.doc_id, d.lang, comp.cluster_rep,
             coalesce(comp.cluster_rep, d.doc_id) AS split_key
      FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
    b AS (
      SELECT *,
             CAST(concat('0x', substr(md5(CAST(split_key AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS bucket
      FROM keyed)
    SELECT doc_id, lang, cluster_rep, split_key,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id"""))

  /** Segment-level exact dedup (C4-style "line dedup" over 10-token
    * windows): drop every segment whose exact text occurred earlier in
    * the corpus, re-assemble survivors. One shuffle partitioned by
    * segment text + one map-side-combinable re-assembly agg.
    */
  private val q77 = Q("q77_segment_dedup", (s, dir) => {
    Dedup.segmentDedup(Tables.load(s, dir, "documents"), "doc_id", "text", 10)
      .orderBy(col("doc_id"))
  }, Some("""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    segs AS (
      SELECT doc_id, CAST(unnest(range(CAST(ceil(len(toks) / 10.0) AS INT))) AS INT) AS seg_idx, toks
      FROM t),
    seg2 AS (
      SELECT doc_id, seg_idx,
             array_to_string(toks[seg_idx * 10 + 1 : seg_idx * 10 + 10], ' ') AS seg
      FROM segs),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM seg2)
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '') AS kept_text
    FROM ranked GROUP BY doc_id ORDER BY doc_id"""))

  /** Content-defined chunking dedup: boundaries cut where a token's
    * hash is 0 mod 8, so segment streams re-synchronize after
    * insertions (fixed windows — q77 — misalign everything downstream
    * of an edit). Same first-occurrence-wins + reassembly contract as
    * q77.
    */
  private val q87 = Q("q87_cdc_dedup", (s, dir) => {
    Dedup.cdcDedup(Tables.load(s, dir, "documents"), "doc_id", "text", 8)
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
               i -> {'pos': i, 'tok': toks[i]})) AS s
      FROM t),
    f AS (
      SELECT doc_id, s.pos AS pos, s.tok AS tok,
             CASE WHEN ${H48.format("s.tok")} % 8 = 0 THEN 1 ELSE 0 END AS boundary
      FROM tok),
    sg AS (
      SELECT doc_id, pos, tok,
             sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS seg_idx
      FROM f),
    segs AS (
      SELECT doc_id, seg_idx, string_agg(tok, ' ' ORDER BY pos) AS seg
      FROM sg GROUP BY doc_id, seg_idx),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs)
    SELECT doc_id, count(*) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '') AS kept_text
    FROM ranked GROUP BY doc_id ORDER BY doc_id"""))

  // DuckDB cosine fragment over two 64-dim list columns (sequential
  // left fold — bit-compatible with the Spark DotProduct expression).
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** SemDeDup: semantic dedup scoped to k-means cells (here the 10
    * label centroids, the q50/q62 centroid machinery). The oracle
    * replays the broadcast-argmin cell assignment (quantized distances,
    * tie to lowest cell — the q50-proven mirror) and the within-cell
    * pairwise cosine screen, keeping rows with no smaller-id cluster-
    * mate at quantized cosine >= 0.35. Candidate work is sum(n_c^2)
    * over cell sizes, never n^2 — the published SemDeDup scale bound.
    */
  private val q94 = Q("q94_semdedup", (s, dir) => {
    val centroid = udaf(new graft.functions.CentroidAggregator(64))
    val e = Tables.load(s, dir, "embeddings")
    val ctrs = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroid(col("embedding")).as("ctr"))
    Dedup.semDedup(e, ctrs, "vec_id", "embedding", threshold = 0.35)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy(col("vec_id"))
  }, Some(s"""
    WITH cent AS (
      SELECT CAST(label AS INT) AS cell, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i),
    dists AS (
      SELECT e.vec_id, cent.cell,
             floor(sum((CAST(e.embedding[cent.i] AS DOUBLE) - cent.c) *
                       (CAST(e.embedding[cent.i] AS DOUBLE) - cent.c)) * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e CROSS JOIN cent
      GROUP BY e.vec_id, cent.cell),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY qdist, cell) AS rn
        FROM dists)
      WHERE rn = 1),
    dups AS (
      SELECT DISTINCT b.vec_id AS id2
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings e1 ON e1.vec_id = a.vec_id
        JOIN embeddings e2 ON e2.vec_id = b.vec_id
      WHERE floor(${cosSql("e1.embedding", "e2.embedding")} * 1000000 + 0.5) / 1000000.0 >= 0.35)
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT id2 FROM dups)
    ORDER BY e.vec_id"""))

  /** Lee-et-al duplicated-span fractions: word 3-grams (positions
    * preserved — within-doc repetition counts), corpus-wide frequency
    * by hash48, per-doc duplicated fraction. The oracle replays the
    * same hash-keyed frequency join so the comparison holds even under
    * a 48-bit collision. Docs shorter than 3 words have no spans and
    * are absent from BOTH sides.
    */
  private val q95 = Q("q95_dup_spans", (s, dir) => {
    Dedup.duplicatedSpans(Tables.load(s, dir, "documents"), "doc_id", col("text"), n = 3)
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS g
      FROM t),
    f AS (SELECT doc_id, ${H48.format("g")} AS h FROM g),
    freq AS (SELECT h, count(*) AS n FROM f GROUP BY h)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN freq.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
           floor(CAST(sum(CASE WHEN freq.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
                 count(*) * 1000000 + 0.5) / 1000000.0 AS dup_frac
    FROM f JOIN freq USING (h)
    GROUP BY doc_id ORDER BY doc_id"""))

  /** Asymmetric shingle containment (|A int B| / |A|, both directions)
    * on candidate pairs — Jaccard's directional sibling: quotes and
    * excerpt-reuse score ~1 one way while Jaccard stays tiny (DedupSpec
    * plants exactly that case). Reuses the word-3-gram hashed-shingle
    * cache; consecutive ids stand in for any candidate generator.
    */
  private val q130 = Q("q130_containment", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      .join(docs.select(col("doc_id").as("id2")), "id2")
    Dedup.containmentPairs(shingled(s, dir, "word3"), pairs)
      .orderBy(col("id1"))
  }, Some(s"""
    WITH sh AS (
      SELECT doc_id, ${shinglesSql("text")} AS s FROM documents),
    hsed AS (
      SELECT doc_id, list_distinct(list_transform(s, g -> ${H48.format("g")})) AS hs FROM sh),
    p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
    SELECT p.id1, p.id2,
           CAST(len(s1.hs) AS BIGINT) AS n1,
           CAST(len(s2.hs) AS BIGINT) AS n2,
           CAST(len(list_intersect(s1.hs, s2.hs)) AS BIGINT) AS n_common,
           floor(CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) / len(s1.hs)
                 * 1000000 + 0.5) / 1000000.0 AS containment_1in2,
           floor(CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) / len(s2.hs)
                 * 1000000 + 0.5) / 1000000.0 AS containment_2in1
    FROM p JOIN hsed s1 ON s1.doc_id = p.id1 JOIN hsed s2 ON s2.doc_id = p.id2
    ORDER BY id1"""))

  /** EXACT Jaccard self-join at tau=0.6 over word 3-gram shingle
    * sets (Dedup.jaccardJoin) — the no-false-negatives counterpart
    * of q42's MinHash screen. The Spark side prunes candidates with
    * frequency-ordered prefix filtering; the oracle states the naive
    * definition (any shared shingle, exact Jaccard filter), so the
    * hash match proves the prefix bound drops no qualifying pair —
    * the q160 lossless-blocking discipline applied to set
    * similarity. 25 pairs survive from ~11.5k shared-shingle
    * candidates at sf0.01.
    */
  private val q177 = Q("q177_jaccard_join", (s, dir) => {
    Dedup.jaccardJoin(Tables.load(s, dir, "documents"), "doc_id",
        Dedup.wordShingles("text", 3), tauPct = 60)
      .orderBy(col("id_a"), col("id_b"))
  }, Some(s"""
    WITH sh AS (
      SELECT doc_id, ${shinglesSql("text")} AS s FROM documents),
    t AS (SELECT DISTINCT doc_id, unnest(s) AS term FROM sh),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
          FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b, inter, na.n AS n_a, nb.n AS n_b,
           (inter * 1000) // (na.n + nb.n - inter) AS jacc_permille
    FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
    WHERE inter * 100 >= 60 * (na.n + nb.n - inter)
    ORDER BY id_a, id_b"""))

  /** LSH recall evaluation — the self-measurement q177 makes
    * possible: the exact Jaccard join is ground truth, the q42 band
    * candidates are the approximate screen, and the output is ONE row
    * (n_exact, n_found, recall_permille) saying how many true >= 0.6
    * pairs the 4-band/2-row MinHash screen surfaces. This is the
    * recall audit a production dedup pipeline runs on a sample before
    * trusting LSH at 100 TB (band candidates only — verification
    * would not change membership). Both sides replay in DuckDB (the
    * q41 signature CTEs + the naive exact definition), so even the
    * evaluation itself is oracle-checked.
    */
  private val q184 = Q("q184_lsh_recall", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val exact = Dedup.jaccardJoin(docs, "doc_id", Dedup.wordShingles("text", 3),
        tauPct = 60)
      .select(col("id_a"), col("id_b"))
    val cands = Dedup.lshCandidates(
        Dedup.lshBands(shingled(s, dir, "word3"), "doc_id"), "doc_id")
      .withColumn("_found", lit(1L))
    exact.join(cands,
        col("id_a") === col("id1") && col("id_b") === col("id2"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_found"), lit(0L))).as("n_found"))
      .select(col("n_exact"), col("n_found"),
        expr("(n_found * 1000) div n_exact").as("recall_permille"))
  }, Some(s"""
    $sigsCte,
    bands AS (
      SELECT doc_id, b.band_idx,
             CASE b.band_idx
               WHEN 0 THEN concat_ws(':', '0', sig0, sig1)
               WHEN 1 THEN concat_ws(':', '1', sig2, sig3)
               WHEN 2 THEN concat_ws(':', '2', sig4, sig5)
               ELSE        concat_ws(':', '3', sig6, sig7) END AS band_key
      FROM sigs, (SELECT unnest(range(4)) AS band_idx) b),
    cands AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b USING (band_idx, band_key)
      WHERE a.doc_id < b.doc_id),
    t AS (SELECT DISTINCT doc_id, unnest(s) AS term FROM sh),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
          FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    ex AS (
      SELECT id_a, id_b
      FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
      WHERE inter * 100 >= 60 * (na.n + nb.n - inter))
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           (CAST(sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000)
             // CAST(count(*) AS BIGINT) AS recall_permille
    FROM ex LEFT JOIN cands c ON c.id1 = ex.id_a AND c.id2 = ex.id_b"""))

  /** END-TO-END curation pipeline under the oracle (round 13): the
    * canonical quality-gate -> exact-dedup -> cluster-safe-split flow
    * as ONE query ([[graft.operators.CorpusOps.curationPipeline]]),
    * every doc landing exactly one disposition. The oracle chains the
    * fragments the stages already proved individually — q52's quality
    * arithmetic, q40's md5 exact groups (as a window), q202's
    * recursive-CTE components + md5-bucket split — which is the
    * point: operator INTEROP stays on the deterministic grid when the
    * whole pipeline runs as one plan.
    */
  private val q205 = Q("q205_curation_pipeline", (s, dir) => {
    val pairs = Dedup
      .minhashNearDupsPrepared(shingled(s, dir, "word3"), "doc_id", 0.5)
      .select(col("id1"), col("id2"))
    graft.operators.CorpusOps.curationPipeline(
        Tables.load(s, dir, "documents"),
        qualityMin = 0.25, pairs,
        splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .orderBy(col("doc_id"))
  }, Some(s"""
    ${sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, ${lshCtesSql(0.5)},
    undirected AS (
      SELECT id1 AS s, id2 AS d FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs),
    cnodes AS (SELECT DISTINCT s AS id FROM undirected),
    reach AS (
      SELECT id, id AS r FROM cnodes
      UNION
      SELECT u.s AS id, reach.r FROM undirected u JOIN reach ON reach.id = u.d),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id),
    t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, text,
             floor(least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               * (1.0 - CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / len(text))
               * least((CAST(list_reduce(list_concat([0], list_transform(toks, x -> len(x))), (a, b) -> a + b) AS DOUBLE) / len(toks)) / 8.0, 1.0)
               * 1000000 + 0.5) / 1000000.0 AS quality
      FROM t),
    tagged AS (
      SELECT doc_id, quality,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM scored WHERE quality >= 0.25),
    kept AS (
      SELECT g.doc_id, g.quality, comp.cluster_rep,
             CAST(concat('0x', substr(md5(CAST(coalesce(comp.cluster_rep, g.doc_id) AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS bucket
      FROM tagged g LEFT JOIN comp ON comp.doc_id = g.doc_id
      WHERE g.doc_id = g.keeper)
    SELECT doc_id, quality, 'low_quality' AS disposition,
           CAST(NULL AS BIGINT) AS cluster_rep, CAST(NULL AS VARCHAR) AS split
    FROM scored WHERE quality < 0.25
    UNION ALL
    SELECT doc_id, quality, 'exact_dup', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM tagged WHERE doc_id <> keeper
    UNION ALL
    SELECT doc_id, quality, 'kept', cluster_rep,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END
    FROM kept
    ORDER BY doc_id"""))

  /** q205 with the canonical FOURTH gate composed in (round 14):
    * quality -> exact dedup -> benchmark DECONTAMINATION -> cluster-
    * safe split, every doc exactly one disposition. The corpus is the
    * doc_id % 97 <> 0 split and the benchmark set the % 97 = 0 split
    * (the q84/q99/q206 convention); a quality-passing keeper sharing
    * any distinct 8-gram with the benchmark set lands `contaminated`
    * and never reaches the split. The oracle extends q205's CTE chain
    * with exactly q84's proven gram fragment — the decontamination
    * rule is checked IN COMPOSITION with the gates around it, not just
    * in isolation. The eval gram set broadcasts; the candidate pairs
    * stay the full-corpus relation (independent of the gates, per the
    * [[graft.operators.CorpusOps.curationPipeline]] contract).
    */
  private val q207 = Q("q207_curation_decontam", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val pairs = Dedup
      .minhashNearDupsPrepared(shingled(s, dir, "word3"), "doc_id", 0.5)
      .select(col("id1"), col("id2"))
    graft.operators.CorpusOps.curationPipeline(
        docs.filter(col("doc_id") % 97 =!= 0),
        qualityMin = 0.25, pairs,
        splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
        evalDocs = Some(docs.filter(col("doc_id") % 97 === 0)))
      .orderBy(col("doc_id"))
  }, Some(s"""
    ${sigsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, ${lshCtesSql(0.5)},
    undirected AS (
      SELECT id1 AS s, id2 AS d FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs),
    cnodes AS (SELECT DISTINCT s AS id FROM undirected),
    reach AS (
      SELECT id, id AS r FROM cnodes
      UNION
      SELECT u.s AS id, reach.r FROM undirected u JOIN reach ON reach.id = u.d),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id),
    t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, text,
             floor(least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               * (1.0 - CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / len(text))
               * least((CAST(list_reduce(list_concat([0], list_transform(toks, x -> len(x))), (a, b) -> a + b) AS DOUBLE) / len(toks)) / 8.0, 1.0)
               * 1000000 + 0.5) / 1000000.0 AS quality
      FROM t WHERE doc_id % 97 <> 0),
    tagged AS (
      SELECT doc_id, quality,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM scored WHERE quality >= 0.25),
    g8 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 6),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] ||
                 ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))) AS g
      FROM t),
    h8 AS (SELECT doc_id, ${H48.format("g")} AS h FROM g8),
    ev AS (SELECT DISTINCT h FROM h8 WHERE doc_id % 97 = 0),
    contam AS (SELECT DISTINCT h8.doc_id FROM h8 JOIN ev ON h8.h = ev.h
               WHERE h8.doc_id % 97 <> 0),
    kept AS (
      SELECT g.doc_id, g.quality, comp.cluster_rep,
             CAST(concat('0x', substr(md5(CAST(coalesce(comp.cluster_rep, g.doc_id) AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS bucket
      FROM tagged g LEFT JOIN comp ON comp.doc_id = g.doc_id
                    LEFT JOIN contam ON contam.doc_id = g.doc_id
      WHERE g.doc_id = g.keeper AND contam.doc_id IS NULL)
    SELECT doc_id, quality, 'low_quality' AS disposition,
           CAST(NULL AS BIGINT) AS cluster_rep, CAST(NULL AS VARCHAR) AS split
    FROM scored WHERE quality < 0.25
    UNION ALL
    SELECT doc_id, quality, 'exact_dup', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM tagged WHERE doc_id <> keeper
    UNION ALL
    SELECT g.doc_id, g.quality, 'contaminated', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM tagged g JOIN contam ON contam.doc_id = g.doc_id
    WHERE g.doc_id = g.keeper
    UNION ALL
    SELECT doc_id, quality, 'kept', cluster_rep,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END
    FROM kept
    ORDER BY doc_id"""))

  /** FUZZY decontamination under the oracle (round 17,
    * [[Dedup.fuzzyDecontaminate]]): the near-dup generalization of
    * q84/q99's exact 8-gram gate, exercised on exactly the leakage
    * the exact gate structurally misses — both engines PLANT a
    * benchmark set of LIGHTLY PARAPHRASED corpus docs (every 7th
    * token of each doc_id % 83 == 0 document dropped, eval_id =
    * doc_id + 10^7): the paraphrase's longest surviving token run is
    * 6, so it contains NO 8-gram and the exact gate cannot fire,
    * while word-3-shingle Jaccard stays ~0.45-0.6 — exactly the
    * leakage class this operator exists for (DedupSpec pins the
    * exact-gate miss on the same construction). Gate tuning is
    * recall-oriented: 8 single-row bands (catch 1-(1-j)^8 ~ 0.99 at
    * j = 0.45) and a 0.4 threshold. Candidates come from the SAME
    * banded-MinHash key space on both sides (the q42 discipline:
    * banding is part of the contract — the oracle replays it, so a
    * band-missed pair is consistently absent from both engines),
    * survivors verify with exact hashed-set Jaccard, best match per
    * doc by (quantized jac desc, eval_id).
    */
  private val q230 = Q("q230_fuzzy_decontamination", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val corpusSh = shingled(s, dir, "word3")
    val toks = split(col("text"), " ")
    val planted = docs
      .filter(col("doc_id") % 83 === 0 && col("text").isNotNull)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        array_join(transform(
          filter(sequence(lit(1), size(toks)), i => i % 7 =!= 4),
          i => element_at(toks, i)), " ").as("text"))
    val evalSh = Dedup.prepareHashedShingles(planted, "doc_id",
      Dedup.wordShingles("text"))
    Dedup.fuzzyDecontaminate(corpusSh, evalSh, "doc_id", threshold = 0.4,
        rowsPerBand = 1)
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH ev AS (
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(list_transform(
               list_filter(range(1, len(string_split(text, ' ')) + 1),
                 i -> i % 7 <> 4),
               i -> string_split(text, ' ')[i]), ' ') AS text
      FROM documents WHERE doc_id % 83 = 0 AND text IS NOT NULL),
    alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM ev),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        i -> concat_ws(' ', string_split(text, ' ')[i],
          string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS s
      FROM alldocs),
    hsed AS (
      SELECT doc_id, s,
             list_distinct(list_transform(s, g -> ${H48.format("g")})) AS hs
      FROM sh),
    sigs AS (
      SELECT doc_id, ${(0 until 8).map(sigSql).mkString(", ")} FROM hsed),
    bands AS (
      SELECT doc_id, b.band_idx,
             concat_ws(':', CAST(b.band_idx AS VARCHAR),
               CASE b.band_idx
                 WHEN 0 THEN sig0 WHEN 1 THEN sig1 WHEN 2 THEN sig2
                 WHEN 3 THEN sig3 WHEN 4 THEN sig4 WHEN 5 THEN sig5
                 WHEN 6 THEN sig6 ELSE sig7 END) AS band_key
      FROM sigs, (SELECT unnest(range(8)) AS band_idx) b),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_id, e.doc_id AS eval_id
      FROM bands a JOIN bands e USING (band_idx, band_key)
      WHERE a.doc_id < 10000000 AND e.doc_id >= 10000000),
    verified AS (
      SELECT cands.doc_id, cands.eval_id,
             floor(CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) /
                   len(list_distinct(list_concat(s1.hs, s2.hs))) * 1000000 + 0.5)
               / 1000000.0 AS jac
      FROM cands JOIN hsed s1 ON s1.doc_id = cands.doc_id
                 JOIN hsed s2 ON s2.doc_id = cands.eval_id),
    flagged AS (SELECT * FROM verified WHERE jac >= 0.4),
    best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY jac DESC, eval_id) AS rn FROM flagged)
    SELECT doc_id, eval_id, jac AS jaccard FROM best WHERE rn = 1
    ORDER BY doc_id"""))

  /** CROSS-DOCUMENT exact substring spans under the oracle (round 18,
    * [[Dedup.crossDocSpans]] — Lee et al. 2021): both engines plant
    * the SAME 12-token sentence on every doc_id % 97 == 0 document, so
    * each planted doc shares >= 8-token runs with every other planted
    * doc while whole-doc hashes and doc-level Jaccard stay distinct —
    * exactly the leakage class q40 and q42 structurally miss (DedupSpec
    * pins the miss explicitly). The oracle states the NAIVE definition:
    * every position whose hashed 8-gram occurs in >= 2 distinct docs
    * (brute-force gram table, min != max as the 2-distinct test), spans
    * merged by the lag/island window. Natural cross-doc repeats in the
    * corpus text count too — the plant guarantees rows, the oracle
    * replays everything.
    */
  private val q232 = Q("q232_cross_doc_spans", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val quote = (1 to 12).map(i => s"sharedquote$i").mkString(" ")
    val planted = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 97 === 0,
          concat_ws(" ", col("text"), lit(quote)))
          .otherwise(col("text")).as("text"))
    Dedup.crossDocSpans(planted, "doc_id", col("text"), n = 8)
      .orderBy(col("doc_id"), col("start_tok"))
  }, Some(s"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0
                  THEN concat_ws(' ', text,
                    '${(1 to 12).map(i => s"sharedquote$i").mkString(" ")}')
                  ELSE text END AS t
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    t AS (SELECT doc_id, string_split(t, ' ') AS toks FROM p),
    g AS (
      SELECT t.doc_id, r.i AS pos,
             CAST(concat('0x', substr(md5(
               array_to_string(t.toks[r.i:r.i+7], ' ')), 1, 12)) AS BIGINT) AS h
      FROM t CROSS JOIN LATERAL
        (SELECT unnest(range(1, greatest(len(t.toks) - 6, 1))) AS i) r),
    sh AS (SELECT h FROM g GROUP BY h HAVING min(doc_id) <> max(doc_id)),
    hits AS (SELECT g.doc_id, g.pos FROM g JOIN sh USING (h)),
    w AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                  THEN 1 ELSE 0 END AS brk
      FROM hits),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
      FROM w)
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
           CAST(max(pos) + 7 AS BIGINT) AS end_tok,
           CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tok
    FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok"""))

  /** Cross-document span REDACTION under the oracle (round 18,
    * [[Dedup.redactCrossDocSpans]]): the Lee-et-al application of
    * q232 — keep ONE copy (the lowest doc id owning each gram), cut
    * every other doc's covered tokens, and hash-compare the FULL
    * rebuilt strings. Same plant as q232 (the 12-token sentence on
    * every doc_id % 97 == 0 doc): the lowest planted doc keeps its
    * tail, every other planted doc loses it. The oracle replays
    * ownership (min(doc_id) per shared gram), the island merge, and
    * the positional rebuild with DuckDB's indexed list_filter.
    */
  private val q234 = Q("q234_span_redact", (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val quote = (1 to 12).map(i => s"sharedquote$i").mkString(" ")
    val planted = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 97 === 0,
          concat_ws(" ", col("text"), lit(quote)))
          .otherwise(col("text")).as("text"))
    Dedup.redactCrossDocSpans(planted, "doc_id", col("text"), n = 8)
      .orderBy(col("doc_id"))
  }, Some(s"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0
                  THEN concat_ws(' ', text,
                    '${(1 to 12).map(i => s"sharedquote$i").mkString(" ")}')
                  ELSE text END AS t
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    t AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM p),
    g AS (
      SELECT t.doc_id, r.i AS pos,
             CAST(concat('0x', substr(md5(
               array_to_string(t.toks[r.i:r.i+7], ' ')), 1, 12)) AS BIGINT) AS h
      FROM t CROSS JOIN LATERAL
        (SELECT unnest(range(1, greatest(len(t.toks) - 6, 1))) AS i) r),
    sh AS (SELECT h, min(doc_id) AS lo FROM g GROUP BY h
           HAVING min(doc_id) <> max(doc_id)),
    hits AS (SELECT g.doc_id, g.pos FROM g JOIN sh USING (h)
             WHERE g.doc_id <> sh.lo),
    w AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                  THEN 1 ELSE 0 END AS brk
      FROM hits),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
      FROM w),
    sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM isl GROUP BY doc_id, island),
    spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS sps,
                   CAST(sum(e - s + 1) AS BIGINT) AS cut
            FROM sp GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(spl.cut, 0) AS n_redacted_tok,
           CASE WHEN spl.sps IS NULL THEN t.t ELSE
             coalesce(array_to_string(list_filter(t.toks, (tok, i) ->
               len(list_filter(spl.sps, x -> i >= x.s AND i <= x.e)) = 0), ' '), '')
           END AS clean_text
    FROM t LEFT JOIN spl USING (doc_id)
    ORDER BY t.doc_id"""))

  val list: Seq[Q] = Seq(q40, q41, q42, q43, q44, q75, q77, q87, q94, q95, q130,
    q177, q184, q202, q205, q207, q230, q232, q234)
}
