package graft.queriesExt

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CentroidAggregator
import graft.operators.Similarity
import graft.queriesRelational.RelationalQueries.Q

/** Oracle corpus for similarity search + vector ops (B40-B41, B44,
  * B46). Cosines are bit-identical across engines: both sides compute
  * dot products as sequential left folds in double (Spark `aggregate`,
  * DuckDB `list_reduce`), so even rankings agree exactly; quantized
  * outputs (floor(x*1e6+0.5)/1e6) make that robustness visible.
  */
object SimilarityQueries {

  // DuckDB fragments
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** B44: vector norms via higher-order functions (no UDF). */
  private val q45 = Q("q45_vector_norms", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    e.select(col("vec_id"),
      Similarity.q6(Similarity.dot(col("embedding"), col("embedding"))).as("dot_self"),
      Similarity.q6(Similarity.norm(col("embedding"))).as("l2_norm"))
      .orderBy(col("vec_id"))
  }, Some(s"""
    SELECT vec_id,
           floor(${dotSql("embedding", "embedding")} * 1000000 + 0.5) / 1000000.0 AS dot_self,
           floor(sqrt(${dotSql("embedding", "embedding")}) * 1000000 + 0.5) / 1000000.0 AS l2_norm
    FROM embeddings ORDER BY vec_id"""))

  /** B40: brute-force cosine top-k — query set broadcast, corpus
    * scanned once, per-query ranked window.
    */
  private val q46 = Q("q46_bruteforce_topk", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, ${cosSql("q.qv", "c.embedding")} AS cos
      FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
             floor(cos * 1000000 + 0.5) / 1000000.0 AS cos_sim
      FROM scored)
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked
    WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** B41: random-hyperplane LSH signature (the scale path for ANN). */
  private val q47 = Q("q47_lsh_bucket", (s, dir) => {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.lshBucket(col("embedding"), 8, 64).as("bucket"))
      .orderBy(col("vec_id"))
  }, Some {
    val projs = (0 until 8).map { j =>
      val plane = s"list_transform(range(1, 65), i -> CAST((CAST(concat('0x', substr(md5(concat('${j}_', CAST(i - 1 AS VARCHAR))), 1, 12)) AS BIGINT) % 2001 - 1000) AS DOUBLE))"
      s"CASE WHEN list_reduce(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * $plane[i]), (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END"
    }
    s"""
    SELECT vec_id, ${projs.mkString(" + ")} AS bucket
    FROM embeddings ORDER BY vec_id"""
  })

  /** B41: the BOUNDED-corpus ANN path — single fixed-bucket equi-join
    * with exact cosine verification (regression query for
    * [[Similarity.annBucketPairsBounded]]; the default short name
    * `annBucketPairs` now delegates to the corpus-size-aware banded
    * plan, which q69/q97 cover).
    */
  private val q48 = Q("q48_ann_pairs", (s, dir) => {
    Similarity.annBucketPairsBounded(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("id1"), col("id2"))
  }, Some {
    val projs = (0 until 8).map { j =>
      val plane = s"list_transform(range(1, 65), i -> CAST((CAST(concat('0x', substr(md5(concat('${j}_', CAST(i - 1 AS VARCHAR))), 1, 12)) AS BIGINT) % 2001 - 1000) AS DOUBLE))"
      s"CASE WHEN list_reduce(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * $plane[i]), (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END"
    }
    s"""
    WITH bucketed AS (
      SELECT vec_id, embedding, ${projs.mkString(" + ")} AS bucket FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket,
           floor(${cosSql("a.embedding", "b.embedding")} * 1000000 + 0.5) / 1000000.0 AS cos_sim
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY id1, id2"""
  })

  /** B41 scale path: banded hyperplane signatures with per-band
    * equi-join — bucket space sized by bits-per-band (corpus-size-
    * aware, see Similarity.bandedAnnPairs scaladoc + SCALE.md), pairs
    * deduped with a shared-band count, vectors re-joined only for
    * surviving candidates.
    */
  /** DuckDB mirror of Similarity.bandSignature/bandedAnnPairs' band
    * explode: one UNION ALL branch per band, each computing the
    * bits-per-band signature from the shared md5-derived plane family.
    */
  private def bandsSql(nBands: Int, bits: Int): String = {
    def sigSql(band: Int): String = (0 until bits).map { i =>
      val j = band * bits + i
      val plane = s"list_transform(range(1, 65), d -> CAST((CAST(concat('0x', substr(md5(concat('${j}_', CAST(d - 1 AS VARCHAR))), 1, 12)) AS BIGINT) % 2001 - 1000) AS DOUBLE))"
      s"CASE WHEN list_reduce(list_transform(range(1, 65), d -> CAST(embedding[d] AS DOUBLE) * $plane[d]), (x, y) -> x + y) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    (0 until nBands).map { b =>
      s"SELECT vec_id, $b AS band, ${sigSql(b)} AS sig FROM embeddings"
    }.mkString(" UNION ALL ")
  }

  private val q69 = Q("q69_banded_ann", (s, dir) => {
    Similarity.bandedAnnPairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nBands = 4, bitsPerBand = 4)
      .orderBy(col("id1"), col("id2"))
  }, Some {
    s"""
    WITH bands AS (${bandsSql(4, 4)}),
    cand AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2, CAST(count(*) AS BIGINT) AS shared_bands
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      GROUP BY 1, 2)
    SELECT c.id1, c.id2, c.shared_bands,
           floor(${cosSql("e1.embedding", "e2.embedding")} * 1000000 + 0.5) / 1000000.0 AS cos_sim
    FROM cand c
      JOIN embeddings e1 ON e1.vec_id = c.id1
      JOIN embeddings e2 ON e2.vec_id = c.id2
    ORDER BY id1, id2"""
  })

  /** B46: typed Aggregator exemplar — per-label centroid, exploded to
    * (label, dim, value) rows. Distributes with map-side partials like
    * a built-in agg (merge is associative vector addition).
    */
  private val q49 = Q("q49_centroids", (s, dir) => {
    val centroid = udaf(new CentroidAggregator(64))
    Tables.load(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(centroid(col("embedding")).as("ctr"))
      .select(col("label"), posexplode(col("ctr")).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        Similarity.q6(col("v")).as("centroid"))
      .orderBy(col("label"), col("dim"))
  }, Some("""
    SELECT label, CAST(i - 1 AS BIGINT) AS dim,
           floor(avg(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS centroid
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    GROUP BY label, i ORDER BY label, dim"""))

  /** B44: nearest-centroid assignment — the 10 centroids fold into a
    * single broadcast array row and the argmin is a per-row expression
    * ([[Similarity.nearestCentroid]]): zero corpus shuffle, vs the
    * round-1 crossJoin + `row_number() OVER (PARTITION BY vec_id)`
    * which shuffled |corpus|x|centroids| rows. PlanSpec asserts the
    * executed plan has no Window and no hash exchange on vec_id.
    */
  private val q50 = Q("q50_nearest_centroid", (s, dir) => {
    val centroid = udaf(new CentroidAggregator(64))
    val e = Tables.load(s, dir, "embeddings")
    val ctrs = e.groupBy(col("label").as("cell"))
      .agg(centroid(col("embedding")).as("ctr"))
    Similarity.assignCells(e, ctrs, "vec_id", "embedding")
      .select(col("_id").as("vec_id"), col("cell").as("nearest_label"),
        col("dist"))
      .orderBy(col("vec_id"))
  }, Some("""
    WITH cent AS (
      SELECT label AS c_label, i,
             avg(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i),
    dists AS (
      SELECT e.vec_id, cent.c_label,
             floor(sum((CAST(e.embedding[cent.i] AS DOUBLE) - cent.c) *
                       (CAST(e.embedding[cent.i] AS DOUBLE) - cent.c)) * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e CROSS JOIN cent
      GROUP BY e.vec_id, cent.c_label),
    ranked AS (
      SELECT vec_id, c_label, qdist,
             row_number() OVER (PARTITION BY vec_id ORDER BY qdist, c_label) AS rn
      FROM dists)
    SELECT vec_id, c_label AS nearest_label, qdist AS dist
    FROM ranked WHERE rn = 1 ORDER BY vec_id"""))

  /** B41 scale path #2: IVF ANN — corpus bucketed by nearest-centroid
    * cell, queries probe the 2 nearest cells only. Composes the
    * Aggregator centroids with the broadcast argmin assignment; at
    * 100 TB the corpus is stored bucketed by cell so a query reads
    * nprobe/k of the data.
    */
  private val q62 = Q("q62_ivf_ann", (s, dir) => {
    val centroid = udaf(new CentroidAggregator(64))
    val e = Tables.load(s, dir, "embeddings")
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroid(col("embedding")).as("ctr"))
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), centroids,
      "vec_id", "embedding", k = 5, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    WITH cent AS (
      SELECT label AS cell, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i),
    dists AS (
      SELECT e.vec_id, cent.cell,
             floor(sum((CAST(e.embedding[cent.i] AS DOUBLE) - cent.c) *
                       (CAST(e.embedding[cent.i] AS DOUBLE) - cent.c)) * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e CROSS JOIN cent
      GROUP BY e.vec_id, cent.cell),
    ranked_cells AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY qdist, cell) AS crn
      FROM dists),
    corpus_cells AS (
      SELECT r.vec_id AS neighbor_id, e.embedding AS cv, r.cell
      FROM ranked_cells r JOIN embeddings e ON e.vec_id = r.vec_id
      WHERE r.crn = 1),
    query_cells AS (
      SELECT r.vec_id AS query_id, e.embedding AS qv, r.cell
      FROM ranked_cells r JOIN embeddings e ON e.vec_id = r.vec_id
      WHERE r.crn <= 2 AND r.vec_id < 10),
    scored AS (
      SELECT q.query_id, c.neighbor_id, ${cosSql("q.qv", "c.cv")} AS cos
      FROM query_cells q JOIN corpus_cells c USING (cell)
      WHERE c.neighbor_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
             floor(cos * 1000000 + 0.5) / 1000000.0 AS cos_sim
      FROM scored)
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked
    WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Dedup-family member in vector space: embedding-cosine near-dup
    * with the greedy lowest-id keep rule. Candidates from the banded
    * LSH (q69's plane family — never all-pairs), cosine-verified at
    * 0.35, duplicates removed by anti-join. Output = the KEPT corpus.
    */
  private val q73 = Q("q73_embedding_neardup", (s, dir) => {
    import graft.operators.Dedup
    Dedup.embeddingNearDups(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.35, nBands = 4, bitsPerBand = 4)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy(col("vec_id"))
  }, Some {
    s"""
    WITH bands AS (${bandsSql(4, 4)}),
    cand AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    dups AS (
      SELECT DISTINCT c.id2
      FROM cand c
        JOIN embeddings e1 ON e1.vec_id = c.id1
        JOIN embeddings e2 ON e2.vec_id = c.id2
      WHERE floor(${cosSql("e1.embedding", "e2.embedding")} * 1000000 + 0.5) / 1000000.0 >= 0.35)
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT id2 FROM dups)
    ORDER BY e.vec_id"""
  })

  /** The q69 plan WITH the hot-bucket guardrail engaged (maxBucket=40):
    * band-sig buckets above the occupancy cap are dropped before pair
    * generation — the standard LSH defense against clustered data
    * turning one bucket quadratic. The oracle filters band-sig groups
    * by the same occupancy bound, so the PRUNED plan's output is
    * hash-checked end-to-end (the guard was previously unit-tested
    * only). Six bits per band follow SCALE.md's occupancy rule for the
    * bench corpus: log2(2,000 / 40) ≈ 5.6, so buckets average ~31 rows
    * at sf0.1 and the cap drops only the clustered ones (48 of 256); at
    * 4 bits every sf0.1 bucket averaged 125 rows and the cap dropped
    * all of them, leaving nothing to check.
    */
  private val q97 = Q("q97_banded_ann_capped", (s, dir) => {
    Similarity.bandedAnnPairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nBands = 4, bitsPerBand = 6, maxBucket = Some(40))
      .orderBy(col("id1"), col("id2"))
  }, Some {
    s"""
    WITH bands AS (${bandsSql(4, 6)}),
    kept AS (
      SELECT band, sig FROM bands GROUP BY band, sig HAVING count(*) <= 40),
    pruned AS (
      SELECT b.vec_id, b.band, b.sig FROM bands b JOIN kept USING (band, sig)),
    cand AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2, CAST(count(*) AS BIGINT) AS shared_bands
      FROM pruned a JOIN pruned b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      GROUP BY 1, 2)
    SELECT c.id1, c.id2, c.shared_bands,
           floor(${cosSql("e1.embedding", "e2.embedding")} * 1000000 + 0.5) / 1000000.0 AS cos_sim
    FROM cand c
      JOIN embeddings e1 ON e1.vec_id = c.id1
      JOIN embeddings e2 ON e2.vec_id = c.id2
    ORDER BY id1, id2"""
  })

  /** Shared SQL CTEs for the PQ pair: 16 anchor codebooks (8 subspaces
    * x 8 dims), per-(vector, subspace) argmin code assignment.
    */
  private val pqAssignCtes = """
    WITH sd AS (
      SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
    dims AS (SELECT i, CAST(floor((i - 1) / 8.0) AS INT) AS s FROM sd),
    anchors AS (
      SELECT CAST(vec_id AS INT) AS code, embedding FROM embeddings WHERE vec_id < 16),
    d AS (
      SELECT e.vec_id, dims.s, a.code,
             floor(sum((CAST(e.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)) *
                       (CAST(e.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)))
                   * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e, dims, anchors a
      GROUP BY e.vec_id, dims.s, a.code),
    ranked AS (
      SELECT vec_id, s, code,
             row_number() OVER (PARTITION BY vec_id, s ORDER BY qdist, code) AS rn
      FROM d),
    assign AS (SELECT vec_id, s, code FROM ranked WHERE rn = 1)"""

  /** Spark-side PQ codebooks: subvectors of the 16 anchor rows.
    * private[graft]: SimilaritySpec exercises the SAME codebook the
    * oracle queries use (one construction site).
    */
  private[graft] def pqCodebooks(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") < 16).select(
        col("vec_id").cast("int").as("code"),
        explode(array((0 until 8).map(sIdx =>
          struct(lit(sIdx).as("subspace"),
            slice(col("embedding"), sIdx * 8 + 1, 8).as("subvec"))): _*)).as("_e"))
      .select(col("_e.subspace").as("subspace"), col("code"), col("_e.subvec").as("subvec"))

  /** B41 scale path #3: product-quantization encode — each 64-float
    * vector becomes 8 codebook codes (the 32x compression that puts a
    * billion-vector index in RAM). Narrow per-row argmin folds over
    * the broadcast codebook array; the corpus never shuffles.
    */
  private val q91 = Q("q91_pq_encode", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.pqEncode(e, pqCodebooks(e), "vec_id", "embedding")
      .withColumnRenamed("_id", "vec_id")
      .orderBy(col("vec_id"))
  }, Some(s"""
    $pqAssignCtes
    SELECT vec_id,
           ${(0 until 8).map(i => s"CAST(max(CASE WHEN s = $i THEN code END) AS INT) AS c$i").mkString(", ")}
    FROM assign GROUP BY vec_id ORDER BY vec_id"""))

  /** PQ asymmetric-distance top-5: queries score the ENCODED corpus
    * via a broadcast distance table — integer-quantized entries, so
    * the subspace sum is exact under any aggregation order; corpus
    * vectors are never read by the search.
    */
  private val q92 = Q("q92_pq_topk", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    val cbs = pqCodebooks(e)
    val codes = Similarity.pqEncode(e, cbs, "vec_id", "embedding")
    Similarity.pqTopK(codes, e.filter(col("vec_id") % 97 === 0), cbs,
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    $pqAssignCtes,
    qd AS (
      SELECT q.vec_id AS query_id, dims.s, a.code,
             CAST(floor(sum((CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)) *
                            (CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS dq
      FROM embeddings q, dims, anchors a
      WHERE q.vec_id % 97 = 0
      GROUP BY q.vec_id, dims.s, a.code),
    approx AS (
      SELECT qd.query_id, asg.vec_id AS neighbor_id, CAST(sum(qd.dq) AS BIGINT) AS dsum
      FROM assign asg JOIN qd ON asg.s = qd.s AND asg.code = qd.code
      WHERE asg.vec_id <> qd.query_id
      GROUP BY qd.query_id, asg.vec_id),
    topk AS (
      SELECT query_id, neighbor_id, dsum,
             row_number() OVER (PARTITION BY query_id ORDER BY dsum, neighbor_id) AS rank
      FROM approx)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           floor(CAST(dsum AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS approx_dist
    FROM topk WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** PQ shortlist (ADC top-20) + exact L2^2 re-rank to top-5 — the
    * two-stage serving plan: codes-only scan for candidates, true
    * vectors fetched for the shortlist only. The oracle extends q92's
    * ADC CTEs with the exact-distance re-rank.
    */
  private val q103 = Q("q103_pq_rerank", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    val cbs = pqCodebooks(e)
    val codes = Similarity.pqEncode(e, cbs, "vec_id", "embedding")
    Similarity.pqTopKReranked(codes, e, e.filter(col("vec_id") % 97 === 0), cbs,
        "vec_id", "embedding", k = 5, shortlist = 20)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    $pqAssignCtes,
    qd AS (
      SELECT q.vec_id AS query_id, dims.s, a.code,
             CAST(floor(sum((CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)) *
                            (CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS dq
      FROM embeddings q, dims, anchors a
      WHERE q.vec_id % 97 = 0
      GROUP BY q.vec_id, dims.s, a.code),
    approx AS (
      SELECT qd.query_id, asg.vec_id AS neighbor_id, CAST(sum(qd.dq) AS BIGINT) AS dsum
      FROM assign asg JOIN qd ON asg.s = qd.s AND asg.code = qd.code
      WHERE asg.vec_id <> qd.query_id
      GROUP BY qd.query_id, asg.vec_id),
    topm AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dsum, neighbor_id) AS rm
        FROM approx)
      WHERE rm <= 20),
    ex AS (
      SELECT t.query_id, t.neighbor_id,
             CAST(floor(sum((CAST(q.embedding[sd.i] AS DOUBLE) - CAST(c.embedding[sd.i] AS DOUBLE)) *
                            (CAST(q.embedding[sd.i] AS DOUBLE) - CAST(c.embedding[sd.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS ed
      FROM topm t
      JOIN embeddings c ON c.vec_id = t.neighbor_id
      JOIN embeddings q ON q.vec_id = t.query_id
      CROSS JOIN sd
      GROUP BY t.query_id, t.neighbor_id),
    rr AS (
      SELECT query_id, neighbor_id, ed,
             row_number() OVER (PARTITION BY query_id ORDER BY ed, neighbor_id) AS rank
      FROM ex)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           floor(CAST(ed AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS exact_dist
    FROM rr WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Shared CTE: per-vector int8 codes + max-abs scale, mirroring
    * [[Similarity.int8Quantize]]'s exact arithmetic order
    * ((x / scale) * 127, floor(+0.5), clamp).
    */
  private val int8Cte = """
    sc AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings),
    codes AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0 THEN
               list_transform(embedding, x ->
                 CAST(greatest(-127, least(127,
                   CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS BIGINT))) AS INT))
             ELSE list_transform(embedding, x -> 0) END AS cd
      FROM sc)"""

  /** Int8 scalar quantization (faiss-SQ8-style): codes serialized to a
    * string (the corpus convention for array outputs), scale quantized
    * late. Bit-reproducible: every step is IEEE double in a fixed
    * order on both engines.
    */
  private val q116 = Q("q116_int8_quantize", (s, dir) => {
    Similarity.int8Quantize(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"),
        array_join(col("codes").cast("array<string>"), ",").as("codes_str"),
        Similarity.q6(col("scale")).as("scale_q"))
      .orderBy(col("vec_id"))
  }, Some(s"""
    WITH $int8Cte
    SELECT vec_id, array_to_string(cd, ',') AS codes_str,
           floor(scale * 1000000 + 0.5) / 1000000.0 AS scale_q
    FROM codes ORDER BY vec_id"""))

  /** Int8 approximate-MIPS top-k: integer code dot products, neighbor
    * ranking by idot * neighbor_scale (query scale constant within a
    * ranking), ties by id — fully deterministic cross-engine.
    */
  private val q117 = Q("q117_int8_topk", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.int8TopK(e, e.filter(col("vec_id") % 97 === 0), "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    WITH $int8Cte,
    q AS (SELECT vec_id AS query_id, cd AS qc, scale AS qs FROM codes WHERE vec_id % 97 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(q.qc[i] AS BIGINT) * c.cd[i]), (x, y) -> x + y) AS idot,
             q.qs, c.scale AS cs
      FROM codes c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, idot,
             row_number() OVER (PARTITION BY query_id
               ORDER BY CAST(idot AS DOUBLE) * cs DESC, neighbor_id) AS rank,
             floor(CAST(idot AS DOUBLE) * qs * cs / 16129.0 * 1000000 + 0.5) / 1000000.0 AS dot_approx
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, idot, dot_approx
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** MMR diversity re-rank (k=3 of an 8-candidate shortlist,
    * relWeight 0.7 / divWeight 0.3): the operator runs the greedy
    * selection as a per-query array fold; the oracle unrolls the same
    * three steps as argmax CTEs. The diversity penalty floors at 0
    * (the operator's fold starts at 0.0), mirrored by the greatest(.,
    * 0.0) guards.
    */
  private val q131 = Q("q131_mmr_rerank", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.mmrRerank(e, e.filter(col("vec_id") % 97 === 0), "vec_id", "embedding",
        k = 3, shortlist = 8, relWeight = 0.7, divWeight = 0.3)
      .orderBy(col("query_id"), col("mmr_rank"))
  }, Some(s"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS nid, ${cosSql("q.qv", "c.embedding")} AS cos
      FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    cands AS (
      SELECT query_id, nid, floor(cos * 1000000 + 0.5) / 1000000.0 AS rel FROM (
        SELECT query_id, nid, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
        FROM scored) WHERE rn <= 8),
    sims AS (
      SELECT c1.query_id, c1.nid AS ida, c2.nid AS idb,
             floor(${cosSql("e1.embedding", "e2.embedding")} * 1000000 + 0.5) / 1000000.0 AS sim
      FROM cands c1
      JOIN cands c2 ON c2.query_id = c1.query_id AND c2.nid > c1.nid
      JOIN embeddings e1 ON e1.vec_id = c1.nid
      JOIN embeddings e2 ON e2.vec_id = c2.nid),
    s1 AS (SELECT query_id, nid AS sel FROM (
        SELECT query_id, nid,
               row_number() OVER (PARTITION BY query_id ORDER BY 0.7 * rel DESC, nid) AS rn
        FROM cands) WHERE rn = 1),
    sc2 AS (
      SELECT c.query_id, c.nid,
             0.7 * c.rel - 0.3 * greatest(coalesce(s.sim, 0.0), 0.0) AS score
      FROM cands c
      JOIN s1 ON s1.query_id = c.query_id
      LEFT JOIN sims s ON s.query_id = c.query_id
        AND s.ida = least(c.nid, s1.sel) AND s.idb = greatest(c.nid, s1.sel)
      WHERE c.nid <> s1.sel),
    s2 AS (SELECT query_id, nid AS sel FROM (
        SELECT query_id, nid,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nid) AS rn
        FROM sc2) WHERE rn = 1),
    sc3 AS (
      SELECT c.query_id, c.nid,
             0.7 * c.rel - 0.3 * greatest(coalesce(sa.sim, 0.0), coalesce(sb.sim, 0.0), 0.0) AS score
      FROM cands c
      JOIN s1 ON s1.query_id = c.query_id
      JOIN s2 ON s2.query_id = c.query_id
      LEFT JOIN sims sa ON sa.query_id = c.query_id
        AND sa.ida = least(c.nid, s1.sel) AND sa.idb = greatest(c.nid, s1.sel)
      LEFT JOIN sims sb ON sb.query_id = c.query_id
        AND sb.ida = least(c.nid, s2.sel) AND sb.idb = greatest(c.nid, s2.sel)
      WHERE c.nid <> s1.sel AND c.nid <> s2.sel),
    s3 AS (SELECT query_id, nid AS sel FROM (
        SELECT query_id, nid,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nid) AS rn
        FROM sc3) WHERE rn = 1)
    SELECT query_id, CAST(1 AS INT) AS mmr_rank, sel AS neighbor_id FROM s1
    UNION ALL SELECT query_id, CAST(2 AS INT), sel FROM s2
    UNION ALL SELECT query_id, CAST(3 AS INT), sel FROM s3
    ORDER BY query_id, mmr_rank"""))

  /** Reciprocal-rank fusion of two genuinely different rankers over
    * the same query set — exact float cosine vs int8 approximate
    * MIPS (top-10 lists each, k=60, fused top-5). The oracle rebuilds
    * both rankings from their existing CTE fragments and replays the
    * integer nano-unit fusion arithmetic.
    */
  private val q139 = Q("q139_rank_fusion", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") % 97 === 0)
    val cosR = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val mipsR = Similarity.int8TopK(e, queries, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    Similarity.reciprocalRankFusion(Seq(cosR, mipsR), k = 60, topK = 5)
      .orderBy(col("query_id"), col("fused_rank"))
  }, Some(s"""
    WITH $int8Cte,
    q AS (SELECT sc.vec_id AS query_id, sc.embedding AS qv,
                 codes.cd AS qc, codes.scale AS qs
          FROM codes JOIN sc ON sc.vec_id = codes.vec_id
          WHERE codes.vec_id % 97 = 0),
    cos_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ${cosSql("q.qv", "c.embedding")} AS cos
      FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    cos_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM cos_scored),
    mips_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(q.qc[i] AS BIGINT) * c.cd[i]), (x, y) -> x + y) AS idot,
             c.scale AS cs
      FROM codes c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    mips_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY CAST(idot AS DOUBLE) * cs DESC, neighbor_id) AS rank
      FROM mips_scored),
    contribs AS (
      SELECT query_id, neighbor_id,
             CAST(floor(1000000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS cu
      FROM cos_rank WHERE rank <= 10
      UNION ALL
      SELECT query_id, neighbor_id,
             CAST(floor(1000000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS cu
      FROM mips_rank WHERE rank <= 10),
    fused AS (
      SELECT query_id, neighbor_id, CAST(sum(cu) AS BIGINT) AS rrf_u
      FROM contribs GROUP BY query_id, neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, rrf_u,
             row_number() OVER (PARTITION BY query_id ORDER BY rrf_u DESC, neighbor_id) AS fused_rank
      FROM fused)
    SELECT query_id, neighbor_id, CAST(fused_rank AS INT) AS fused_rank, rrf_u
    FROM ranked WHERE fused_rank <= 5
    ORDER BY query_id, fused_rank"""))

  /** IVF x PQ composed serving plan (q62 + q92 + q103 fused): probe
    * the 3 nearest label-centroid cells, ADC-score only those cells'
    * codes (16 anchor codebooks), exact re-rank the 20-deep shortlist
    * to top-5. The oracle stacks q62's cell CTEs under the shared PQ
    * assignment CTEs and scopes q103's ADC to the probed cells.
    */
  private val q140 = Q("q140_ivfpq_topk", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    val centroid = udaf(new CentroidAggregator(64))
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroid(col("embedding")).as("ctr"))
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 97 === 0), centroids,
        pqCodebooks(e), "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    $pqAssignCtes,
    cent AS (
      SELECT label AS cell, sd.i, avg(CAST(embedding[sd.i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN sd GROUP BY label, sd.i),
    cdist AS (
      SELECT e.vec_id, cent.cell,
             floor(sum((CAST(e.embedding[cent.i] AS DOUBLE) - cent.c) *
                       (CAST(e.embedding[cent.i] AS DOUBLE) - cent.c)) * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e CROSS JOIN cent
      GROUP BY e.vec_id, cent.cell),
    cell_rank AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY qdist, cell) AS crn
      FROM cdist),
    corpus_cell AS (SELECT vec_id, cell FROM cell_rank WHERE crn = 1),
    probe AS (SELECT vec_id AS query_id, cell FROM cell_rank
              WHERE crn <= 3 AND vec_id % 97 = 0),
    qd AS (
      SELECT q.vec_id AS query_id, dims.s, a.code,
             CAST(floor(sum((CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)) *
                            (CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS dq
      FROM embeddings q, dims, anchors a
      WHERE q.vec_id % 97 = 0
      GROUP BY q.vec_id, dims.s, a.code),
    approx AS (
      SELECT p.query_id, asg.vec_id AS neighbor_id, CAST(sum(qd.dq) AS BIGINT) AS dsum
      FROM assign asg
      JOIN corpus_cell cc ON cc.vec_id = asg.vec_id
      JOIN probe p ON p.cell = cc.cell
      JOIN qd ON qd.query_id = p.query_id AND qd.s = asg.s AND qd.code = asg.code
      WHERE asg.vec_id <> p.query_id
      GROUP BY p.query_id, asg.vec_id),
    topm AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dsum, neighbor_id) AS rm
        FROM approx)
      WHERE rm <= 20),
    ex AS (
      SELECT t.query_id, t.neighbor_id,
             CAST(floor(sum((CAST(q.embedding[sd.i] AS DOUBLE) - CAST(c.embedding[sd.i] AS DOUBLE)) *
                            (CAST(q.embedding[sd.i] AS DOUBLE) - CAST(c.embedding[sd.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS ed
      FROM topm t
      JOIN embeddings c ON c.vec_id = t.neighbor_id
      JOIN embeddings q ON q.vec_id = t.query_id
      CROSS JOIN sd
      GROUP BY t.query_id, t.neighbor_id),
    rr AS (
      SELECT query_id, neighbor_id, ed,
             row_number() OVER (PARTITION BY query_id ORDER BY ed, neighbor_id) AS rank
      FROM ex)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           floor(CAST(ed AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS exact_dist
    FROM rr WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** THE VERSIONED STORE SERVES COMPRESSED (round 16, B41/B54): the
    * q140 ivfPqTopK plan executed from [[graft.operators.IvfStore]]'s
    * at-rest layout instead of in-flight frames — bootstrap writes
    * the label-centroid cells, the 16 anchor PQ codebooks, and every
    * row's codes INTO the store (codes as int columns beside the
    * vector, so the ADC scan's columnar projection reads the 16-32x
    * smaller code leg), then [[graft.operators.IvfStore.topKPq]]
    * probes 2 cells per query, ADC-scores the stored codes, and
    * exact-re-ranks the 16-deep shortlist to top-4. The oracle is
    * q140's CTE stack re-parameterized over the same arithmetic: the
    * stored codes must be indistinguishable from freshly-encoded ones
    * or the hash fails. (Store round-trip is exact: centroids are
    * array<double> both sides, codebook subvecs keep their float
    * type, codes are ints.)
    */
  private val q215 = Q("q215_ivfstore_pq_topk", (s, dir) => {
    import graft.operators.IvfStore
    val e = Tables.load(s, dir, "embeddings")
    val centroid = udaf(new CentroidAggregator(64))
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroid(col("embedding")).as("ctr"))
    val store = java.nio.file.Files.createTempDirectory("graft-q215").toString
    IvfStore.bootstrap(e.select("vec_id", "embedding"), centroids,
      "vec_id", "embedding", store, 1L, Some(pqCodebooks(e)))
    // the result reads the store lazily, so it lives until the JVM exits
    org.apache.commons.io.FileUtils.forceDeleteOnExit(new java.io.File(store))
    IvfStore.topKPq(s, store, e.filter(col("vec_id") % 89 === 0),
        "vec_id", "embedding", k = 4, nprobe = 2, shortlist = 16)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    $pqAssignCtes,
    cent AS (
      SELECT label AS cell, sd.i, avg(CAST(embedding[sd.i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN sd GROUP BY label, sd.i),
    cdist AS (
      SELECT e.vec_id, cent.cell,
             floor(sum((CAST(e.embedding[cent.i] AS DOUBLE) - cent.c) *
                       (CAST(e.embedding[cent.i] AS DOUBLE) - cent.c)) * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e CROSS JOIN cent
      GROUP BY e.vec_id, cent.cell),
    cell_rank AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY qdist, cell) AS crn
      FROM cdist),
    corpus_cell AS (SELECT vec_id, cell FROM cell_rank WHERE crn = 1),
    probe AS (SELECT vec_id AS query_id, cell FROM cell_rank
              WHERE crn <= 2 AND vec_id % 89 = 0),
    qd AS (
      SELECT q.vec_id AS query_id, dims.s, a.code,
             CAST(floor(sum((CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)) *
                            (CAST(q.embedding[dims.i] AS DOUBLE) - CAST(a.embedding[dims.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS dq
      FROM embeddings q, dims, anchors a
      WHERE q.vec_id % 89 = 0
      GROUP BY q.vec_id, dims.s, a.code),
    approx AS (
      SELECT p.query_id, asg.vec_id AS neighbor_id, CAST(sum(qd.dq) AS BIGINT) AS dsum
      FROM assign asg
      JOIN corpus_cell cc ON cc.vec_id = asg.vec_id
      JOIN probe p ON p.cell = cc.cell
      JOIN qd ON qd.query_id = p.query_id AND qd.s = asg.s AND qd.code = asg.code
      WHERE asg.vec_id <> p.query_id
      GROUP BY p.query_id, asg.vec_id),
    topm AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dsum, neighbor_id) AS rm
        FROM approx)
      WHERE rm <= 16),
    ex AS (
      SELECT t.query_id, t.neighbor_id,
             CAST(floor(sum((CAST(q.embedding[sd.i] AS DOUBLE) - CAST(c.embedding[sd.i] AS DOUBLE)) *
                            (CAST(q.embedding[sd.i] AS DOUBLE) - CAST(c.embedding[sd.i] AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS ed
      FROM topm t
      JOIN embeddings c ON c.vec_id = t.neighbor_id
      JOIN embeddings q ON q.vec_id = t.query_id
      CROSS JOIN sd
      GROUP BY t.query_id, t.neighbor_id),
    rr AS (
      SELECT query_id, neighbor_id, ed,
             row_number() OVER (PARTITION BY query_id ORDER BY ed, neighbor_id) AS rank
      FROM ex)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           floor(CAST(ed AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS exact_dist
    FROM rr WHERE rank <= 4 ORDER BY query_id, rank"""))

  /** Hard-negative mining for contrastive training data (round 16,
    * [[Similarity.hardNegatives]]): per anchor, the 5 most-similar
    * corpus vectors with a DIFFERENT label — the negatives a
    * dense-retriever fine-tune actually learns from. q46's broadcast
    * scan + ranked window with the label inequality pushed into the
    * scan; the oracle adds the same predicate to the q46 CTE.
    */
  private val q220 = Q("q220_hard_negatives", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.hardNegatives(e, e.filter(col("vec_id") % 97 === 0),
        "vec_id", "embedding", "label", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }, Some(s"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS ql
      FROM embeddings WHERE vec_id % 97 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             floor(${cosSql("q.qv", "c.embedding")} * 1000000 + 0.5) / 1000000.0 AS cos_sim
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.query_id AND c.label <> q.ql),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, neighbor_label, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** The full hybrid-retrieval serving pipeline, composed end to end:
    * per-query SPARSE retrieval (TextAnalysis.bm25Retrieve —
    * more-like-this over each query document's own terms) and DENSE
    * retrieval (exact cosine over the aligned embeddings table), fused
    * with reciprocal-rank fusion — the production RAG retriever shape
    * (sparse + dense + RRF), every stage of which is individually
    * oracle-checked (q138/q46/q139). doc_id and vec_id address the
    * same items, so the fused id space is coherent.
    */
  private val q145 = Q("q145_hybrid_retrieval", (s, dir) => {
    import graft.operators.TextAnalysis
    val docs = Tables.load(s, dir, "documents")
    val e = Tables.load(s, dir, "embeddings")
    // scored candidates only — both legs' rank windows, the RRF sum
    // and the fused top-k run in rankFuseScored's single query_id
    // partitioning (one exchange on the fusion path, not four)
    val sparse = TextAnalysis.bm25Candidates(docs,
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
      .select(col("query_id"), col("neighbor_id"), col("score_u").as("score"))
    val dense = Similarity.cosineCandidates(e,
        e.filter(col("vec_id") % 97 === 0), "vec_id", "embedding")
    Similarity.rankFuseScored(Seq(sparse, dense), perLegTopK = 10, k = 60, topK = 5)
      .orderBy(col("query_id"), col("fused_rank"))
  }, Some(s"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents WHERE doc_id IS NOT NULL),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents WHERE doc_id IS NOT NULL),
    qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tok WHERE doc_id % 97 = 0),
    need AS (SELECT DISTINCT term FROM qterms),
    tf AS (SELECT tok.doc_id, tok.term, CAST(count(*) AS BIGINT) AS tf
           FROM tok JOIN need USING (term) GROUP BY tok.doc_id, tok.term),
    idf AS (SELECT term,
                   CAST(floor(ln((nd - CAST(count(*) AS DOUBLE) + 0.5) /
                                 (CAST(count(*) AS DOUBLE) + 0.5) + 1.0)
                              * 1000000 + 0.5) AS BIGINT) AS idf_u
            FROM tf, n GROUP BY term, nd),
    ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    c AS (SELECT q.query_id, tf.doc_id AS neighbor_id,
                 CAST(floor(CAST(idf.idf_u AS DOUBLE) *
                            (CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                            (CAST(tf.tf AS DOUBLE) +
                             1.2 * ((1 - 0.75) + 0.75 * CAST(dl.dl AS DOUBLE) / ad.avgdl))
                            + 0.5) AS BIGINT) AS cu
          FROM qterms q
          JOIN tf USING (term) JOIN idf ON idf.term = tf.term
          JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN ad
          WHERE tf.doc_id <> q.query_id),
    sparse_score AS (
      SELECT query_id, neighbor_id, CAST(sum(cu) AS BIGINT) AS su
      FROM c GROUP BY query_id, neighbor_id),
    sparse_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY su DESC, neighbor_id) AS rank
      FROM sparse_score),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 0),
    cos_scored AS (
      SELECT q.query_id, cv.vec_id AS neighbor_id,
             ${cosSql("q.qv", "cv.embedding")} AS cos
      FROM embeddings cv CROSS JOIN q WHERE cv.vec_id <> q.query_id),
    cos_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM cos_scored),
    contribs AS (
      SELECT query_id, neighbor_id,
             CAST(floor(1000000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS cu
      FROM sparse_rank WHERE rank <= 10
      UNION ALL
      SELECT query_id, neighbor_id,
             CAST(floor(1000000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS cu
      FROM cos_rank WHERE rank <= 10),
    fused AS (
      SELECT query_id, neighbor_id, CAST(sum(cu) AS BIGINT) AS rrf_u
      FROM contribs GROUP BY query_id, neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, rrf_u,
             row_number() OVER (PARTITION BY query_id ORDER BY rrf_u DESC, neighbor_id) AS fused_rank
      FROM fused)
    SELECT query_id, neighbor_id, CAST(fused_rank AS INT) AS fused_rank, rrf_u
    FROM ranked WHERE fused_rank <= 5
    ORDER BY query_id, fused_rank"""))

  /** nDCG@10 ranking evaluation (RankEval.ndcgAtK): a deterministic
    * "system ranking" (each customer pool's orders by total price)
    * scored against graded judgments (a derived residue grade over a
    * judged subset) — the metric harness itself is what's under
    * test. The rank-discount ladder floor(log2(r+1)·1e6+0.5) is
    * computed ONCE at the driver and embedded in BOTH the plan and
    * the oracle's VALUES list, so no engine-side transcendental is
    * ever compared; every contribution is an exact integer quotient.
    * A wrong ideal ordering, an unjudged doc scoring non-zero, or a
    * query lost from the judgments side all surface as mismatches.
    */
  private val q190 = Q("q190_ndcg_eval", (s, dir) => {
    import graft.operators.RankEval
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.load(s, dir, "orders")
    val wq = Window.partitionBy(col("q"))
      .orderBy(col("o_totalprice").desc, col("doc"))
    val ranked = orders
      .select((col("o_custkey") % 50).as("q"), col("o_orderkey").as("doc"),
        col("o_totalprice"))
      .withColumn("rnk", row_number().over(wq))
      .drop("o_totalprice")
    val judged = orders.where(col("o_orderkey") % 3 === 0)
      .select((col("o_custkey") % 50).as("q"), col("o_orderkey").as("doc"),
        expr("(o_orderkey div 3) % 4").as("rel"))
    RankEval.ndcgAtK(ranked, judged, "q", "doc", "rnk", "rel", k = 10)
      .orderBy(col("q"))
  }, Some {
    val discVals = graft.operators.RankEval.discountMicros(10)
      .map { case (r, m) => s"($r, $m)" }.mkString(", ")
    s"""
    WITH rk AS (
      SELECT o_custkey % 50 AS q, o_orderkey AS doc,
             row_number() OVER (PARTITION BY o_custkey % 50
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders),
    jd AS (
      SELECT o_custkey % 50 AS q, o_orderkey AS doc,
             (o_orderkey // 3) % 4 AS rel
      FROM orders WHERE o_orderkey % 3 = 0),
    disc(rnk, lmic) AS (VALUES $discVals),
    dc AS (
      SELECT rk.q,
             CAST(SUM((COALESCE(jd.rel, 0) * 1000000000000) // d.lmic) AS BIGINT) AS dcg_unit
      FROM rk JOIN disc d ON d.rnk = rk.rnk
      LEFT JOIN jd ON jd.q = rk.q AND jd.doc = rk.doc
      WHERE rk.rnk <= 10 GROUP BY rk.q),
    id0 AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q ORDER BY rel DESC, doc) AS irank
      FROM jd),
    ic AS (
      SELECT q, CAST(SUM((rel * 1000000000000) // d.lmic) AS BIGINT) AS idcg_unit
      FROM id0 JOIN disc d ON d.rnk = id0.irank
      WHERE irank <= 10 GROUP BY q)
    SELECT ic.q AS q, COALESCE(dc.dcg_unit, 0) AS dcg_unit, ic.idcg_unit,
           CASE WHEN ic.idcg_unit > 0
                THEN CAST((COALESCE(dc.dcg_unit, 0) * 1000000) // ic.idcg_unit AS BIGINT)
           END AS ndcg_micro
    FROM ic LEFT JOIN dc ON dc.q = ic.q
    ORDER BY q"""
  })

  /** Iterative k-means TRAINING under the oracle (round 13) — the
    * first trained-model loop the DuckDB mirror replays end to end
    * (the PQ/OPQ queries use fixed anchors; [[Similarity.trainKMeans]]
    * itself was spec-only). Two determinism disciplines make a lossy
    * float pipeline exactly reproducible across engines:
    *  - inputs snap to the 2^-10 grid (exact binary fractions, so
    *    both engines' per-cell SUMS are exact and order-free — floats
    *    hold these multiples exactly, and so do double sums of them);
    *  - `gridUnits = 1e6` snaps each round's centroids, so ulp-level
    *    sum-order noise cannot feed the next round's argmin (the
    *    drift channel raw iterative training leaves open).
    * The oracle unrolls both Lloyd iterations as chained CTEs: argmin
    * by (quantized dist, cell) — exactly [[Similarity.nearestCentroid]]'s
    * fold tie-break — then snapped per-cell means. Init = the k
    * lowest-id vectors (TakeOrdered + one scalar collect_list gather;
    * no unpartitioned window, per the corpus-wide guard).
    */
  private val q204 = Q("q204_kmeans_train", (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
    val q = e.select(col("vec_id"),
      transform(col("embedding"), x =>
        (floor(x.cast("double") * 1024 + lit(0.5)) / 1024).cast("float")).as("qv"))
    Similarity.trainKMeans(q, "vec_id", "qv", k = 8, iters = 2, dim = 64,
      gridUnits = 1000000L)
      .select(col("cell"), posexplode(col("ctr")).as(Seq("dim", "centroid")))
      .select(col("cell"), col("dim").cast("long").as("dim"), col("centroid"))
      .orderBy(col("cell"), col("dim"))
  }, Some("""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1024 + 0.5) / 1024) AS v
      FROM embeddings),
    dims AS (SELECT unnest(range(1, 65)) AS i),
    seed AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 8),
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             list_transform(v, c -> floor(c * 1000000 + 0.5) / 1000000.0) AS ctr
      FROM seed),
    c0 AS (SELECT cell, i, ctr[i] AS c FROM init CROSS JOIN dims),
    d1 AS (
      SELECT e.vec_id, c0.cell,
             floor(sum((e.v[c0.i] - c0.c) * (e.v[c0.i] - c0.c)) * 1000000 + 0.5) / 1000000.0 AS dist
      FROM q e CROSS JOIN c0 GROUP BY 1, 2),
    a1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d1) WHERE rn = 1),
    m1 AS (
      SELECT a.cell, d.i, floor(avg(e.v[d.i]) * 1000000 + 0.5) / 1000000.0 AS c
      FROM a1 a JOIN q e USING (vec_id) CROSS JOIN dims d
      GROUP BY a.cell, d.i),
    d2 AS (
      SELECT e.vec_id, m1.cell,
             floor(sum((e.v[m1.i] - m1.c) * (e.v[m1.i] - m1.c)) * 1000000 + 0.5) / 1000000.0 AS dist
      FROM q e CROSS JOIN m1 GROUP BY 1, 2),
    a2 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d2) WHERE rn = 1),
    m2 AS (
      SELECT a.cell, d.i, floor(avg(e.v[d.i]) * 1000000 + 0.5) / 1000000.0 AS c
      FROM a2 a JOIN q e USING (vec_id) CROSS JOIN dims d
      GROUP BY a.cell, d.i)
    SELECT cell, CAST(i - 1 AS BIGINT) AS dim, c AS centroid
    FROM m2 ORDER BY cell, dim"""))

  /** IVF cell-occupancy DRIFT — the "when do I re-index?" monitor
    * that completes the batch-trained / stream-grown ANN lifecycle
    * (round 14): `maintainIvfIndex`'s contract fixes the centroids
    * while the stream runs, so the question a production deployment
    * must answer is when the ARRIVING distribution has drifted far
    * enough from the trained codebook that nprobe recall degrades
    * and a batch re-index is due. Composition of two proven
    * operators: [[Similarity.assignCells]] (broadcast argmin, zero
    * corpus shuffle) turns both the index-time corpus and the
    * current load into cell ids, and `Profiler.psiCategorical`
    * scores the occupancy mix shift per cell — the categorical PSI
    * because cells ARE categories (a numeric-bin PSI can't see a
    * vanished cell). The drift construction drops three labels
    * entirely and thins the rest, exercising the vanished-cell path
    * (cur_cnt 0 with floor-at-1 smoothing). Scale: two narrow
    * assignment passes + two map-side-combined cell counts; the PSI
    * join is cells x cells (config-sized).
    */
  private val q210 = Q("q210_ivf_occupancy_drift", (s, dir) => {
    val centroid = udaf(new CentroidAggregator(64))
    val e = Tables.load(s, dir, "embeddings")
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroid(col("embedding")).as("ctr"))
    val base = Similarity.assignCells(e, centroids, "vec_id", "embedding")
    val cur = Similarity.assignCells(
      e.filter(col("vec_id") % 3 === 0 && col("label") < 7),
      centroids, "vec_id", "embedding")
    graft.operators.Profiler.psiCategorical(base, cur, col("cell"))
      .orderBy(col("cat"))
  }, Some("""
    WITH cent AS (
      SELECT label AS cell, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      GROUP BY label, i),
    dists AS (
      SELECT e.vec_id, e.label, cent.cell,
             floor(sum((CAST(e.embedding[cent.i] AS DOUBLE) - cent.c) *
                       (CAST(e.embedding[cent.i] AS DOUBLE) - cent.c)) * 1000000 + 0.5) / 1000000.0 AS qdist
      FROM embeddings e CROSS JOIN cent
      GROUP BY e.vec_id, e.label, cent.cell),
    cells AS (
      SELECT vec_id, label, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY qdist, cell) AS crn
      FROM dists),
    b AS (SELECT CAST(cell AS VARCHAR) AS cat FROM cells WHERE crn = 1),
    c AS (SELECT CAST(cell AS VARCHAR) AS cat FROM cells
          WHERE crn = 1 AND vec_id % 3 = 0 AND label < 7),
    bc AS (SELECT cat, count(*) AS base_cnt FROM b GROUP BY cat),
    cc AS (SELECT cat, count(*) AS cur_cnt FROM c GROUP BY cat),
    j AS (SELECT COALESCE(bc.cat, cc.cat) AS cat,
                 COALESCE(bc.base_cnt, 0) AS base_cnt,
                 COALESCE(cc.cur_cnt, 0) AS cur_cnt
          FROM bc FULL OUTER JOIN cc ON bc.cat = cc.cat),
    t AS (SELECT CAST(sum(base_cnt) AS BIGINT) AS bt,
                 CAST(sum(cur_cnt) AS BIGINT) AS ct
          FROM j)
    SELECT j.cat, j.base_cnt, j.cur_cnt,
           CAST(floor(
             (greatest(j.base_cnt, 1) / CAST(t.bt AS DOUBLE)
              - greatest(j.cur_cnt, 1) / CAST(t.ct AS DOUBLE))
             * CAST(CAST(floor(ln(
                 (greatest(j.base_cnt, 1) * CAST(t.ct AS DOUBLE))
                 / (greatest(j.cur_cnt, 1) * CAST(t.bt AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             + 0.5) AS BIGINT) AS psi_micro
    FROM j, t ORDER BY j.cat"""))

  val list: Seq[Q] = Seq(q45, q46, q47, q48, q49, q50, q62, q69, q73, q91, q92, q97,
    q103, q116, q117, q131, q139, q140, q145, q190, q204, q210, q215, q220)
}
