package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{transform => transformArray}

import graft.functions.quantize.micro

/** Similarity search over embedding columns (SURVEY.md §2 B40-B41, B44).
  *
  * Vector math uses `zip_with`/`aggregate` higher-order functions with
  * LEFT-FOLD summation in double — bit-identical to any engine that
  * folds sequentially (the DuckDB oracle uses list_reduce), so cosine
  * scores and therefore rankings are reproducible exactly.
  *
  * 100 TB design:
  *  - brute-force top-k broadcasts the (small) query set and scans the
  *    corpus once; per-query ranking is a partitioned window, so the
  *    shuffle is bounded by |corpus| x |queries| candidate rows.
  *  - the scale path is LSH: random-hyperplane signatures are computed
  *    per row (narrow), and candidate generation is an equi-join on the
  *    bucket key — hash-partitioned, never a cross product. Hyperplanes
  *    are derived from md5 so signatures are engine-reproducible.
  */
object Similarity {

  /** Elementwise product sum (dot), left-fold in double. Backed by the
    * codegen'd [[graft.functions.DotProduct]] expression — bit-equal to
    * the `aggregate(zip_with(...))` higher-order formulation but ~5x
    * faster (tight primitive loop inside whole-stage codegen).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.vector.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The cross-engine quantizer (see graft.functions.quantize). */
  def q6(c: Column): Column = graft.functions.quantize.q6(c)

  /** Brute-force cosine top-k: every query vector against the full
    * corpus; ties broken by corpus id. Query side must be small (it is
    * broadcast); corpus side streams.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    cosineTopK(cosineCandidates(corpus, queries, idCol, vecCol)
      .withColumnRenamed("score", "_cos"), k)

  /** The scoring stage of [[bruteForceTopK]] WITHOUT the per-query
    * rank window: every (query, corpus) pair's raw cosine, query side
    * broadcast, self excluded. Exists so a hybrid retriever (q145) can
    * rank this dense leg and a sparse leg in ONE shared window pass —
    * see [[rankFuseScored]]. Output: (query_id, neighbor_id, score).
    */
  def cosineCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // Norms are computed ONCE per row on each side of the join, not
    // per (query, corpus) pair — cosine(q, c) inline would evaluate
    // dot(q,q) and dot(c,c) inside the cross product, tripling the
    // FLOPs of the hot loop. sqrt/division/multiplication order is
    // unchanged, so the double result is bit-identical to cosine().
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      norm(col(vecCol)).as("_qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      norm(col(vecCol)).as("_cn"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn"))).as("score"))
  }

  /** HARD-NEGATIVE MINING for contrastive training data (round 16 —
    * the standard pipeline op for embedding-model fine-tuning, e.g.
    * dense-retriever training: for each anchor, the k most similar
    * corpus items with a DIFFERENT label are the negatives that
    * actually teach the model, random negatives being trivially
    * separable). Same broadcast shape as [[bruteForceTopK]] — the
    * corpus scans once, queries broadcast — plus the label
    * inequality filter inside the scan; per-query top-k by quantized
    * cosine, ties to the lowest neighbor id. Emits the neighbor's
    * label so downstream batch construction can stratify.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      norm(col(vecCol)).as("_qn"), col(labelCol).as("_ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      norm(col(vecCol)).as("_cn"), col(labelCol).as("neighbor_label"))
    topKPerQuery(c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("neighbor_label") =!= col("_ql"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        q6(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn"))).as("cos_sim")),
      k, Window.orderBy(col("cos_sim").desc, col("neighbor_id")))
  }

  /** Deterministic pseudo-random hyperplane component: md5-derived
    * integer in [-1000, 1000] for (plane j, dimension i). Matches the
    * SQL formulation `CAST(concat('0x', substr(md5(j || '_' || i), 1,
    * 12)) AS BIGINT) % 2001 - 1000`.
    */
  def planeComponent(j: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 12)
    java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
  }

  /** Hyperplane `j` as a literal array column (md5-derived, so any
    * engine reproduces it).
    */
  private def planeLit(j: Int, dim: Int): Column =
    lit((0 until dim).map(i => planeComponent(j, i).toDouble).toArray)

  /** Random-hyperplane LSH bucket id: sign bit of the projection onto
    * each of `nPlanes` fixed hyperplanes. One narrow projection per
    * row; no shuffle.
    */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { j =>
      when(dot(vec, planeLit(j, dim)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Signature of band `b`: `bitsPerBand` sign bits of projections
    * onto globally-numbered hyperplanes (plane j = b*bitsPerBand + i),
    * so band signatures and [[lshBucket]] share one plane family.
    */
  def bandSignature(vec: Column, band: Int, bitsPerBand: Int, dim: Int): Column =
    (0 until bitsPerBand).map { i =>
      when(dot(vec, planeLit(band * bitsPerBand + i, dim)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Squared-L2 between two vectors — a sequential left fold in
    * double (cross-engine deterministic). Backed by the codegen'd
    * [[graft.functions.L2Sq]] expression, bit-equal to the
    * `aggregate(zip_with(...))` lambda formulation but a tight
    * primitive loop: the PQ encode path evaluates |codes| x
    * |subspaces| of these per row and the lambda form was its
    * bench hotspot (3.5 s -> ~1 s at sf0.1).
    */
  def l2sq(v: Column, c: Column): Column = graft.functions.vector.l2sq(v, c)

  /** All centroids folded into ONE row holding a sorted array of
    * (cell, ctr) structs — the broadcast side of the per-row argmin.
    * `array_sort` pins the order (collect_list order is partition-
    * dependent) so the fold's tie-break is deterministic.
    */
  def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(array_sort(
      collect_list(struct(col("cell"), col("ctr")))).as("_ctrs"))

  /** Per-row nearest-centroid argmin over a broadcast centroid array:
    * a left fold keeping the (cell, dist) with strictly smaller
    * quantized distance, so ties resolve to the lowest cell (the array
    * is cell-ascending) — exactly `row_number() OVER (ORDER BY dist,
    * cell) = 1`, but computed as a NARROW expression: no crossJoin
    * row explosion, no window, no shuffle of the corpus. At 100 TB the
    * old window formulation shuffled |corpus|x|centroids| rows on the
    * id key; this touches each row once where it already lives.
    */
  def nearestCentroid(vec: Column, ctrs: Column): Column = {
    val first = element_at(ctrs, 1)
    val init = struct(first.getField("cell").as("cell"),
      q6(l2sq(vec, first.getField("ctr"))).as("dist"))
    aggregate(slice(ctrs, lit(2), size(ctrs) - 1), init, (acc, c) => {
      val d = q6(l2sq(vec, c.getField("ctr")))
      when(d < acc.getField("dist"),
        struct(c.getField("cell").as("cell"), d.as("dist"))).otherwise(acc)
    })
  }

  /** Nearest-centroid cell assignment for a whole corpus: broadcast
    * the one-row centroid array and evaluate the argmin per row. The
    * only join is a BroadcastNestedLoopJoin against a single row —
    * the corpus is never shuffled or replicated.
    */
  def assignCells(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .crossJoin(broadcast(centroidArray(centroids)))
      .withColumn("_best", nearestCentroid(col("_v"), col("_ctrs")))
      .select(col("_id"), col("_v"),
        col("_best.cell").as("cell"), col("_best.dist").as("dist"))

  // ---------------------------------------------- the search kernel
  //
  // One implementation each of the steps the exact, IVF, PQ and
  // IVF-PQ plans (and IvfStore's serving over stored versions) are
  // composed from. Each takes and returns frames, and every ranking
  // breaks ties to the lowest id (the lowest cell, for probes).

  /** Per-query top-k: `row_number` over `query_id` in the order of
    * `order` (a `Window.orderBy(...)` spec), kept while `<= k`, in
    * column `rankCol`.
    */
  private[operators] def topKPerQuery(df: DataFrame, k: Int, order: WindowSpec,
      rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol, row_number().over(order.partitionBy(col("query_id"))))
      .filter(col(rankCol) <= k)

  /** The (query_id, _qv) side every search broadcasts. */
  private[operators] def queryVecs(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))

  /** Cosine top-k of scored pairs (query_id, neighbor_id, _cos):
    * highest first, reported on the q6 grid.
    */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    topKPerQuery(scored, k, Window.orderBy(col("_cos").desc, col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("rank"), q6(col("_cos")).as("cos_sim"))

  /** Exact cosine top-k inside the probed cells: probe rows (query_id,
    * _qv, cell) join the corpus rows (neighbor_id, _cv, cell) of those
    * cells, self excluded.
    */
  private[operators] def cellCosineTopK(probes: DataFrame, corpusCells: DataFrame,
      k: Int): DataFrame =
    cosineTopK(probes.join(corpusCells, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("_cos", cosine(col("_qv"), col("_cv"))), k)

  /** Each query's `nprobe` nearest cells by q6 squared L2 to the
    * centroids (cell, ctr), ties to the lowest cell: (query_id, _qv,
    * cell). |queries| x |cells| rows — the query side is small by
    * contract.
    */
  private[operators] def probeCells(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    topKPerQuery(queries.crossJoin(broadcast(centroids))
        .withColumn("_d", q6(l2sq(col("_qv"), col("ctr")))),
      nprobe, Window.orderBy(col("_d"), col("cell")), "_rn")
      .select(col("query_id"), col("_qv"), col("cell"))

  /** The `c0..c{nSub-1}` code columns of a row as (subspace, code) rows. */
  private[operators] def codeCells(nSub: Int): Column =
    posexplode(array((0 until nSub).map(sIdx => col(s"c$sIdx")): _*))
      .as(Seq("subspace", "code"))

  /** The ADC distance table (query_id, subspace, code, _dq): each query
    * slice against each codebook entry, squared L2 on the 1e-6 integer
    * grid, so a neighbor's sum over subspaces is exact in any order.
    */
  private[operators] def adcTable(qvecs: DataFrame, codebooks: DataFrame,
      subDim: Int): DataFrame =
    qvecs.crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("subspace"), col("code"),
        micro(l2sq(slice(col("_qv"), col("subspace") * subDim + 1, lit(subDim)),
          col("subvec"))).as("_dq"))

  /** ADC top-`depth` per query: candidate code rows (neighbor_id,
    * subspace, code, and query_id once a probe has paired them) join
    * the broadcast `dtable`, self excluded, and each neighbor's
    * distance `_dist` is its summed table entries.
    *
    * Completeness guard: a (subspace, code) with no table entry — the
    * -1 code [[graft.functions.PqUtil]] emits for a subspace whose
    * codebook is empty — drops out of the inner join and would rank
    * its neighbor on an under-counted sum, so only neighbors matched
    * in all `nSub` subspaces are ranked. With complete codebooks
    * every neighbor matches all `nSub` and the guard is a no-op.
    */
  private[operators] def adcShortlist(cands: DataFrame, dtable: DataFrame, nSub: Int,
      depth: Int): DataFrame =
    topKPerQuery(cands
        .join(broadcast(dtable), Seq("query_id", "subspace", "code").filter(cands.columns.contains))
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg((sum(col("_dq")).cast("double") / 1e6).as("_dist"),
          count(lit(1)).as("_matched"))
        .filter(col("_matched") === nSub),
      depth, Window.orderBy(col("_dist"), col("neighbor_id")))

  /** Exact re-rank of a shortlist (query_id, neighbor_id): only the
    * shortlisted vectors (neighbor_id, _nv) are fetched, scored by
    * squared L2 against the broadcast query vectors on the 1e-6
    * integer grid: (query_id, neighbor_id, rank, exact_dist).
    */
  private[operators] def exactRerank(shortlist: DataFrame, vecs: DataFrame,
      qvecs: DataFrame, k: Int): DataFrame =
    topKPerQuery(shortlist.select(col("query_id"), col("neighbor_id"))
        .join(vecs, "neighbor_id")
        .join(broadcast(qvecs), "query_id")
        .withColumn("_ed", micro(l2sq(col("_nv"), col("_qv")))),
      k, Window.orderBy(col("_ed"), col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        q6(col("_ed").cast("double") / 1e6).as("exact_dist"))

  /** IVF-style ANN: partition the corpus into cells by nearest
    * centroid (the inverted file), then answer queries by probing only
    * the `nprobe` nearest cells. At 100 TB the corpus is stored
    * bucketed by cell id, so a query touches nprobe/k of the data;
    * centroids (k rows) broadcast everywhere.
    *
    * Composition: centroid table (from CentroidAggregator or any
    * k-means) -> cell assignment (per-row broadcast argmin — see
    * [[assignCells]], zero corpus shuffle) -> candidate join on cell
    * id -> exact cosine top-k. Only the QUERY side (small by contract,
    * like [[bruteForceTopK]]'s broadcast side) uses a windowed top-
    * nprobe ranking; its shuffle is bounded by |queries| x |cells|.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    // centroids: (cell: Int, ctr: Array[Double])
    val corpusCells = assignCells(corpus, centroids, idCol, vecCol)
      .select(col("_id").as("neighbor_id"), col("_v").as("_cv"), col("cell"))
    cellCosineTopK(probeCells(queryVecs(queries, idCol, vecCol), centroids, nprobe),
      corpusCells, k)
  }

  /** ANN candidate pairs — the default entry point. Delegates to
    * [[bandedAnnPairs]], the corpus-size-aware plan (banded signatures,
    * occupancy-sized bucket space, optional hot-bucket guardrail):
    * candidate work is LINEAR in n at fixed occupancy. The historical
    * fixed-single-bucket plan survives as [[annBucketPairsBounded]] for
    * corpora small enough that ~n^2/2^nPlanes pairs are acceptable —
    * the short name no longer reaches the quadratic plan by default.
    * Output schema is bandedAnnPairs' (id1, id2, shared_bands, cos_sim).
    */
  def annBucketPairs(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 4, bitsPerBand: Int = 4, dim: Int = 64,
      maxBucket: Option[Int] = None): DataFrame =
    bandedAnnPairs(df, idCol, vecCol, nBands, bitsPerBand, dim, maxBucket)

  /** ANN via single-bucket LSH equi-join: candidate pairs share the
    * one `nPlanes`-bit bucket; exact cosine computed only for
    * candidates. With a FIXED plane count the 2^nPlanes bucket space
    * does not grow with the corpus, so within-bucket pairs grow
    * ~n^2/2^nPlanes — BOUNDED CORPORA ONLY; the corpus-size-aware
    * default is [[annBucketPairs]] -> [[bandedAnnPairs]], which sizes
    * bits-per-band to the corpus and adds a hot-bucket guardrail.
    */
  def annBucketPairsBounded(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = df.select(col(idCol), col(vecCol).as("_v"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket"))
    val a = bucketed.select(col("bucket"), col(idCol).as("id1"), col("_v").as("_v1"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id2"), col("_v").as("_v2"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("bucket"),
        q6(cosine(col("_v1"), col("_v2"))).as("cos_sim"))
  }

  /** Corpus-size-aware ANN candidates: banded hyperplane signatures
    * (the [[Dedup.lshBands]] pattern applied to vectors) + an optional
    * bucket-occupancy guardrail.
    *
    * Sizing rule (documented in SCALE.md): expected bucket occupancy
    * under uniform signatures is n / 2^bitsPerBand per band, so choose
    * bitsPerBand ~ log2(n / targetOccupancy). Candidate-pair work is
    * then ~ nBands * n * targetOccupancy / 2 — LINEAR in n at fixed
    * occupancy, vs ~n^2/2^nPlanes for the fixed single bucket. More
    * bands raise recall (a true neighbor pair is found if it agrees
    * on ALL bits of ANY band); `maxBucket` caps the damage from
    * non-uniform (clustered) data by dropping pathological buckets,
    * the standard LSH hot-bucket guard.
    *
    * Shuffle discipline: the band explode carries (id, band, sig) —
    * never the vectors; embeddings are re-joined only for the
    * candidate pairs that survive.
    */
  /** The (id, band, sig) band-key table of a corpus — one narrow
    * projection + explode per row, no shuffle. Materialize this as a
    * table and it becomes the HISTORY side of the incremental vector
    * screen ([[graft.streaming.StreamingOps.vectorNearDupAgainstHistory]]):
    * a stream of new vectors equi-joins its per-row band keys against
    * it, statelessly — the vector analog of the text band table.
    */
  def vectorBands(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 4, bitsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        bandSignature(col(vecCol), b, bitsPerBand, dim).as("sig"))
    }
    df.select(col(idCol), explode(array(bandStructs: _*)).as("_b"))
      .select(col(idCol), col("_b.band"), col("_b.sig"))
  }

  def bandedAnnPairs(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 4, bitsPerBand: Int = 4, dim: Int = 64,
      maxBucket: Option[Int] = None): DataFrame = {
    val bands = vectorBands(df, idCol, vecCol, nBands, bitsPerBand, dim)
    val pruned = maxBucket.fold(bands)(Dedup.dropHotBuckets(bands, Seq("band", "sig"), _))
    val a = pruned.select(col("band"), col("sig"), col(idCol).as("id1"))
    val b = pruned.select(col("band"), col("sig"), col(idCol).as("id2"))
    val candidates = a.join(b, Seq("band", "sig"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared_bands"))
    val e1 = df.select(col(idCol).as("id1"), col(vecCol).as("_v1"))
    val e2 = df.select(col(idCol).as("id2"), col(vecCol).as("_v2"))
    candidates.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"), col("shared_bands"),
        q6(cosine(col("_v1"), col("_v2"))).as("cos_sim"))
  }

  /** Product-quantization codebook table folded into ONE broadcast row:
    * array of (subspace, code, subvec) structs, array_sort-pinned to
    * (subspace asc, code asc) so per-subspace folds tie-break to the
    * lowest code deterministically.
    */
  def pqCodebookArray(codebooks: DataFrame): DataFrame =
    codebooks.agg(array_sort(collect_list(
      struct(col("subspace"), col("code"), col("subvec")))).as("_cbs"))

  /** PQ encode: per row, per subspace, the argmin codebook entry for
    * that subspace's slice of the vector — a NARROW fold over the
    * broadcast codebook array (the [[nearestCentroid]] move, once per
    * subspace): the corpus is never shuffled, and the output row is
    * `nSub` small ints where the input was `nSub*subDim` floats — the
    * 32x memory cut that lets 10^9-vector indexes live in RAM at
    * 100 TB corpus scale. Distances are quantized (1e-6) before the
    * strict-< fold so tie-breaks are engine-reproducible.
    *
    * @param codebooks (subspace: Int, code: Int, subvec: Array[Float])
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, nSub: Int = 8, subDim: Int = 8): DataFrame = {
    // the whole per-row encode (nSub argmin scans over the broadcast
    // codebook array) is ONE native expression — the per-subspace
    // aggregate-fold formulation ran ~120 interpreted lambda steps per
    // row and was the bench's #2 hotspot (see graft.functions.PqUtil;
    // same entry order, quantized comparison and tie-break, so oracle
    // hashes are unchanged)
    val codes = graft.functions.pq.encodeCodes(col("_v"), col("_cbs"), nSub, subDim)
    val codeCols = (0 until nSub).map(sIdx =>
      element_at(col("_codes"), sIdx + 1).as(s"c$sIdx"))
    corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .crossJoin(broadcast(pqCodebookArray(codebooks)))
      .withColumn("_codes", codes)
      .select((col("_id") +: codeCols): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k: score every ENCODED corpus
    * row against each query using only its `nSub` codes and a
    * per-query distance table — the search never touches corpus
    * vectors.
    *
    * Shape: the distance table (|queries| x nSub x |codes| rows — tiny
    * by contract) is computed on the broadcast side; the corpus codes
    * explode to (id, subspace, code) and equi-join it. Distance-table
    * entries are INTEGER-quantized (1e-6 grid, stored as longs), so
    * the per-row sum over subspaces is exact under any aggregation
    * order — no floating-point order dependence between engines or
    * partitionings.
    *
    * Completeness guard ([[adcShortlist]]): a neighbor missing a
    * distance-table entry for any subspace is excluded from the
    * ranking rather than mis-ranked on an under-counted sum. With
    * complete codebooks (the normal case) the guard is a no-op.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int, nSub: Int = 8,
      subDim: Int = 8): DataFrame =
    adcShortlist(codes.select(col("_id").as("neighbor_id"), codeCells(nSub)),
      adcTable(queryVecs(queries, idCol, vecCol), codebooks, subDim), nSub, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        q6(col("_dist")).as("approx_dist"))

  /** PQ shortlist + EXACT re-rank — the standard two-stage ANN serving
    * plan (IVF-PQ/FAISS style): [[pqTopK]] produces a `shortlist`-deep
    * candidate set per query from codes alone (corpus vectors never
    * read), then ONLY the shortlist rows fetch their true vectors for
    * an exact L2^2 re-rank to the final top-k. Fixes the ADC
    * quantization mis-rankings near the cut line at the cost of
    * |queries| x shortlist vector reads — at 100 TB that is the
    * difference between scanning a 100 GB code table and a 3 TB vector
    * table for the bulk of the work, with the vector fetch shuffling
    * `shortlist` rows per query, not the corpus.
    *
    * Distances are integer-quantized (1e-6 grid) before ranking, ties
    * break to the lowest neighbor id — the repo-wide reproducible-rank
    * contract.
    */
  def pqTopKReranked(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String, k: Int,
      shortlist: Int, nSub: Int = 8, subDim: Int = 8): DataFrame =
    exactRerank(pqTopK(codes, queries, codebooks, idCol, vecCol, shortlist, nSub, subDim),
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv")),
      queryVecs(queries, idCol, vecCol), k)

  /** IVF x PQ composed serving plan — THE production 100 TB vector-
    * search shape (the faiss `IVFPQ` index layout, Jégou et al. 2011):
    * (1) the inverted file prunes each query's search to its `nprobe`
    * nearest cells, (2) ADC scores only the PROBED cells' codes
    * against a broadcast integer-quantized distance table, (3) the
    * `shortlist` survivors fetch true vectors for an exact re-rank to
    * top-k. q62 (IVF, exact within cells) and q92/q103 (ADC over ALL
    * codes) are its halves; the composition scans ~nprobe/|cells| of
    * the code table where q92 scans all of it (q140).
    *
    * Scale shape: cell assignment + PQ encode are ONE narrow corpus
    * pass (broadcast centroid and codebook arrays — the corpus never
    * shuffles to be indexed; at rest the codes table is written
    * partitioned by cell, so the probe join becomes partition
    * pruning). The probe list (|queries| x nprobe) and distance table
    * (|queries| x nSub x |codes|) broadcast; the only corpus-scale
    * shuffle is the (query, neighbor) ADC aggregation over probed
    * cells. The exact re-rank reads |queries| x shortlist vectors.
    * Same completeness guard as [[pqTopK]]: neighbors missing a
    * distance-table entry for any subspace are excluded, not
    * mis-ranked on an under-counted sum.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int, shortlist: Int, nSub: Int = 8, subDim: Int = 8): DataFrame = {
    require(k >= 1 && shortlist >= k && nprobe >= 1,
      s"need 1 <= k <= shortlist and nprobe >= 1, got (k=$k, shortlist=$shortlist, nprobe=$nprobe)")
    // inverted file + codes in one narrow pass over the corpus
    val enc = graft.functions.pq.encodeCodes(col("_v"), col("_cbs"), nSub, subDim)
    val codeRows = assignCells(corpus, centroids, idCol, vecCol)
      .crossJoin(broadcast(pqCodebookArray(codebooks)))
      .withColumn("_codes", enc)
      .select(col("_id").as("neighbor_id"), col("cell"),
        posexplode(col("_codes")).as(Seq("subspace", "code")))
    val probes = probeCells(queryVecs(queries, idCol, vecCol), centroids, nprobe)
      .select(col("query_id"), col("cell"))
    val short = adcShortlist(codeRows.join(broadcast(probes), "cell"),
      adcTable(queryVecs(queries, idCol, vecCol), codebooks, subDim), nSub, shortlist)
    exactRerank(short, corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv")),
      queryVecs(queries, idCol, vecCol), k)
  }

  /** Lloyd's k-means over an embedding column, built from the pieces
    * this engine already distributes: [[assignCells]] (narrow
    * broadcast-argmin assignment — zero corpus shuffle) and the typed
    * [[graft.functions.CentroidAggregator]] (associative sum/count
    * buffers, map-side combined). Deterministic: init is the k
    * lowest-id vectors, gathered as TakeOrdered + one scalar
    * collect_list (no unpartitioned window — the round-13 shape the
    * corpus-wide single-partition guard enforces); each iteration
    * `localCheckpoint`s the k-row centroid frame to truncate the
    * iterative lineage (the connectedComponents discipline). A cell
    * that loses all members drops out (k shrinks) rather than being
    * re-seeded — acceptable for codebook training; re-seeding would
    * need an RNG policy.
    *
    * `gridUnits > 0` snaps each round's centroids to the 1/gridUnits
    * grid (floor(c*g + 0.5)/g per dimension) — the cross-engine /
    * cross-run REPRODUCIBILITY discipline for iterative training:
    * double sums are order-dependent at the ulp level, and an
    * unsnapped round feeds those ulps into the next round's argmin,
    * so two cluster layouts (or an engine and its oracle, q204) can
    * drift. Snapping at each round boundary makes the trained
    * codebook a pure function of the data. 0 keeps raw doubles.
    *
    * Per iteration at 100 TB: one corpus scan + one map-side-combined
    * aggregation; the only cross-node traffic is (cell, sum, count)
    * partials. Returns (cell: Int, ctr: Array[Double]).
    */
  def trainKMeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, dim: Int, gridUnits: Long = 0L): DataFrame = {
    require(gridUnits >= 0L, s"gridUnits must be >= 0, got $gridUnits")
    val centroidUdaf = udaf(new graft.functions.CentroidAggregator(dim))
    def snap(c: DataFrame): DataFrame =
      if (gridUnits == 0L) c
      else c.select(col("cell"), transformArray(col("ctr"),
        v => floor(v * gridUnits + lit(0.5)) / gridUnits).as("ctr"))
    var centroids = snap(
      df.select(col(idCol).as("_iid"), col(vecCol).as("_iv"))
        .orderBy(col("_iid")).limit(k)
        .agg(array_sort(collect_list(struct(col("_iid"), col("_iv")))).as("_a"))
        .select(posexplode(col("_a")).as(Seq("cell", "_s")))
        .select(col("cell").cast("int").as("cell"),
          transformArray(col("_s").getField("_iv"), x => x.cast("double")).as("ctr")))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      centroids = snap(
        assignCells(df, centroids, idCol, vecCol)
          .groupBy(col("cell")).agg(centroidUdaf(col("_v")).as("ctr")))
        .localCheckpoint()
    }
    centroids
  }

  /** Total within-cluster squared distance (the k-means objective) —
    * one narrow assignment pass + a scalar aggregate.
    */
  def kmeansInertia(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): Double =
    assignCells(df, centroids, idCol, vecCol)
      .agg(sum(col("dist"))).head().getDouble(0)

  /** Train per-subspace PQ codebooks with [[trainKMeans]] — the
    * production feeder for [[pqEncode]]/[[pqTopK]] (the oracle-checked
    * queries use fixed anchors instead so a SQL engine can replay
    * them). nSub small independent trainings over subDim-wide slices;
    * at scale they share each corpus scan only if materialized — run
    * them off a persisted/written slice table when the corpus is hot.
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      nSub: Int = 8, subDim: Int = 8, codes: Int = 16, iters: Int = 2): DataFrame =
    (0 until nSub).map { sIdx =>
      val sub = df.select(col(idCol),
        slice(col(vecCol), sIdx * subDim + 1, subDim).as("_sv"))
      trainKMeans(sub, idCol, "_sv", codes, iters, subDim)
        .select(lit(sIdx).as("subspace"), col("cell").as("code"), col("ctr").as("subvec"))
    }.reduce(_ union _)

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09): combine any
    * number of per-query rankings — vector ANN, BM25, a re-ranker —
    * by summing 1/(k + rank) per candidate; the standard hybrid-
    * retrieval fusion, robust to incomparable score scales because
    * only RANKS enter. Each input frame carries (query_id,
    * neighbor_id, rank).
    *
    * Determinism: each ranker's contribution floors to integer
    * nano-units BEFORE the per-candidate sum (float addition is
    * commutative but not associative — with 3+ rankers a double sum
    * would depend on aggregation order); ties in the fused ranking
    * break by neighbor id. One union + one (query, neighbor) groupBy
    * + a per-query window — cost scales with the candidate lists,
    * the corpus is never touched (q139).
    */
  def reciprocalRankFusion(rankings: Seq[DataFrame], k: Int = 60,
      topK: Int = 5): DataFrame = {
    require(rankings.nonEmpty && k >= 0 && topK >= 1,
      s"need rankings, k >= 0, topK >= 1; got (${rankings.size}, $k, $topK)")
    val contribU = floor(lit(1e9) /
      (lit(k).cast("double") + col("rank").cast("double")) + lit(0.5)).cast("long")
    val u = rankings.map(_.select(col("query_id"), col("neighbor_id"),
      contribU.as("_c"))).reduce(_ unionAll _)
    val fused = u.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_c")).as("rrf_u"))
    fusedTopK(fused, topK)
  }

  /** The fused top-`topK` of both RRF entry points: largest nano-unit
    * sum first.
    */
  private def fusedTopK(fused: DataFrame, topK: Int): DataFrame =
    topKPerQuery(fused, topK, Window.orderBy(col("rrf_u").desc, col("neighbor_id")), "fused_rank")
      .select(col("query_id"), col("neighbor_id"),
        col("fused_rank").cast("int").as("fused_rank"), col("rrf_u"))

  /** [[reciprocalRankFusion]] fused with the per-leg ranking itself:
    * takes each leg's SCORED candidates (query_id, neighbor_id, score
    * — higher is better; per-leg rank breaks ties by neighbor_id,
    * exactly the window every individual retriever runs) and performs
    * per-leg top-`perLegTopK` ranking, the nano-unit RRF sum, and the
    * fused top-`topK` in ONE query_id partitioning.
    *
    * Why this exists (q145): composing bm25Retrieve + bruteForceTopK +
    * reciprocalRankFusion pays FOUR candidate-scale exchanges — one
    * rank window per leg, the RRF (query, neighbor) groupBy, and the
    * fused window (the union erases the legs' partitioning). Here the
    * union of raw candidates is repartitioned on query_id ONCE;
    * hash(query_id) satisfies the clustered distribution of the
    * per-leg window (query_id, leg), the RRF aggregation (query_id,
    * neighbor_id), and the fused window (query_id), so Catalyst plans
    * zero further exchanges — verified in PlanSpec. Same bytes
    * shuffled as ONE of the old exchanges, three stage barriers gone.
    *
    * Determinism: scores are compared as doubles; an integer-grid leg
    * (BM25 micro-units) must pass its LONG units cast to double —
    * exact (and order-identical) while |score| < 2^53. Rank contribs
    * floor to integer nano-units before the sum, as in
    * [[reciprocalRankFusion]]; fused ties break by neighbor_id.
    */
  def rankFuseScored(legs: Seq[DataFrame], perLegTopK: Int, k: Int = 60,
      topK: Int = 5): DataFrame = {
    require(legs.nonEmpty && perLegTopK >= 1 && k >= 0 && topK >= 1,
      s"need legs, perLegTopK >= 1, k >= 0, topK >= 1; got (${legs.size}, $perLegTopK, $k, $topK)")
    val u = legs.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col("neighbor_id"),
        col("score").cast("double").as("_score"), lit(i).as("_leg"))
    }.reduce(_ unionAll _)
    val wLeg = Window.partitionBy(col("query_id"), col("_leg"))
      .orderBy(col("_score").desc, col("neighbor_id"))
    val contribU = floor(lit(1e9) /
      (lit(k).cast("double") + col("_r").cast("double")) + lit(0.5)).cast("long")
    val fused = u.repartition(col("query_id"))
      .withColumn("_r", row_number().over(wLeg))
      .filter(col("_r") <= perLegTopK)
      .select(col("query_id"), col("neighbor_id"), contribU.as("_c"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_c")).as("rrf_u"))
    fusedTopK(fused, topK)
  }

  /** Maximal-Marginal-Relevance re-rank: greedily pick `k` of each
    * query's `shortlist` top candidates, each step taking the
    * candidate maximizing  relWeight * rel(c) - divWeight * max_{s in
    * S} sim(c, s)  — the standard RAG/retrieval DIVERSITY pass that
    * stops five near-identical chunks from filling a context window
    * (Carbonell & Goldstein 1998).
    *
    * Spark-first shape: the greedy loop is NOT a driver loop over
    * data — the shortlist (and its pairwise sims, both
    * candidate-bounded: m and m^2 rows per query) is gathered into
    * ONE row per query, and the k selection steps unroll into a
    * nested higher-order-function expression evaluated per row.
    * Scales with |queries|, never touches the corpus after the
    * shortlist pass. Ties break to the smaller id via struct-max on
    * (score, -id); rel and sim ride the q6 grid, and the two weights
    * are explicit doubles (NOT 1-lambda — 1.0-0.7 is
    * 0.30000000000000004 in IEEE, which would diverge from a SQL
    * literal 0.3), so every engine replays the exact arithmetic
    * (q131's oracle unrolls the same steps as CTEs).
    *
    * Contract: `idCol` must be numeric (the tie-break negates it and
    * the greedy seed array is typed bigint); queries whose shortlist
    * gathers fewer than `k` candidates are omitted from the output
    * entirely — the same rows a SQL mirror's k-step CTE stack drops —
    * rather than emitting null-padded ranks.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, shortlist: Int = 8,
      relWeight: Double = 0.7, divWeight: Double = 0.3): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need 1 <= k <= shortlist, got ($k, $shortlist)")
    require(corpus.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"mmrRerank needs a numeric id column (tie-break negates it); '$idCol' is ${corpus.schema(idCol).dataType.simpleString}")
    val top = bruteForceTopK(corpus, queries, idCol, vecCol, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    val vecs = corpus.select(col(idCol).as("_vid"), col(vecCol).as("_vv"))
    // pairwise sims among each query's shortlist (m^2/2 rows per query)
    val a = top.select(col("query_id"), col("neighbor_id").as("_ida"))
    val b = top.select(col("query_id"), col("neighbor_id").as("_idb"))
    val sims = a.join(b, "query_id").filter(col("_ida") < col("_idb"))
      .join(vecs.select(col("_vid").as("_ida"), col("_vv").as("_va")), "_ida")
      .join(vecs.select(col("_vid").as("_idb"), col("_vv").as("_vb")), "_idb")
      .select(col("query_id"),
        concat_ws(":", col("_ida"), col("_idb")).as("_pk"),
        q6(cosine(col("_va"), col("_vb"))).as("_sim"))
    val simMap = sims.groupBy(col("query_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("_pk"), col("_sim"))))).as("_m"))
    val cands = top.groupBy(col("query_id"))
      .agg(array_sort(collect_list(
        struct(col("neighbor_id").as("id"), col("cos_sim").as("rel")))).as("_c"))
    val gathered = cands.join(simMap, Seq("query_id"), "left")
      .withColumn("_m", coalesce(col("_m"), map_from_entries(array().cast("array<struct<_pk:string,_sim:double>>"))))
      // a shortlist smaller than k cannot seed k greedy steps: pick()
      // would array_max an empty array and the null would poison every
      // later array_contains — drop such queries (see contract above)
      .filter(size(col("_c")) >= k)

    def simOf(cid: Column, sid: Column, m: Column): Column =
      coalesce(element_at(m, concat_ws(":", least(cid, sid), greatest(cid, sid))), lit(0.0))
    def maxSimTo(cid: Column, selected: Column, m: Column): Column =
      aggregate(selected, lit(0.0), (acc, s) => greatest(acc, simOf(cid, s, m)))
    def pick(c: Column, selected: Column, m: Column): Column = {
      val scored = transform(c, cand => struct(
        (lit(relWeight) * cand.getField("rel") -
          lit(divWeight) * maxSimTo(cand.getField("id"), selected, m)).as("score"),
        (-cand.getField("id")).as("negid"),
        cand.getField("id").as("id")))
      val avail = filter(scored, s => !array_contains(selected, s.getField("id")))
      array_max(avail).getField("id")
    }

    var selCol: Column = array(pick(col("_c"), array().cast("array<bigint>"), col("_m")))
    for (_ <- 1 until k)
      selCol = concat(selCol, array(pick(col("_c"), selCol, col("_m"))))
    gathered.withColumn("_sel", selCol)
      .select(col("query_id"), posexplode(col("_sel")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("mmr_rank"),
        col("col").as("neighbor_id"))
  }

  /** Exact cosine over SPARSE (id, bucket, w) vector representations
    * for a candidate pair set — the scorer that pairs with
    * [[graft.operators.TextAnalysis.hashedTfIdf]]: hashed-TF-IDF text
    * vectors never need densifying to be compared. Dot products and
    * squared norms are exact integer sums (the weights are integers);
    * the only floating steps are the final sqrt/divide, fixed-order
    * IEEE ops any engine replays (q129).
    *
    * Scale shape: the dot is an equi-join on (pair, bucket) — the
    * sparse representation IS the join key space, so cost scales with
    * |pairs| x avg-nnz, never with the dense dimension; norms are one
    * map-side-combined aggregation of the sparse table. Pairs with no
    * shared bucket score 0 (left join + coalesce). Zero-norm ids
    * (docs whose every term was ubiquitous) are dropped — cosine is
    * undefined there, and the require()d contract is candidates, not
    * the full corpus.
    */
  def sparseCosinePairs(sparse: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", bucketCol: String = "bucket",
      wCol: String = "w"): DataFrame = {
    val s1 = sparse.select(col(idCol).as("id1"), col(bucketCol).as("_bk"),
      col(wCol).as("_w1"))
    val s2 = sparse.select(col(idCol).as("id2"), col(bucketCol).as("_bk"),
      col(wCol).as("_w2"))
    val dots = pairs.join(s1, "id1").join(s2, Seq("id2", "_bk"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("_w1") * col("_w2")).as("_dot"))
    val norms = sparse.groupBy(col(idCol))
      .agg(sum(col(wCol) * col(wCol)).as("_n2"))
    pairs
      .join(dots, Seq("id1", "id2"), "left")
      .join(norms.select(col(idCol).as("id1"), col("_n2").as("_nsq1")), "id1")
      .join(norms.select(col(idCol).as("id2"), col("_n2").as("_nsq2")), "id2")
      .filter(col("_nsq1") > 0 && col("_nsq2") > 0)
      .select(col("id1"), col("id2"),
        q6(coalesce(col("_dot"), lit(0L)).cast("double") /
          (sqrt(col("_nsq1").cast("double")) * sqrt(col("_nsq2").cast("double"))))
          .as("cos_sim"))
  }

  /** Scalar int8 quantization, symmetric per-vector max-abs scale —
    * the OTHER embedding-compression axis next to PQ (q91/q92): PQ
    * trades recall for 32x, int8 keeps near-full recall at 4x (64
    * bytes vs 256 for a 64-dim float vector) and integer dot products
    * SIMD-vectorize. The standard serving-index layout (faiss
    * `SQ8`-style).
    *
    *   scale  = max_i |x_i|                  (0 for the zero vector)
    *   code_i = floor(x_i / scale * 127 + 0.5) clamped to [-127, 127]
    *
    * Every step is IEEE double arithmetic in a fixed order, so codes
    * are bit-reproducible on any engine (q116's oracle replays them in
    * SQL). Narrow per-row projection — composes with the scan, nothing
    * shuffles.
    */
  def int8Quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xs = transformArray(col(vecCol), x => abs(x.cast("double")))
    df.withColumn("scale", array_max(xs))
      .withColumn("codes",
        when(col("scale") > 0, transformArray(col(vecCol), x =>
          greatest(lit(-127L), least(lit(127L),
            floor(x.cast("double") / col("scale") * 127 + lit(0.5)).cast("long")))
            .cast("int")))
        .otherwise(transformArray(col(vecCol), _ => lit(0))))
      .select(col(idCol), col("codes"), col("scale"))
  }

  /** Approximate maximum-inner-product top-k over int8 codes: the
    * integer dot product of the code arrays, rescaled by the two
    * vectors' quantization scales, approximates the float dot product
    * to within the quantization error. Ranking multiplies the exact
    * integer dot by the neighbor's scale only (the query's scale is
    * constant within its ranking — dropping it changes nothing and
    * keeps the sort key's arithmetic minimal); ties break by neighbor
    * id, so the ranking is fully deterministic cross-engine (q117).
    *
    * Scale shape: identical to [[bruteForceTopK]] (broadcast query
    * set, one corpus scan, per-query window) but the scanned payload
    * is 4x smaller and the inner loop is integer multiply-adds — the
    * shape a 100 TB serving index actually ships. The integer dot of
    * 64-dim int8 codes is <= 64*16129 < 2^21, exactly representable
    * in double on every engine.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = int8Quantize(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes").as("_cc"), col("scale").as("_cs"))
    val q = int8Quantize(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("codes").as("_qc"), col("scale").as("_qs"))
    val idot = aggregate(
      zip_with(col("_qc"), col("_cc"), (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("_idot", idot)
    topKPerQuery(scored, k,
        Window.orderBy((col("_idot").cast("double") * col("_cs")).desc, col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("_idot").as("idot"),
        q6(col("_idot").cast("double") * col("_qs") * col("_cs") / lit(16129.0)).as("dot_approx"))
  }

  // ------------------------------------------------------------- OPQ

  /** Apply a `dim x dim` rotation (row-major flat `r`) to a vector
    * column: `y_j = dot(x, R[:, j])` — one codegen'd
    * [[graft.functions.DotProduct]] per output dimension against a
    * literal column of R. Entirely narrow: the matrix rides in the
    * plan as `dim` literal arrays (64x64 = 32 KB), never a join.
    *
    * Output is `array<float>` — the engine's embedding storage dtype
    * (and faiss's): rotated vectors slot into every downstream
    * operator (training, encode, ADC) exactly like raw embeddings.
    * The dot products themselves accumulate in double.
    */
  def rotateVec(vec: Column, r: Array[Double], dim: Int): Column = {
    require(r.length == dim * dim,
      s"rotation must be ${dim}x$dim row-major flat, got ${r.length}")
    array((0 until dim).map { j =>
      graft.functions.vector.dotProduct(vec,
        typedLit((0 until dim).map(i => r(i * dim + j)).toArray)).cast("float")
    }: _*)
  }

  /** Orthogonal Procrustes: the R maximizing tr(R^T M) over orthogonal
    * matrices is U V^T from M = U S V^T (Schonemann 1966) — a
    * `dim x dim` driver-side SVD (breeze/LAPACK, deterministic), the
    * one part of OPQ that is not data-scale.
    */
  private def procrustesRotation(mRowMajor: Array[Double], dim: Int): Array[Double] = {
    val md = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) md(i, j) = mRowMajor(i * dim + j)
    val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(md)
    val rM = u * vt
    Array.tabulate(dim * dim)(x => rM(x / dim, x % dim))
  }

  /** Train an OPQ rotation + codebooks (Ge et al., "Optimized Product
    * Quantization", CVPR'13 — the faiss `OPQMatrix` pre-transform).
    * Alternates (a) PQ codebook training on the rotated corpus and
    * (b) the orthogonal Procrustes solve `R = argmin ||X R - Xhat||_F`
    * (non-parametric OPQ), so the rotation re-balances variance across
    * subspaces — exactly the regime where per-subspace PQ saturates on
    * anisotropic/correlated embeddings (the round-4 negative result in
    * SCALE.md).
    *
    * 100 TB shape: per iteration, one narrow rotate+encode pass over
    * the corpus, then the cross-matrix `M = X^T Xhat` via
    * [[graft.functions.OuterProductAggregator]] — per-subspace
    * `dim x subDim` blocks accumulated map-side, so the only shuffle
    * rows are nSub 4 KB block buffers per partition, never vectors.
    * The `dim x dim` SVD runs on the driver (sub-millisecond at
    * dim=64). Training normally runs on a sample; the learned `r` then
    * applies corpus-wide through [[opqEncode]] (narrow).
    *
    * Determinism: [[trainKMeans]] inits at lowest-id vectors and the
    * SVD is LAPACK-deterministic for a fixed input, but the
    * cross-matrix accumulates doubles in partition order, so R can
    * differ in the last ulp across partitionings — training output is
    * therefore spec-verified (like [[trainKMeans]] /
    * [[trainPqCodebooks]]), not oracle-replayed.
    *
    * @return (row-major flat `dim x dim` rotation, codebooks trained
    *         under the FINAL rotation — feed both to [[opqEncode]] /
    *         [[opqTopK]])
    */
  def trainOpq(df: DataFrame, idCol: String, vecCol: String, dim: Int = 64,
      nSub: Int = 8, subDim: Int = 8, codes: Int = 16, kmIters: Int = 2,
      opqIters: Int = 2): (Array[Double], DataFrame) = {
    require(nSub * subDim == dim, s"nSub*subDim must equal dim: $nSub*$subDim != $dim")
    require(opqIters >= 1 && kmIters >= 1, "need at least one iteration of each")
    val outerU = udaf(new graft.functions.OuterProductAggregator(dim, subDim))
    var r = Array.tabulate(dim * dim)(x => if (x % (dim + 1) == 0) 1.0 else 0.0)
    val base = df.select(col(idCol).as("_oid"),
      transformArray(col(vecCol), x => x.cast("double")).as("_x")).persist()
    try {
      for (_ <- 0 until opqIters) {
        val rot = base.select(col("_oid"), rotateVec(col("_x"), r, dim).as("_rv"))
        val cbs = trainPqCodebooks(rot, "_oid", "_rv", nSub, subDim, codes, kmIters)
        val codesDf = pqEncode(rot, cbs, "_oid", "_rv", nSub, subDim)
        val pairs = codesDf.select(col("_id"),
          explode(array((0 until nSub).map(s =>
            struct(lit(s).as("subspace"), col(s"c$s").as("code"))): _*)).as("_sc"))
          .select(col("_id"), col("_sc.subspace").as("subspace"),
            col("_sc.code").as("code"))
        val blocks = pairs
          .join(base.withColumnRenamed("_oid", "_id"), "_id")
          .join(broadcast(cbs.select(col("subspace"), col("code"),
            transformArray(col("subvec"), x => x.cast("double")).as("_b"))),
            Seq("subspace", "code"))
          .groupBy(col("subspace")).agg(outerU(col("_x"), col("_b")).as("block"))
          .collect().map(row => row.getInt(0) -> row.getSeq[Double](1)).toMap
        val m = new Array[Double](dim * dim)
        for (s <- 0 until nSub; blk <- blocks.get(s);
             i <- 0 until dim; j <- 0 until subDim)
          m(i * dim + s * subDim + j) = blk(i * subDim + j)
        r = procrustesRotation(m, dim)
      }
      // codebooks must match the rotation they will serve under — one
      // final training pass at the final R
      val rotF = base.select(col("_oid"), rotateVec(col("_x"), r, dim).as("_rv"))
      (r, trainPqCodebooks(rotF, "_oid", "_rv", nSub, subDim, codes, kmIters))
    } finally base.unpersist()
  }

  /** [[pqEncode]] under an OPQ rotation: one narrow rotate-then-encode
    * corpus pass (rotation literals + broadcast codebooks — the 32x
    * memory cut of PQ with OPQ's accuracy, same scan shape).
    */
  def opqEncode(corpus: DataFrame, r: Array[Double], codebooks: DataFrame,
      idCol: String, vecCol: String, nSub: Int = 8, subDim: Int = 8): DataFrame = {
    val dim = nSub * subDim
    val rot = corpus.select(col(idCol), rotateVec(col(vecCol), r, dim).as("_rvec"))
    pqEncode(rot, codebooks, idCol, "_rvec", nSub, subDim)
  }

  /** [[pqTopK]] under an OPQ rotation: rotate the (small) query set,
    * then ADC over the OPQ codes. Rotation is orthogonal, so rotated-
    * space L2 equals original-space L2 — the ranking approximates the
    * same ground truth, just with lower quantization error.
    */
  def opqTopK(codes: DataFrame, queries: DataFrame, r: Array[Double],
      codebooks: DataFrame, idCol: String, vecCol: String, k: Int,
      nSub: Int = 8, subDim: Int = 8): DataFrame = {
    val dim = nSub * subDim
    val rotQ = queries.select(col(idCol), rotateVec(col(vecCol), r, dim).as("_rvec"))
    pqTopK(codes, rotQ, codebooks, idCol, "_rvec", k, nSub, subDim)
  }
}