package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators for training-data pipelines: deterministic
  * stratified sampling and context-window sequence packing.
  *
  * 100 TB design: sampling is a narrow per-row filter (hash + map
  * lookup, zero shuffle — it composes with the scan and prunes data
  * BEFORE any downstream shuffle); packing shuffles once on the shard
  * key and then runs a per-shard window in token order, which is how
  * production packers operate (pack within shards, never a global
  * order over the corpus).
  */
object CorpusOps {

  /** Deterministic stratified sampling: keep a row iff
    * hash48(id) mod `buckets` < rate(stratum) * buckets. The hash is
    * the repo-wide md5-prefix ([[Dedup.hash48]]), so the SAME rows are
    * selected on every engine, every run, any partitioning — unlike
    * `TABLESAMPLE`/`rand()`, which are nondeterministic and
    * partitioning-dependent. Per-stratum rates let a pipeline
    * down-weight over-represented languages/sources.
    *
    * Scale: a codegen'd filter on a scan — no shuffle, no state; the
    * sampled fraction prunes IO-adjacent (after the scan but before
    * any join/agg in the same stage).
    */
  /** Deterministic EPOCH SHUFFLE (round 18) — the training loader's
    * data-order step: every document gets a seeded pseudo-random
    * sort key (hash48 of `seed:doc_id` — the stratifiedSample bucket
    * discipline, so any engine replays the permutation), a shard
    * assignment (key mod nShards) and its position WITHIN the shard.
    * Changing the seed re-permutes everything — epoch 2 reads a
    * genuinely different order — while the same seed reproduces the
    * order bit-for-bit on any cluster size, which is what makes a
    * training run resumable and auditable.
    *
    * Scale shape: the key is a narrow per-row expression; the only
    * shuffle is the shard exchange, and the position window is
    * PER-SHARD (never a global sort — this is `repartition(shard) +
    * sortWithinPartitions(key)` with the position materialized for
    * checkability; a production loader can skip `pos` and keep just
    * the partition-local sort). Shards are the unit of parallelism,
    * exactly like the packer's.
    */
  def epochShuffle(df: DataFrame, idCol: Column, seed: Long,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val key = Dedup.hash48(concat(lit(seed.toString), lit(":"),
      idCol.cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    df.filter(idCol.isNotNull)
      .select(idCol.as("doc_id"), key.as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** TOKEN-BUDGET MIXTURE FILL (round 18) — the step that turns "the
    * mix is 60% web / 30% code / 10% books" into an actual document
    * list: each source gets a token budget (its per-mille weight of
    * `totalBudget` — integer arithmetic, weights validated to sum to
    * 1000), documents are drawn in the seeded [[epochShuffle]] hash
    * order (deterministic, engine-replayable, and unbiased w.r.t.
    * document content), and a document is KEPT while its running
    * token total stays within the source's budget — the first
    * over-the-line document and everything after it are emitted with
    * kept = 0, so the ledger is auditable (every doc carries its
    * cumulative position in the draw).
    *
    * Scale shape: one shuffle on the source key (tens of partitions),
    * one per-source running-sum window over the hash order, narrow
    * everywhere else. The weight table is a literal CASE — no join.
    * A source absent from `weightsPerMille` fails loudly rather than
    * silently drawing zero.
    */
  def tokenBudgetFill(df: DataFrame, idCol: Column, sourceCol: Column,
      tokenCountCol: Column, weightsPerMille: Map[String, Long],
      totalBudget: Long, seed: Long = 0L): DataFrame = {
    require(weightsPerMille.nonEmpty && weightsPerMille.values.sum == 1000L,
      s"weights must sum to 1000 per-mille, got ${weightsPerMille.values.sum}")
    require(totalBudget >= 1, s"totalBudget must be >= 1, got $totalBudget")
    val budgetCol = weightsPerMille.tail.foldLeft(
      when(sourceCol === weightsPerMille.head._1,
        lit(totalBudget * weightsPerMille.head._2 / 1000L))) {
      case (acc, (k, w)) =>
        acc.when(sourceCol === k, lit(totalBudget * w / 1000L))
    }
    val key = Dedup.hash48(concat(lit(seed.toString), lit(":"),
      idCol.cast("string")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the no-weight guard rides INSIDE the budget column (a separate
    // check column would be pruned as unused): an unweighted source
    // evaluates the raise_error branch the moment `kept` needs it
    val base = df.filter(idCol.isNotNull && sourceCol.isNotNull)
      .select(idCol.as("doc_id"), sourceCol.as("source"),
        tokenCountCol.cast("long").as("n_tok"), key.as("skey"),
        coalesce(budgetCol,
          raise_error(concat(lit("source has no mixture weight: "),
            sourceCol)).cast("long")).as("_budget"))
    base.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("kept", (col("cum_tok") <= col("_budget")).cast("int"))
      .drop("_budget")
  }

  def stratifiedSample(df: DataFrame, idCol: Column, stratumCol: Column,
      rates: Map[String, Double], defaultRate: Double,
      buckets: Int = 1000): DataFrame = {
    val bucket = pmod(Dedup.hash48(idCol.cast("string")), lit(buckets.toLong))
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(stratumCol === k, lit(v)).otherwise(acc)
    }
    df.withColumn("sample_bucket", bucket)
      .filter(col("sample_bucket") < rateCol * buckets)
  }

  /** Deterministic train/val/test split: assign each row to the first
    * split whose cumulative weight bound exceeds hash48(id) mod
    * `buckets`. Hash-based (not `randomSplit`) so membership is stable
    * across engines, runs, and partitionings — re-running a 100 TB
    * pipeline, or a different engine auditing it, puts every document
    * in the SAME split, and train/eval contamination can't creep in
    * through a reshuffle. Weights need not sum to 1; they are
    * normalized over the bucket space.
    *
    * Scale: a codegen'd per-row expression on the scan — no shuffle,
    * no state; composes with [[stratifiedSample]]'s bucket (they use
    * the same hash, so a row's sample and split decisions are
    * consistent and independent dimensions of the bucket value).
    */
  def assignSplit(df: DataFrame, idCol: Column,
      splits: Seq[(String, Double)], buckets: Int = 1000): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val total = splits.map(_._2).sum
    val bucket = pmod(Dedup.hash48(idCol.cast("string")), lit(buckets.toLong))
    // integer bucket bounds: float accumulation (0.9+0.05 -> 0.95000...01)
    // would put the boundary bucket on different sides in different engines
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c / total * buckets))
    val assigned = splits.map(_._1).zip(bounds).init
      .foldRight(lit(splits.last._1): Column) { case ((name, bound), acc) =>
        when(bucket < bound, lit(name)).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }

  /** CLUSTER-SAFE train/val/test split — the leakage-prevention
    * composition a real corpus pipeline needs between near-dup
    * detection and splitting: hashing documents independently
    * ([[assignSplit]] on doc id) lets two near-duplicates land on
    * opposite sides of the train/eval boundary, which silently
    * inflates eval scores (the test set "leaks" via its training-set
    * twins). Here the split key is the document's near-dup CLUSTER
    * representative ([[Dedup.connectedComponents]] over the pair
    * list), so every member of a cluster — including transitive
    * members that were never a direct candidate pair — shares one
    * split; documents in no pair keep their own id as the key (their
    * buckets are unchanged vs a plain assignSplit, so adding the
    * safety does not reshuffle the un-clustered majority).
    *
    * Scale: the pair list is tiny relative to the corpus
    * (proportional to duplicate density), CC runs on it alone, and
    * the cluster map joins the corpus on the id key — broadcast when
    * small, shuffled equi-join otherwise; the split itself stays the
    * same codegen'd per-row hash expression as [[assignSplit]].
    * Null ids take the last split name, as in assignSplit.
    *
    * Output: the input plus `cluster_rep` (null for singletons),
    * `split_key`, and `split`.
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], buckets: Int = 1000): DataFrame = {
    val reserved = Seq("cluster_rep", "split_key", "split")
    val clashes = df.columns.filter(reserved.contains).distinct
    require(clashes.isEmpty,
      s"clusterSafeSplit reserves ${reserved.mkString(", ")}; rename ${clashes.mkString(", ")}")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
    val keyed = df
      .join(cc.select(col("id").as(idCol), col("cluster_rep")), Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("cluster_rep"), col(idCol)))
    assignSplit(keyed, col("split_key"), splits, buckets)
  }

  /** END-TO-END curation disposition (round 13): the canonical
    * training-data flow — quality gate -> exact dedup -> near-dup
    * cluster-safe split — composed as ONE declarative plan, so every
    * doc gets exactly one disposition:
    *
    *  - `low_quality`: q52's composite quality < `qualityMin`
    *    (evaluated NARROW in the scan projection via
    *    [[TextAnalysis.qualityColumn]] — no self-join). Null/absent
    *    text scores null, which is coalesced to the low_quality
    *    branch (a doc with no text is definitionally low quality) —
    *    otherwise null-quality rows would fall out of BOTH filter
    *    branches and the exactly-one-disposition contract would
    *    silently drop them;
    *  - `exact_dup`: among quality-passing docs, not the minimum
    *    doc_id of its exact-text md5 group (the [[Dedup.exact]]
    *    shape: a map-side-combined groupBy(min) whose shuffle carries
    *    ONE row per distinct text, joined back to attach the keeper —
    *    NOT a window over md5 partitions, which would concentrate
    *    every copy of a flooded boilerplate text into one
    *    unsplittable task; the join is AQE-skew-splittable and
    *    broadcasts when distinct texts are few. The keeper itself
    *    stays in the pipeline);
    *  - `contaminated` (round 14, only when `evalDocs` is given): a
    *    quality-passing KEEPER whose text shares at least one distinct
    *    `evalN`-gram with the benchmark set — the q84/q206 eval-overlap
    *    rule applied as the pipeline's fourth gate, between exact dedup
    *    and the split. Shape: the eval gram-hash set is small by
    *    contract and BROADCASTS; keeper grams semi-join against it in
    *    their own scan stage, so the contaminated-id set is bounded by
    *    the keeper count and the corpus never carries the join;
    *  - `kept`: everything else, with the near-dup CLUSTER-SAFE
    *    train/val/test split attached ([[clusterSafeSplit]] over the
    *    caller's candidate `pairs` — computed on the FULL corpus so
    *    the near-dup relation is independent of the upstream gates,
    *    and twins of a dropped doc still share a split key).
    *
    * Stage order is the standard one (cheap narrow gates prune the
    * corpus BEFORE the shuffling stages see it), and every rule is on
    * the deterministic grid, so a DuckDB oracle replays the whole
    * pipeline end to end (q205 without decontamination, q207 with).
    *
    * The scored projection (doc_id, text, quality) is PERSISTED inside
    * the pipeline: four-plus disposition lineages branch from it, and
    * without the cache one action over the returned union re-scans the
    * corpus and re-runs the tokenizer/quality projection per branch
    * (the streaming twin persists its scored frame per micro-batch for
    * exactly this reason). MEMORY_AND_DISK, LRU-evictable. This
    * convenience form leaves the cache entries registered until
    * evicted; a long-lived session running the pipeline over many
    * corpora should use [[curationRun]], whose handle unpersists
    * EXACTLY the pipeline's own frames (`spark.catalog.clearCache()`
    * would nuke unrelated caches too).
    *
    * Output: (doc_id, quality, disposition, cluster_rep, split) —
    * cluster_rep/split null unless kept.
    */
  def curationPipeline(docs: DataFrame, qualityMin: Double, pairs: DataFrame,
      splits: Seq[(String, Double)], buckets: Int = 1000,
      evalDocs: Option[DataFrame] = None, evalN: Int = 8): DataFrame =
    curationRun(docs, qualityMin, pairs, splits, buckets, evalDocs, evalN).result

  /** A [[curationRun]]'s output plus the release handle for its
    * internal caches. `cached` is exactly the frames the pipeline
    * itself persisted (the scored projection and, with a
    * decontamination gate, the contaminated-id set) — exposed so
    * callers can inspect their storage; `release()` unpersists them
    * and nothing else in the session's cache, and a second run after
    * release re-caches cleanly. Idempotent: releasing twice is a
    * no-op (unpersist on an unpersisted frame is). Call it after the
    * LAST action over `result`; releasing earlier just costs
    * recomputation, never correctness.
    */
  final case class CurationRun(result: DataFrame, cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** [[curationPipeline]] with cache ownership returned to the caller
    * — the long-lived-session form (round-15): each invocation's
    * MEMORY_AND_DISK frames are handed back in a [[CurationRun]] so
    * sessions running the pipeline over many corpora can release each
    * run's cache as soon as its dispositions are materialized, instead
    * of accreting LRU-evictable entries they can only clear globally.
    */
  def curationRun(docs: DataFrame, qualityMin: Double, pairs: DataFrame,
      splits: Seq[(String, Double)], buckets: Int = 1000,
      evalDocs: Option[DataFrame] = None, evalN: Int = 8): CurationRun = {
    // persisted AND lineage-cut (the round-18 spine discipline,
    // [[org.apache.spark.sql.graft.shims.cutLineage]]): `base` fans
    // into low-quality, exact-dup (via a self-join), keeper and split
    // branches — without the cut every branch re-renders the scored
    // projection's nested-InMemoryRelation subtree on each AQE stage
    // update. contamIds below stays a PLAIN persist: its lineage
    // roots at the cut base leaf (no stacking, so the print stays
    // shallow) and the gram-semi-join plan pin reads through it.
    val baseP = docs.select(col("doc_id"), col("text"),
        TextAnalysis.qualityColumn("text").as("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = org.apache.spark.sql.graft.shims.cutLineage(baseP)
    val nulls = Seq(lit(null).cast("long").as("cluster_rep"),
      lit(null).cast("string").as("split"))
    val lowQ = base.filter(col("quality") < qualityMin || col("quality").isNull)
      .select(Seq(col("doc_id"), col("quality"),
        lit("low_quality").as("disposition")) ++ nulls: _*)
    val tagged = Curation.keeperTagged(base.filter(col("quality") >= qualityMin))
    val exactDup = tagged.filter(col("doc_id") =!= col("_keeper"))
      .select(Seq(col("doc_id"), col("quality"),
        lit("exact_dup").as("disposition")) ++ nulls: _*)
    val keepers = tagged.filter(col("doc_id") === col("_keeper"))
      .select(col("doc_id"), col("quality"), col("text"))
    val (contaminated, cleanKeepers, contamCache) = evalDocs match {
      case None =>
        (None, keepers, None)
      case Some(ev) =>
        val evalSet = Curation.gramHashes(ev, Nil, col("text"), evalN).distinct()
        // persisted for the same reason as `base`: the id set feeds
        // BOTH the semi (contaminated) and anti (clean keepers)
        // branches, and its lineage is the keeper-gram explode — a
        // corpus-scale pass at 100 TB that must run once, not twice.
        // Small by nature (keepers that overlap the benchmark set).
        val contamIds = Curation.sharedGrams(
            Curation.gramHashes(keepers, Seq("doc_id"), col("text"), evalN), evalSet)
          .select(col("doc_id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (Some(keepers.join(contamIds, Seq("doc_id"), "left_semi")
          .select(Seq(col("doc_id"), col("quality"),
            lit("contaminated").as("disposition")) ++ nulls: _*)),
          keepers.join(contamIds, Seq("doc_id"), "left_anti"),
          Some(contamIds))
    }
    val kept = clusterSafeSplit(
      cleanKeepers.select(col("doc_id"), col("quality")),
      "doc_id", pairs, splits, buckets)
      .select(col("doc_id"), col("quality"), lit("kept").as("disposition"),
        col("cluster_rep"), col("split"))
    val result = contaminated.foldLeft(lowQ.unionByName(exactDup))(_ unionByName _)
      .unionByName(kept)
    CurationRun(result, baseP +: contamCache.toSeq)
  }

  /** Temperature-based corpus re-sampling with true UP-sampling — the
    * "epochs per source" step that applies [[Curation.mixingWeights]]'
    * sqrt-temperature weights to the corpus. A stratum with
    * upweight > 1 cannot be reached by dropping rows; its documents
    * REPEAT: each row emits `n_copies` copies where
    *
    *   rate_m   = floor(upweight * baseRate * 1000 + 0.5)   (per-mille)
    *   n_copies = rate_m div 1000
    *              + (1 if hash-bucket(id) < rate_m mod 1000)
    *
    * — the integer part is a deterministic repeat factor, the
    * fractional part a hash-thresholded Bernoulli exactly like
    * [[stratifiedSample]]'s (same hash48 buckets, so sampling
    * decisions are reproducible on any engine/partitioning; the
    * expected copy count equals the real-valued rate). All arithmetic
    * after the q6-quantized upweight is integral.
    *
    * Scale: the rate table is one row per stratum (tens) and
    * broadcast; the per-row work is a hash + integer compare + a
    * bounded `sequence` explode — narrow, composes with the scan. The
    * weight aggregation itself is [[Curation.mixingWeights]]' one
    * map-side-combined groupBy.
    */
  def temperatureSample(df: DataFrame, idCol: Column, stratumCol: Column,
      tokenCountCol: Column, baseRate: Double): DataFrame = {
    val rates = Curation.mixingWeights(df, stratumCol, tokenCountCol)
      .select(col("stratum").as("_ts_stratum"),
        floor(col("upweight") * lit(baseRate) * 1000 + lit(0.5)).cast("long").as("_rate_m"))
    val bucket = pmod(Dedup.hash48(idCol.cast("string")), lit(1000L))
    val whole = ((col("_rate_m") - col("_rate_m") % 1000) / 1000).cast("long")
    df.withColumn("_ts_stratum", stratumCol)
      .join(broadcast(rates), "_ts_stratum")
      .withColumn("n_copies",
        whole + when(bucket < col("_rate_m") % 1000, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col("n_copies") - 1)))
      .drop("_ts_stratum", "_rate_m")
  }

  /** Distribution-matched resampling: subsample `corpus` so a
    * metric's distribution matches a REFERENCE corpus's — "make the
    * web crawl's document-length (quality score, perplexity, ...)
    * histogram look like the curated set's", the importance-sampling
    * step a data mixture runs after scoring. The reference defines
    * `nBins` equi-depth bins (discrete rank-select boundaries, so
    * each holds ~1/nBins of the reference); each corpus bin i is
    * then thinned with acceptance rate ∝ pRef_i / pCorpus_i,
    * normalized so the most under-represented bin (the binding
    * constraint) keeps 100% — the maximum subsample whose expected
    * bin mix equals the reference's.
    *
    * Determinism end to end: boundaries are actual reference values;
    * bin assignment is the strict-`>` boundary fold (q132); rates are
    * computed at the DRIVER in BigInt — keep_micro(i) = floor(1e6 ·
    * (cntRef_i·nCorpus·cntA_j·nRef) / (cntA_i·nRef·cntRef_j·nCorpus))
    * against the argmax-ratio bin j (cross-multiplied comparisons,
    * ties to the smallest bin; 128-bit math, no overflow at any
    * scale) — and embedded as literals; a row is kept iff
    * hash48(id) mod 1e6 < keep_micro(bin), the q78 stable-sampling
    * move. Any engine replays the same decisions bit-for-bit.
    *
    * Scale shape: two config-sized summaries (one exactPercentiles
    * round over the reference + one bin-count aggregation per side —
    * kilobyte shuffles), then ONE narrow per-row filter (boundary
    * fold + literal map lookup + hash compare) that composes with
    * the corpus scan. The corpus is never sorted, joined, or
    * shuffled. Output: kept rows + `bin` and `keep_micro`.
    *
    * Bins the corpus populates but the reference doesn't keep
    * nothing (rate 0); bins the corpus lacks are vacuous. Requires
    * both frames non-empty on the metric.
    */
  def matchDistribution(corpus: DataFrame, reference: DataFrame,
      idCol: Column, corpusVal: Column, refVal: Column,
      nBins: Int = 8): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val ps = (1 until nBins).map(i => (s"_q$i", i.toDouble / nBins))
    val boundsRow = Quantiles.exactPercentiles(
        reference.select(refVal.as("_v")), lit("all"), col("_v"),
        ps, interpolate = false)
      .select(ps.map { case (n, _) => col(n) }: _*).collect()
    require(boundsRow.nonEmpty, "reference has no non-null metric values")
    val bounds = ps.indices.map(i => boundsRow.head.getDouble(i))
    def binOf(v: Column): Column = bounds
      .map(b => when(v.cast("double") > lit(b), 1).otherwise(0))
      .reduce(_ + _)
    def binCounts(df: DataFrame, v: Column): Map[Int, Long] =
      df.where(v.isNotNull).select(binOf(v).as("_b"))
        .groupBy(col("_b")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cntRef = binCounts(reference, refVal)
    val cntCor = binCounts(corpus, corpusVal)
    val nRef = cntRef.values.sum
    val nCor = cntCor.values.sum
    require(nCor > 0, "corpus has no non-null metric values")
    // ratio_i = pRef_i / pCorpus_i = (cntRef_i · nCor) / (cntCor_i · nRef);
    // argmax by cross-multiplication, ties to the smallest bin index
    val ratios = (0 until nBins).flatMap { i =>
      val a = cntCor.getOrElse(i, 0L)
      if (a == 0L) None
      else Some(i -> ((BigInt(cntRef.getOrElse(i, 0L)) * nCor,
        BigInt(a) * nRef)))
    }.toMap
    val j = ratios.toSeq.sortBy(_._1).reduceLeft[(Int, (BigInt, BigInt))] {
      case (best @ (_, (bn, bd)), cur @ (_, (cn, cd))) =>
        if (cn * bd > bn * cd) cur else best // strict >: ties keep the smaller bin
    }._1
    val (jn, jd) = ratios(j)
    require(jn > 0, "reference is empty on every bin the corpus populates")
    val keepMicro: Seq[(Int, Long)] = (0 until nBins).map { i =>
      i -> (ratios.get(i) match {
        case None => 0L
        case Some((in, id)) => ((BigInt(1000000) * in * jd) / (id * jn)).toLong
      })
    }
    corpus.where(corpusVal.isNotNull)
      .withColumn("bin", binOf(corpusVal))
      .withColumn("keep_micro", element_at(
        map(keepMicro.flatMap { case (b, m) => Seq(lit(b), lit(m)) }: _*),
        col("bin")))
      .where(pmod(Dedup.hash48(idCol.cast("string")), lit(1000000L)) <
        col("keep_micro"))
  }

  /** Overlapping-window document chunking — the RAG/embedding-index
    * preparation step: split each document into `chunkTokens`-token
    * windows advancing by `chunkTokens - overlap`, so consecutive
    * chunks share `overlap` tokens and no token is lost (the final
    * chunk may be short). Output one row per chunk with its index,
    * token offset, length and text.
    *
    * Narrow: sequence + explode + slice on the token array — no
    * shuffle, composes with the scan; chunk counts are
    * ceil-arithmetic on the token count, so the layout is a pure
    * function of the text (reproducible chunk ids for incremental
    * re-indexing).
    */
  def chunkDocuments(df: DataFrame, idCol: Column, text: Column,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got ($chunkTokens, $overlap)")
    val step = chunkTokens - overlap
    val toks = split(text, " ")
    val nTok = size(toks).cast("long")
    // one chunk per window start 0, step, 2*step, ... < nTok
    val nChunks = (floor((nTok - 1) / step) + 1).cast("long")
    df.select(idCol.as("doc_id"), toks.as("_toks"), nTok.as("n_tok"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * step).as("start_tok"),
        least(lit(chunkTokens.toLong), col("n_tok") - col("chunk_idx") * step).as("chunk_len"),
        array_join(slice(col("_toks"), (col("chunk_idx") * step + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Nucleus (top-p) selection per group: keep the heaviest rows of
    * each group until they cover fraction p of the group's total
    * weight — the corpus-shaping move that keeps "the documents
    * carrying 80% of the tokens" per language/source (and the exact
    * analogue of nucleus sampling's token cutoff). A row survives iff
    * the cumulative weight STRICTLY BEFORE it (weight-descending,
    * id-ascending) is under p * total — so the boundary row that
    * crosses p is kept and every group keeps >= 1 row.
    *
    * p rides an integer per-mille and the test cross-multiplies
    * (cum_before * 1000 < pPermille * total): pure integer arithmetic,
    * no engine ever divides (q125). One shuffle on the group key; the
    * windows are per-group running sums.
    */
  def topP(df: DataFrame, groupCol: Column, idCol: Column, weightCol: Column,
      pPermille: Int): DataFrame = {
    require(pPermille > 0 && pPermille <= 1000,
      s"pPermille must be in (0, 1000], got $pPermille")
    val byG = Window.partitionBy(col("_tp_g"))
    val wBefore = byG.orderBy(col("_tp_w").desc, col("_tp_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_tp_g", groupCol)
      .withColumn("_tp_id", idCol)
      .withColumn("_tp_w", weightCol.cast("long"))
      .withColumn("_tp_cumb", coalesce(sum(col("_tp_w")).over(wBefore), lit(0L)))
      .withColumn("_tp_total", sum(col("_tp_w")).over(byG))
      .filter(col("_tp_cumb") * 1000 < lit(pPermille.toLong) * col("_tp_total"))
      .drop("_tp_g", "_tp_id", "_tp_w", "_tp_cumb", "_tp_total")
  }

  /** Deterministic weighted sampling without replacement, k per group
    * (Efraimidis-Spirakis in its exponential-race form): each row gets
    * key = -ln(u) / w with u a hash48-derived uniform in (0, 1], and
    * the k smallest keys per group win — inclusion probability
    * proportional to weight, exactly the "sample 50 docs per language,
    * favoring long ones" primitive. Hash-derived u (not rand()) makes
    * the sample identical on every engine, run, and partitioning —
    * the same reproducibility contract as [[stratifiedSample]].
    *
    * Determinism: -ln(u) is quantized to integer micro-nats (the q101
    * grid, absorbing cross-libm ulp differences), and the sort key is
    * ONE IEEE division e_unat / w — bit-identical everywhere; ties
    * break by id. Narrow hash + per-group top-k window; the shuffle
    * carries the group key only (q126).
    *
    * Weights must be strictly positive — that is the Efraimidis-
    * Spirakis domain: w = 0 makes the race key Infinity (or NaN when
    * e_unat lands on 0) and w < 0 makes it negative, silently winning
    * the race; both break the inclusion-probability contract and NaN
    * ordering differs across engines. Non-positive-weight rows are
    * filtered out before the race, matching how [[topP]] bounds
    * pPermille.
    */
  def weightedSample(df: DataFrame, idCol: Column, weightCol: Column,
      groupCol: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (Dedup.hash48(idCol.cast("string")).cast("double") + 1.0) /
      lit(281474976710656.0) // 2^48
    val eUnat = floor(-log(u) * 1e6 + lit(0.5)).cast("long")
    val w = Window.partitionBy(col("_ws_g"))
      .orderBy(col("_ws_key"), col("_ws_id"))
    df.filter(weightCol.cast("double") > 0.0)
      .withColumn("_ws_g", groupCol)
      .withColumn("_ws_id", idCol)
      .withColumn("_ws_key", eUnat.cast("double") / weightCol.cast("double"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("_ws_g", "_ws_id", "_ws_key")
  }

  /** The one whole-document bin-placement fold, shared by
    * [[packBinsNextFit]], [[packBinsFirstFitDecreasing]], the driver
    * pack in [[pretrainingRun]] and the streaming packer
    * (`graft.streaming.StatefulOps.packStream`). It holds the open
    * (bin, fill) pairs OLDEST first and the next bin id. Each item
    * goes into the first open bin with `fill + n_tok <= budget`;
    * otherwise it opens a new bin, and a new bin past `maxOpen`
    * closes the oldest open bin (it can never receive another item).
    * A new bin always accepts its first item, so an oversize item
    * (n_tok > budget) owns a bin no later item can join. One uniform
    * rule, no oversize special case. `place` returns the receiving
    * bin and its fill after placement.
    *
    * The `maxOpen` cap keeps per-shard state bounded (classic FFD
    * keeps every bin open: O(bins) state and O(n·bins) scans on a
    * 100 TB shard) and keeps the q216 oracle's recursive-CTE state a
    * bounded fill list. Not thread-safe: one instance per shard.
    */
  private[graft] final class BinFold(budget: Long, maxOpen: Int,
      open0: Seq[(Long, Long)] = Nil, nextBin0: Long = 0L) {
    private val bins = scala.collection.mutable.ArrayBuffer.from(open0)
    private var next = nextBin0
    def openBins: List[(Long, Long)] = bins.toList
    def nextBin: Long = next
    def place(shard: String, id: Long, tok: Long): (Long, Long) = {
      // n_tok <= 0 would let a full bin keep accepting — a caller bug;
      // fail loudly, not creatively (round-15 ADVICE)
      require(tok > 0, s"n_tok must be positive, got $tok for doc $id in shard $shard")
      val slot = bins.indexWhere { case (_, f) => f + tok <= budget }
      if (slot >= 0) {
        val (b, f) = bins(slot)
        bins(slot) = (b, f + tok)
        (b, f + tok)
      } else {
        val b = next
        next += 1L
        if (bins.size >= maxOpen) bins.remove(0)
        bins += ((b, tok))
        (b, tok)
      }
    }
  }

  /** The shared plan of the batch packers: ONE shuffle (repartition
    * on shard), a sort within partitions on (shard, `order`), then a
    * sequential [[BinFold]] per shard in mapPartitions. The fold is
    * the honest plan: a bin boundary is a data-dependent RESET of the
    * running fill, which no window/prefix-sum algebra expresses (the
    * reset depends on the fill, which depends on earlier resets) — so
    * this is the documented mapPartitions-as-last-resort case, like
    * the multimodal decoders. Rows carry (shard, id, n_tok) only —
    * text never moves. Output: (shard, doc_id, n_tok, bin_idx,
    * fill_after), bin_idx counting bins in open order per shard.
    */
  private def packBins(df: DataFrame, shardCol: Column, idCol: Column,
      tokenCountCol: Column, budget: Long, maxOpen: Int,
      order: Column*): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxOpen >= 1, s"maxOpen must be >= 1, got $maxOpen")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(shardCol.cast("string").as("shard"),
        idCol.cast("long").as("doc_id"),
        tokenCountCol.cast("long").as("n_tok"))
      .filter(col("shard").isNotNull && col("doc_id").isNotNull &&
        col("n_tok").isNotNull)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard") +: order: _*)
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // a partition holds whole shards (hash-partitioned on shard),
        // possibly several — a fresh fold at each shard boundary
        var shard: String = null
        var fold: BinFold = null
        it.map { case (s, id, tok) =>
          if (s != shard) { shard = s; fold = new BinFold(budget, maxOpen) }
          val (bin, fill) = fold.place(s, id, tok)
          (s, id, tok, bin, fill)
        }
      }
      .toDF("shard", "doc_id", "n_tok", "bin_idx", "fill_after")
  }

  /** Whole-document bin packing, next-fit style (round 15) — the
    * OTHER packing mode trainers use: [[packSequences]] lays documents
    * end-to-end and CHOPS at the budget (attention masks handle the
    * splice); this one keeps every document intact and opens a new bin
    * whenever the next document would overflow — the "no document may
    * span sequences" loader contract. Next-fit is [[BinFold]] with ONE
    * open bin, over each shard's documents in `idCol` order; the plan
    * is [[packBins]]'s. Shards are the unit of parallelism exactly as
    * in [[packSequences]]. The q212 oracle replays the fold as a
    * recursive CTE per shard (the q211 state-machine discipline
    * applied to packing).
    */
  def packBinsNextFit(df: DataFrame, shardCol: Column, idCol: Column,
      tokenCountCol: Column, budget: Long): DataFrame =
    packBins(df, shardCol, idCol, tokenCountCol, budget, 1, col("doc_id"))

  /** DSIR importance weights (round 16; Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — the
    * public method behind domain-matched pre-training data selection):
    * score every raw document by how much more likely its hashed
    * n-gram bag is under the TARGET distribution than under the RAW
    * distribution, `w(doc) = Σ_grams log p_target(bucket) −
    * log p_raw(bucket)`, with unigram+bigram features hashed into
    * `dim` buckets (the paper's hashed n-gram generative model) and
    * add-1 smoothing. Downstream, resample raw docs with weights
    * ∝ exp(w) (e.g. [[weightedSample]] / [[topP]]) to shift the
    * corpus toward the target domain.
    *
    * Everything lives on integer grids: bucket log-probs are
    * micro-nats ([[smoothedTable]], the table [[nbModel]] builds too),
    * the per-doc weight is a BIGINT sum — exact under any aggregation
    * order, engine-reproducible. Buckets come from the md5-derived
    * [[graft.functions.codecs]] hash48 (the q128 discipline), not a
    * JVM-private hash.
    *
    * Shape: both distributions fold (map-side combined) into one
    * config-sized (side, bucket) count, collected once; the `dim`-row
    * log-ratio table is built on the driver and joins back as a
    * broadcast of local rows. Grams come from one narrow generate per
    * row ([[gramBuckets]]); nothing wider than the (doc, bucket) count
    * ever shuffles.
    *
    * The (doc, bucket) counts feed BOTH the raw distribution and the
    * per-doc scoring fold — a corpus-scale gram pass that must run
    * once, not twice. [[dsirRun]] therefore PERSISTS them and hands
    * the cache back in a release handle (the [[curationRun]]
    * discipline, round 17); this convenience form drops the handle —
    * the cache is still LRU-evictable, so one-shot callers pay
    * nothing, but long-lived sessions scoring many corpora should
    * call [[dsirRun]] and `release()` per run.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: Column,
      textCol: Column, dim: Int = 64): DataFrame =
    dsirRun(raw, target, idCol, textCol, dim).result

  /** A [[dsirRun]]'s scores plus the release handle for the persisted
    * per-doc bucket counts — see [[CurationRun]] for the handle
    * contract (idempotent, releases exactly this run's frame).
    */
  final case class DsirRun(result: DataFrame, cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** The hashed unigram+bigram feature stream shared by the DSIR
    * family and the NB classifier: one (doc_id, bucket) row per gram
    * occurrence, buckets from the md5-derived hash48 (the q128
    * discipline). Narrow: one generate per row, whole-stage codegen
    * (the repetitionStats lesson — no per-row lambda trees).
    */
  private[operators] def gramBuckets(df: DataFrame, idCol: Column,
      textCol: Column, dim: Int, carry: Seq[String] = Nil): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // One NARROW generate per row (optimization round 18): unigrams
    // are the split tokens, bigrams come from the native
    // [[graft.functions.shingles.wordShingles]] expression — the same
    // multiset the old posexplode + doc-window + lead pipeline built,
    // without its token-stream Exchange + Sort + Window (the gram
    // stream was shuffled by doc_id only to look one token ahead;
    // the shingle expression does that look-ahead inside the row).
    // Counts downstream are per-(doc, gram-occurrence), so multiset
    // equality is all that matters; both tokenize with Spark `split`
    // semantics (trailing empties kept).
    // `carry` columns pass straight through per gram row (optimization
    // round 19, the scrubPii carry discipline): [[nbModel]] used to
    // join this stream back against its own input on doc_id just to
    // restore `label` — an exchange of the full training gram stream
    // at any corpus scale, for a column the row already had.
    df.filter(idCol.isNotNull && textCol.isNotNull)
      .select(Seq(idCol.as("doc_id")) ++ carry.map(col) ++ Seq(
        explode(concat(split(textCol, " "),
          graft.functions.shingles.wordShingles(textCol, 2))).as("gram")): _*)
      .select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        pmod(graft.functions.codecs.hash48(col("gram")), lit(dim.toLong))
          .as("bucket")): _*)
  }

  /** The per-doc gram counts every DSIR and NB scorer folds: one
    * (doc_id, bucket, cnt) row per document and bucket it touches.
    */
  private def docBucketCounts(df: DataFrame, idCol: Column, textCol: Column,
      dim: Int): DataFrame =
    gramBuckets(df, idCol, textCol, dim)
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** The natural log of the smoothed-model tables: `StrictMath.log`,
    * the function Spark's LOG expression calls, so a driver-built
    * table agrees bit for bit with an engine-side `log`. `Math.log`
    * may run a JIT intrinsic that differs from it in the last ulp.
    */
  private[graft] def ln(x: Double): Double = StrictMath.log(x)

  /** `floor(ln(x)·1e6 + 0.5)`: a log on the micro-nat grid. */
  private[graft] def microLn(x: Double): Long = math.floor(ln(x) * 1e6 + 0.5).toLong

  /** THE smoothed hashed-gram model behind [[nbModel]] and
    * [[dsirModel]]: for every class in `classes` and every bucket in
    * `[0, dim)`, counted or not, the add-1 micro-nat log-prob
    * `lp_u(c, b) = microLn((cnt(c, b) + 1) / (total(c) + dim))` — the
    * smoothing gives absent buckets a defined log-prob and never
    * divides by 0. `counts` holds (label, bucket, cnt) rows; they fold
    * (map-side combined) to the config-sized per-(label, bucket) sums,
    * which are collected, and the arithmetic runs on the driver. `row`
    * shapes each bucket's output rows from its per-class lp_u. The
    * result is a LocalRelation of `schema`, so a scorer's broadcast
    * builds straight from local rows.
    */
  private def smoothedTable(counts: DataFrame, classes: Seq[String], dim: Int,
      schema: StructType)(row: (Long, String => Long) => Seq[Row]): DataFrame = {
    val cnt = counts.groupBy(col("label"), col("bucket")).agg(sum(col("cnt")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val total = cnt.groupMapReduce(_._1._1)(_._2)(_ + _)
    val rows = (0L until dim.toLong).flatMap(b => row(b, c => microLn(
      (cnt.getOrElse((c, b), 0L) + 1).toDouble / (total.getOrElse(c, 0L) + dim).toDouble)))
    counts.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** DSIR's (bucket, lr_u) table, `lr_u = lp_u(target) − lp_u(raw)`
    * from [[smoothedTable]]; both sides are (bucket, cnt) rows.
    */
  private def dsirTable(target: DataFrame, raw: DataFrame, dim: Int): DataFrame =
    smoothedTable(target.select(lit("t").as("label"), col("bucket"), col("cnt"))
        .unionByName(raw.select(lit("r").as("label"), col("bucket"), col("cnt"))),
      Seq("t", "r"), dim, StructType(Seq(StructField("bucket", LongType, nullable = false),
        StructField("lr_u", LongType, nullable = false)))) { (b, lp) =>
      Seq(Row(b, lp("t") - lp("r")))
    }

  /** One (bucket, cnt = 1) row per gram occurrence — a [[dsirTable]] side. */
  private def gramRows(df: DataFrame, idCol: Column, textCol: Column, dim: Int): DataFrame =
    gramBuckets(df, idCol, textCol, dim).select(col("bucket"), lit(1L).as("cnt"))

  /** The per-doc DSIR fold: (doc_id, n_grams, dsir_weight_u) from
    * (doc_id, bucket, cnt) counts against a (bucket, lr_u) table.
    */
  private def dsirFold(docBuckets: DataFrame, lr: DataFrame): DataFrame =
    docBuckets.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(col("cnt") * col("lr_u")).as("dsir_weight_u"))

  /** The self-describing model check of [[dsirScore]] and [[nbScore]]
    * (the IvfStore geometry discipline): a model's bucket support IS
    * its feature dim, and a mismatched caller dim would hash grams into
    * buckets the table doesn't cover — silently dropping features from
    * the fold. An EAGER config-sized job at call time (one agg over the
    * model frame; cheap against a LocalRelation or a persisted model, a
    * full lineage execution otherwise).
    */
  private def requireModelDim(model: DataFrame, dim: Int, emptyMsg: String): Unit = {
    val maxBucket = model.agg(max(col("bucket"))).head
    require(!maxBucket.isNullAt(0), emptyMsg)
    val modelDim = maxBucket.getLong(0) + 1
    require(dim.toLong == modelDim,
      s"dim=$dim disagrees with the model's bucket support ($modelDim) — " +
        "score with the dim the model was trained with")
  }

  /** [[dsirWeights]] with cache ownership returned to the caller: the
    * (doc_id, bucket, cnt) frame — the one corpus-scale pass — is
    * persisted, so the table build (which materializes it) and the
    * scoring fold both read the counts instead of re-running the gram
    * explode, and handed back for release after the last action.
    */
  def dsirRun(raw: DataFrame, target: DataFrame, idCol: Column,
      textCol: Column, dim: Int = 64): DsirRun = {
    val docBuckets = docBucketCounts(raw, idCol, textCol, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lr = dsirTable(gramRows(target, idCol, textCol, dim), docBuckets, dim)
    DsirRun(dsirFold(docBuckets, lr), Seq(docBuckets))
  }

  /** [[dsirRun]] over a PRE-COMPUTED (doc_id, bucket, cnt) frame when
    * the target is a SUBSET of the scored corpus (optimization round
    * 18, guide §2.4): the target distribution folds from the shared
    * counts through a semi-join on the target ids instead of paying a
    * second full gram pass — `sum(cnt)` over a doc subset is exactly
    * the subset's gram count (the gram stream is per-occurrence, so
    * per-doc counts partition it). Caller owns the counts frame's
    * persistence ([[CorpusOps.pretrainingRun]] shares ONE materialized
    * gram pass between the DSIR table, the scoring fold and the NB
    * router).
    */
  private[operators] def dsirFromCounts(docBuckets: DataFrame,
      targetIds: DataFrame, dim: Int): DataFrame =
    dsirFold(docBuckets, dsirTable(
      docBuckets.join(targetIds, Seq("doc_id"), "left_semi"), docBuckets, dim))

  /** The FROZEN DSIR model: the (bucket, lr_u) log-ratio table alone —
    * `dim` rows, the config-sized artifact a train-once/score-often
    * split ships (the [[nbModel]]/[[nbScore]] discipline applied to
    * DSIR, round 18), built eagerly as a LocalRelation.
    * [[dsirWeights]] == [[dsirScore]] against this model over the same
    * raw corpus — integer micro-nats, exactly reproducible — so a model
    * trained offline scores streams
    * ([[graft.streaming.StreamingOps.dsirScoreStream]]) with
    * batch-identical weights.
    */
  def dsirModel(raw: DataFrame, target: DataFrame, idCol: Column,
      textCol: Column, dim: Int = 64): DataFrame =
    dsirTable(gramRows(target, idCol, textCol, dim),
      gramRows(raw, idCol, textCol, dim), dim)

  /** Score `docs` against a frozen [[dsirModel]] table (or any
    * (bucket, lr_u) frame of that shape, e.g. a LocalRelation rebuilt
    * from a one-time collect in a streaming trigger). One batch-local
    * (doc, bucket) count + one broadcast join + one per-doc fold —
    * nothing model-sized ever shuffles. [[requireModelDim]] runs
    * first. Docs with no grams (null/empty text) produce no row — the
    * nbScore contract.
    */
  def dsirScore(docs: DataFrame, lr: DataFrame, idCol: Column,
      textCol: Column, dim: Int = 64): DataFrame = {
    requireModelDim(lr, dim,
      "empty DSIR model (lr has no rows) — train on non-empty corpora")
    dsirFold(docBucketCounts(docs, idCol, textCol, dim), lr)
  }

  /** Hashed-gram multinomial NAIVE BAYES classifier (round 17) — the
    * engine-native analogue of the fastText-style linear classifiers
    * production pipelines use for domain routing and quality gating
    * (CCNet's LM filter, the "classify against a trusted reference"
    * pattern): train per-class hashed unigram+bigram distributions on
    * a LABELED slice, score every corpus document by
    * `argmax_c [ ln P(c) + Σ_grams ln P(bucket | c) ]` with add-1
    * smoothing over the `dim`-bucket support — multinomial NB, the
    * standard public formulation.
    *
    * Everything integral (the [[dsirWeights]] discipline): per-bucket
    * class log-probs and the class priors are micro-nats
    * (floor(ln·1e6+0.5)), the per-doc per-class score an exact BIGINT
    * sum — reproducible on any engine and aggregation order. Ties
    * break to the lexicographically smallest class. Output one row
    * per corpus doc: (doc_id, predicted, score_u, margin_u) — margin
    * against the runner-up class, the thresholding signal a quality
    * gate wants (small margin = uncertain routing).
    *
    * Shape: the class-conditional table is a (labels x dim)-row
    * LocalRelation joined back as a BROADCAST; the corpus side is one
    * (doc, bucket) count shuffle + one (doc, label) fold + one
    * per-doc window over |labels| rows. Features come from the shared
    * [[gramBuckets]] stream. Nothing wider than the (doc, bucket)
    * count ever shuffles.
    */
  def nbClassify(train: DataFrame, corpus: DataFrame, idCol: Column,
      textCol: Column, labelCol: Column, dim: Int = 64): DataFrame = {
    val (lp, priors) = nbModel(train, idCol, textCol, labelCol, dim)
    nbScore(corpus, lp, priors, idCol, textCol, dim)
  }

  /** Train the NB model tables: the per-(label, bucket) micro-nat
    * log-probs over the full `dim`-bucket support ([[smoothedTable]])
    * and the per-label micro-nat priors — both config-sized
    * (labels x dim and labels rows) LocalRelations, the broadcast side
    * of every scoring call. Split from the scorer so streaming serving
    * ([[graft.streaming.StreamingOps.classifyStream]]) can train ONCE
    * and score every micro-batch against the same frozen tables.
    *
    * Id contract: each training row is its own document (`idCol`
    * unique). Rows are featurized independently — a doc_id duplicated
    * across rows contributes each copy's grams once under its own
    * label (before round 19 a duplicate was CROSSED with its copies'
    * labels by the internal join-back; no caller relied on that).
    */
  def nbModel(train: DataFrame, idCol: Column, textCol: Column,
      labelCol: Column, dim: Int = 64): (DataFrame, DataFrame) = {
    // id/text nullability filtered HERE, not just inside gramBuckets
    // (round-17 ADVICE): priors, the label set and the gram counts
    // must see the SAME document set — a label whose docs are all
    // null-text must not become a routable class with a real prior
    // but purely add-1-smoothed likelihoods
    val labeled = train
      .filter(labelCol.isNotNull && idCol.isNotNull && textCol.isNotNull)
      .select(idCol.as("doc_id"), labelCol.cast("string").as("label"),
        textCol.as("_txt"))
    val docCounts = labeled.groupBy(col("label")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val labels = docCounts.keys.toSeq.sorted
    // `label` RIDES the gram stream (optimization round 19, the carry
    // discipline): no join of the training gram stream back against
    // `labeled` on doc_id just to restore a column each gram row's
    // source already carried
    val lp = smoothedTable(
      gramBuckets(labeled, col("doc_id"), col("_txt"), dim, carry = Seq("label"))
        .withColumn("cnt", lit(1L)),
      labels, dim, StructType(Seq(StructField("label", StringType, nullable = false),
        StructField("bucket", LongType, nullable = false),
        StructField("lp_u", LongType, nullable = false)))) { (b, lpOf) =>
      labels.map(l => Row(l, b, lpOf(l)))
    }
    val nTotal = docCounts.values.sum
    val priors = train.sparkSession.createDataFrame(
      java.util.Arrays.asList(labels.map(l =>
        Row(l, microLn(docCounts(l).toDouble / nTotal.toDouble))): _*),
      StructType(Seq(StructField("label", StringType, nullable = false),
        StructField("prior_u", LongType, nullable = false))))
    (lp, priors)
  }

  /** Score `corpus` against a trained NB model ([[nbModel]]'s
    * (lp, priors) tables — or any frames of that shape, e.g.
    * LocalRelations rebuilt from a one-time collect in a streaming
    * trigger). [[requireModelDim]] runs first; then one (doc, bucket)
    * count shuffle, one (doc, label) fold, the |labels|-row per-doc
    * argmax window.
    *
    * A document with NO grams (null or empty text) has no feature
    * rows and therefore NO output row — multinomial NB over zero
    * observations is the bare prior, a meaningless routing; callers
    * that must disposition every doc should pre-filter empties
    * explicitly (the pretrainingRun gate's explicit-reject
    * discipline) rather than read silence as a class.
    */
  def nbScore(corpus: DataFrame, lp: DataFrame, priors: DataFrame,
      idCol: Column, textCol: Column, dim: Int = 64): DataFrame = {
    requireModelDim(lp, dim,
      "empty NB model (lp has no rows) — train on a non-empty labeled set")
    nbScoreFromCounts(docBucketCounts(corpus, idCol, textCol, dim), lp, priors)
  }

  /** [[nbScore]]'s scoring tail over a PRE-COMPUTED (doc_id, bucket,
    * cnt) frame (optimization round 18): lets
    * [[CorpusOps.pretrainingRun]] route documents off the SAME
    * materialized gram pass the DSIR stage folds from instead of
    * paying another full gram explode + count shuffle. No model check
    * here — the caller guarantees the counts were bucketed with the
    * model's dim.
    */
  private[operators] def nbScoreFromCounts(docBuckets: DataFrame,
      lp: DataFrame, priors: DataFrame): DataFrame = {
    val scores = docBuckets.join(broadcast(lp), "bucket")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("cnt") * col("lp_u")).as("_like_u"))
      .join(broadcast(priors), "label")
      .select(col("doc_id"), col("label"),
        (col("_like_u") + col("prior_u")).as("score_u"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_u").desc, col("label"))
    scores
      .withColumn("_rn", row_number().over(w))
      .withColumn("_next", lead(col("score_u"), 1).over(w))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("label").as("predicted"), col("score_u"),
        // a single-class training set has no runner-up: margin 0
        coalesce(col("score_u") - col("_next"), lit(0L)).as("margin_u"))
  }

  /** Gumbel top-k (round 16): sample `k` rows per group WITHOUT
    * replacement with inclusion odds proportional to exp(score) —
    * the resampling step DSIR prescribes over its log-ratio weights
    * ([[dsirWeights]]), and the general "softmax sampling" primitive.
    * The Gumbel-max trick (public): ranking by score + Gumbel(0,1)
    * noise descending IS sampling ∝ exp(score); with the score in
    * integer micro-nats and the noise derived from the md5 uniform of
    * the id, the perturbed key stays an INTEGER —
    * `key_u = score_u − floor(ln(max(e_unat,1)/1e6)·1e6+0.5)` where
    * `e_unat` is [[weightedSample]]'s micro-nat exponential — so
    * unlike keying on exp(score) directly, no libm transcendental
    * ever sits raw in a sort comparison. Equivalent to
    * Efraimidis-Spirakis with weight exp(score) by monotonicity
    * (−ln u / e^s orders exactly as s − ln(−ln u) reversed). Ties
    * break by id. Same shape as [[weightedSample]]: narrow key
    * computation + per-group top-k window.
    */
  def gumbelTopK(df: DataFrame, idCol: Column, scoreUCol: Column,
      groupCol: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (Dedup.hash48(idCol.cast("string")).cast("double") + 1.0) /
      lit(281474976710656.0) // 2^48
    val eUnat = floor(-log(u) * 1e6 + lit(0.5)).cast("long")
    // e_unat = 0 (u within ~5e-7 of 1) would send ln to -Inf; the
    // floor-to-1 guard keeps the key finite and both engines agree
    val gumbelU = floor(log(greatest(eUnat, lit(1L)).cast("double") / 1e6) *
      1e6 + lit(0.5)).cast("long")
    val w = Window.partitionBy(col("_gk_g"))
      .orderBy(col("_gk_key").desc, col("_gk_id"))
    df.withColumn("_gk_g", groupCol)
      .withColumn("_gk_id", idCol)
      .withColumn("_gk_key", scoreUCol.cast("long") - gumbelU)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("_gk_g", "_gk_id", "_gk_key")
  }

  /** Whole-document bin packing, FIRST-FIT-DECREASING (round 16) —
    * the standard fix for [[packBinsNextFit]]'s padding waste: next-fit
    * abandons a bin the moment one document overflows it, so a small
    * document arriving after a large one opens a fresh bin even when
    * an earlier bin still has room. FFD sorts each shard's documents
    * by token count DESCENDING (ties to the lower doc id) and places
    * each into the FIRST open bin with room, opening a new bin only
    * when none fits — the classic 11/9·OPT+6/9 offline heuristic
    * (Johnson 1973; public result). This is [[BinFold]] with
    * `maxOpen` open bins in that order, on [[packBins]]'s plan. With
    * decreasing order the cap loses little: once sizes shrink, old
    * bins are nearly full anyway.
    */
  def packBinsFirstFitDecreasing(df: DataFrame, shardCol: Column,
      idCol: Column, tokenCountCol: Column, budget: Long,
      maxOpen: Int = 4): DataFrame =
    packBins(df, shardCol, idCol, tokenCountCol, budget, maxOpen,
      col("n_tok").desc, col("doc_id"))

  /** A [[pretrainingRun]]'s dispositions plus the release handle for
    * its internal caches — the [[CurationRun]] contract: `release()`
    * unpersists exactly this run's frames, idempotently, after the
    * last action over `result`.
    */
  final case class PretrainRun(result: DataFrame, cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** THE PRETRAINING-CORPUS SPINE (round 17) — the round-16 curation
    * operators composed into one auditable pipeline, the q205/q207
    * discipline applied to the new family: interop bugs live in the
    * seams, so the composition itself is oracle-checked (q227), not
    * just its fragments.
    *
    *   Gopher quality gate  ->  PII scrub  ->  DSIR importance
    *   weights  ->  Gumbel top-k resample per language  ->  FFD
    *   whole-doc packing
    *
    * Every input document (non-null id and text) lands EXACTLY ONE
    * disposition:
    *  - `boilerplate`  — (only with `c4`, round 18) dropped by the
    *                     C4 page rules ([[TextAnalysis.c4Clean]] —
    *                     lorem-ipsum / curly-brace / bad-word pages,
    *                     or too few rule-passing lines); runs FIRST,
    *                     so the Gopher gate scores the text that will
    *                     actually be trained on, and survivors'
    *                     `text` is the line-cleaned rebuild;
    *  - `gated`        — failed the Gopher gate (or had no 2-gram for
    *                     its repetition rule: too short is a fail, not
    *                     a crash — the gate's inner-join drop becomes
    *                     an explicit reject here);
    *  - `contaminated` — (only with `evalDocs`, round 17) a gate
    *                     survivor whose SCRUBBED text sits within
    *                     `fuzzyTau` shingle-Jaccard of a benchmark doc
    *                     ([[Dedup.fuzzyDecontaminate]] — the near-dup
    *                     gate, catching paraphrased leakage the exact
    *                     8-gram rule cannot); removed BEFORE the DSIR
    *                     distributions so leaked text never shapes the
    *                     importance weights it would itself be
    *                     selected by;
    *  - `not_sampled`  — passed the gates, scrubbed and DSIR-weighted,
    *                     but lost the per-language Gumbel resample, or
    *                     has a null `lang` (no shard to pack into, so
    *                     it is never resampled);
    *  - `packed`       — sampled, with its FFD bin assignment.
    *
    * Columns: (doc_id, lang, disposition, dsir_weight_u, sample_rank,
    * bin_idx, n_tok) — weight/rank/bin/n_tok null where the doc never
    * reached that stage. The gate reads the ORIGINAL text (PII tokens
    * are real quality signal); DSIR, sampling and packing read the
    * SCRUBBED text (nothing downstream of the curation boundary sees
    * raw PII) — n_tok is the scrubbed token count, the one the packed
    * shards actually ship.
    *
    * Scale shape, stage by stage (each proven on its own oracle row):
    * the gate is rules 1-3 narrow + one (doc, n, gram) count shuffle
    * (q218/q219); the scrub is shuffle-free (q222); DSIR's widest
    * shuffle is the (doc, bucket) count with both distributions
    * broadcast (q221), its corpus gram pass persisted ONCE
    * ([[dsirRun]]); the resample is one per-language window (q223);
    * packing is one shard shuffle with maxOpen-bounded fold state
    * (q216). The scrubbed projection is persisted — it feeds DSIR's
    * raw AND target sides, the weight join, and the packer.
    */
  def pretrainingRun(docs: DataFrame, minWords: Long, maxWords: Long,
      minMeanLen: Double, maxMeanLen: Double, stopWords: Seq[String],
      minStopHits: Long, maxTop2Frac: Double, targetPred: Column,
      dim: Int = 64, samplesPerLang: Int = 30, packBudget: Long = 512L,
      maxOpen: Int = 4, evalDocs: Option[DataFrame] = None,
      fuzzyTau: Double = 0.5, fuzzyRowsPerBand: Int = 2,
      domainTrain: Option[DataFrame] = None,
      c4: Option[TextAnalysis.C4Policy] = None,
      sampleCollectCap: Int = 200000): PretrainRun = {
    require(sampleCollectCap >= 0,
      s"sampleCollectCap must be >= 0, got $sampleCollectCap")
    val base0 = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"), col("text"))
    val nulls = Seq(lit(null).cast("long").as("dsir_weight_u"),
      lit(null).cast("int").as("sample_rank"),
      lit(null).cast("long").as("bin_idx"),
      lit(null).cast("long").as("n_tok"))
    def cachedLeaf(df: DataFrame): (DataFrame, DataFrame) = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (org.apache.spark.sql.graft.shims.cutLineage(p), p)
    }
    // OVERLAP independent stage materializations (optimization round
    // 19, guide §2.6 — the round-18 verdict's #1 item: the spine ran
    // ~8-12 eager stage materializations strictly sequentially, and
    // four of its five queries were NO faster at 32 cores than at 8
    // because the serial driver round-trips, not the data, were the
    // wall). Two stages depend ONLY on the operator's side inputs,
    // never on the gate->scrub trunk: the benchmark-shingle prep
    // (evalDocs) and the NB model build + config-sized collect
    // (domainTrain). Kick both off on the shared bounded pool NOW so
    // they materialize while the trunk runs; the trunk awaits each at
    // its existing consumption point. Results are unchanged — the
    // exact same frames materialize, just not one-at-a-time — and a
    // background failure surfaces at the await, as it did inline.
    val evalShFut = evalDocs.map { ev =>
      Par.inheritedFuture(docs.sparkSession.sparkContext) {
        cachedLeaf(Dedup.prepareHashedShingles(
          ev.filter(col("doc_id").isNotNull && col("text").isNotNull),
          "doc_id", Dedup.wordShingles("text")))
      }
    }
    val nbFut = domainTrain.map { tr =>
      Par.inheritedFuture(docs.sparkSession.sparkContext) {
        // nbModel's tables are config-sized LocalRelations (labels x
        // dim and labels rows): the scoring broadcasts build from local
        // rows, no cache stage to hold
        val (lp, priors) = nbModel(tr, col("doc_id"), col("text"),
          col("label"), dim)
        requireModelDim(lp, dim,
          "empty NB model (lp has no rows) — train on a non-empty labeled set")
        (lp, priors)
      }
    }
    // C4 PRE-CLEAN leg (round 18, Raffel et al. 2020 via
    // [[TextAnalysis.c4Clean]]): line-level boilerplate is cut and
    // the page verdict applied BEFORE the Gopher gate — ordering is
    // load-bearing twice over: (1) the gate's repetition and
    // word-count signals must score the text that will actually be
    // trained on, not the boilerplate the cleaner is about to cut;
    // (2) everything downstream (scrub, DSIR, packer) reads the
    // CLEANED text, so a dropped page can never shape the importance
    // weights. Dropped pages exit with their own auditable
    // disposition ("boilerplate"). The cleaner itself is narrow and
    // shuffle-free; the persisted frame exists because keep/drop
    // split it into two consumers.
    val (c4Dropped, base, c4Cached) = c4 match {
      case None => (None, base0, Seq.empty[DataFrame])
      case Some(p) =>
        // `lang` rides the cleaner's carry (optimization round 18):
        // the old join-back against base0 on doc_id was a corpus-wide
        // exchange pair restoring a column the row already had
        val (cleaned, cleanedP) = cachedLeaf(
          TextAnalysis.c4CleanCarry(base0, col("doc_id"), col("text"), p,
              carry = Seq("lang"))
            .select(col("doc_id"), col("lang"), col("keep"),
              col("clean_text")))
        (Some(cleaned.filter(col("keep") === 0)
          .select(Seq(col("doc_id"), col("lang"),
            lit("boilerplate").as("disposition")) ++ nulls: _*)),
          cleaned.filter(col("keep") === 1)
            // newlines flatten back to spaces: downstream stages are
            // token-stream operators (split on " "), and a line joint
            // must not weld "end.\nstart" into one phantom token
            .select(col("doc_id"), col("lang"),
              translate(col("clean_text"), "\n", " ").as("text")),
          Seq(cleanedP))
    }
    val gateAll = TextAnalysis.gopherQualityGateAll(base, col("doc_id"),
      col("text"), TextAnalysis.GopherGate(minWords, maxWords, minMeanLen,
        maxMeanLen, stopWords, minStopHits, maxTop2Frac),
      carry = Seq("lang", "text"))
    // Every multi-consumer frame below is PERSISTED and then
    // LINEAGE-CUT ([[org.apache.spark.sql.graft.shims.cutLineage]],
    // round 18): the persist makes each corpus-scale stage execute
    // once no matter how many dispositions fan out of it, and the cut
    // makes every downstream reference a LogicalRDD LEAF instead of a
    // nested-InMemoryRelation subtree. Without the cut, the composed
    // plan's PRINTED form grows exponentially in the persist-stack
    // depth, and AQE re-renders it on every stage update — measured
    // (SCALE.md "Round 18", sf0.1, gated spine): the second write of a
    // fully-cached result burned 38 s of pure driver time at 3
    // task-seconds of real work. With the cuts the spine plans in
    // milliseconds at ANY stack depth. Cost of the cut: the run is
    // EAGER (each stage materializes at construction — same total
    // work, moved earlier); the release handle still frees exactly
    // this run's caches. (`cachedLeaf` is defined above the C4 leg,
    // which persists its split point under the same discipline.)
    // persisted: the gate verdict splits into the `gated` branch AND
    // the kept pipeline — without the cache the gate's repetition
    // shuffle (the spine's widest stage) executes once per branch.
    // gopherQualityGateAll carries lang/text and keeps the no-2-gram
    // rows with an explicit keep=false, so the old join-back of the
    // inner gate onto base (a second corpus exchange pair) is gone
    // (optimization round 18).
    val (tagged, taggedP) = cachedLeaf(gateAll
      .select(col("doc_id"), col("lang"), col("text"),
        col("keep").as("_keep")))
    val gated = tagged.filter(!col("_keep"))
      .select(Seq(col("doc_id"), col("lang"),
        lit("gated").as("disposition")) ++ nulls: _*)
    val kept = tagged.filter(col("_keep")).select("doc_id", "lang", "text")
    val (scrubbed, scrubbedP) = cachedLeaf(
      TextAnalysis.scrubPii(kept, col("doc_id"), col("text"),
          carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("clean_text"),
          size(split(col("clean_text"), " ")).cast("long").as("n_tok")))
    // fuzzy decontamination gate (scrubbed text vs the benchmark set):
    // flagged docs leave the pipeline HERE, before the DSIR
    // distributions — leaked text must not shape the weights. The
    // shingle frames are cached because fuzzyDecontaminate references
    // each TWICE (band signatures + the verify join — the
    // prepareHashedShingles contract); `flagged` because the semi-join
    // AND the anti-join consume it; `clean` because it stands where
    // `scrubbed` stands in the gate-less spine — DSIR raw side, target
    // side, weight join, resample, packer.
    val (contaminated, clean, gateCached) = evalShFut match {
      case None => (None, scrubbed, Seq.empty[DataFrame])
      case Some(fut) =>
        val (corpusSh, corpusShP) = cachedLeaf(Dedup.prepareHashedShingles(
          scrubbed.select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", Dedup.wordShingles("text")))
        // materialized in the background since function entry (it
        // depends only on evalDocs); by now it is usually done
        val (evalSh, evalShP) = scala.concurrent.Await.result(fut,
          scala.concurrent.duration.Duration.Inf)
        val (flagged, flaggedP) = cachedLeaf(
          Dedup.fuzzyDecontaminate(corpusSh, evalSh, "doc_id",
              fuzzyTau, rowsPerBand = fuzzyRowsPerBand)
            .select(col("doc_id")))
        val (cleanL, cleanP) = cachedLeaf(
          scrubbed.join(flagged, Seq("doc_id"), "left_anti"))
        (Some(scrubbed.join(flagged, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"),
            lit("contaminated").as("disposition"),
            lit(null).cast("long").as("dsir_weight_u"),
            lit(null).cast("int").as("sample_rank"),
            lit(null).cast("long").as("bin_idx"), col("n_tok"))),
          cleanL,
          Seq(corpusShP, evalShP, flaggedP, cleanP))
    }
    // ONE materialized gram pass for the whole trunk (optimization
    // round 18, guide §2.4 "remove shuffles outright"): the (doc_id,
    // bucket, cnt) counts over the clean keepers feed (1) the DSIR raw
    // fold, (2) the DSIR target fold — a semi-join on the target ids,
    // exactly gramBuckets(target) folded, since the target is a subset
    // of clean — (3) the DSIR scoring join, and (4) the NB router
    // below. Before, each consumer re-ran the posexplode + lead-window
    // + hash48 gram pipeline: three full token-stream shuffles per
    // spine run at ANY scale.
    val (docBuckets, docBucketsP) = cachedLeaf(
      docBucketCounts(clean, col("doc_id"), col("clean_text"), dim))
    val dsirResult = dsirFromCounts(docBuckets,
      clean.filter(targetPred).select(col("doc_id")), dim)
    // DOMAIN ROUTING leg (round 18, the q229 NB classifier composed
    // in): with `domainTrain` (a (doc_id, text, label) labeled
    // slice), every clean keeper is routed by the frozen NB model —
    // trained ONCE into two config-sized LocalRelations, scored off the
    // shared gram-bucket counts — and the resample quota applies per (lang, domain)
    // cell instead of per language: the fastText-style production
    // pattern where the router feeds the mixing step. Routing reads
    // the SCRUBBED text (nothing downstream of the curation boundary
    // sees raw PII). Packing stays per-language (shards are the
    // language unit; domains mix within a shard). The output gains a
    // trailing `domain` column (null on gated/contaminated rows —
    // they never reach the router) ONLY when the leg is active, so
    // the plain spine's schema is untouched.
    val weightedBase = clean.select("doc_id", "lang", "n_tok")
      .join(dsirResult.select(col("doc_id"), col("dsir_weight_u")), "doc_id")
    val withDomain = nbFut match {
      case None => weightedBase
      case Some(fut) =>
        // trained in the background since function entry (it depends
        // only on domainTrain); by now it is usually done
        val (lp, priors) = scala.concurrent.Await.result(fut,
          scala.concurrent.duration.Duration.Inf)
        val routed = nbScoreFromCounts(docBuckets, lp, priors)
          .select(col("doc_id"), col("predicted").as("domain"))
        // every gate-passing doc has >= minWords grams, so the router
        // covers it; the coalesce is the explicit-reject discipline
        // for callers who lower the gate below the 1-gram floor
        weightedBase.join(routed, Seq("doc_id"), "left")
          .withColumn("domain", coalesce(col("domain"), lit("unrouted")))
    }
    // `weighted` (narrow 4/5-column corpus frame): read by the
    // resample AND the not_sampled anti-join; `sampled` (k rows per
    // group — config-sized): read by the packer's fold, the pack join
    // and the anti-join. Cached+cut so the DSIR-fold/window machinery
    // above them executes exactly once per run.
    val (weighted, weightedP) = cachedLeaf(withDomain)
    val sampleGroup =
      // the \\u0001 separator keeps the composite key injective
      // (("ab","c") must not collide with ("a","bc")); the oracle
      // partitions by the two columns directly — equivalent
      if (domainTrain.isDefined) concat_ws("\u0001", col("lang"), col("domain"))
      else col("lang")
    // `sampled` is CONFIG-SIZED by construction (k rows per (lang[,
    // domain]) group), so it is collected once and rebuilt as a
    // LocalRelation (the nbModel discipline, optimization round 18)
    // instead of holding a persisted stage: the packer's fold, the
    // pack join and the anti-join read local rows, and the anti-join
    // broadcasts for free.
    // The collect is GATED (round 19, the connectedComponents
    // collectThreshold discipline — round-18 review item): "k rows per
    // group" is config-sized only while the GROUP CARDINALITY is, and
    // nothing upstream bounds a pathological lang(/domain) cardinality
    // — an ungated collect could OOM the driver. limit(cap + 1) makes
    // the probe itself safe (the driver never holds more than cap + 1
    // rows); at or under the cap the probe IS the collect (a limit
    // above the true row count returns every row — downstream
    // consumers are order-insensitive: the packer re-sorts per shard,
    // the joins key on doc_id). Over the cap, fall back to the
    // persisted-stage path (round 17's shape) and let the cluster
    // carry what the driver cannot.
    // only docs with a shard are resampled: both packers drop null
    // shards, so a sampled null-`lang` doc would land in no disposition
    val sampledDf = gumbelTopK(weighted.filter(col("lang").isNotNull),
      col("doc_id"), col("dsir_weight_u"), sampleGroup, samplesPerLang)
    val probe = sampledDf.limit(sampleCollectCap + 1).collect()
    val (sampled, sampleCached) =
      if (probe.length <= sampleCollectCap)
        (docs.sparkSession.createDataFrame(
          java.util.Arrays.asList(probe: _*), sampledDf.schema),
          Seq.empty[DataFrame])
      else {
        val (s, p) = cachedLeaf(sampledDf)
        (s, Seq(p))
      }
    val domTail: Seq[Column] =
      if (domainTrain.isDefined) Seq(col("domain")) else Seq.empty
    // FFD bin assignment on the DRIVER when the resample is local rows
    // of the exact spine types (optimization round 19): the Spark plan
    // is repartition(shard) + sortWithinPartitions + a sequential
    // per-shard fold — 3 stages of pure scheduling over a <= cap
    // LocalRelation. Here the same [[BinFold]] runs over the collected
    // triples, after the same null filter and in the same (n_tok desc,
    // doc_id) order within a shard (the fold resets at shard
    // boundaries, so shard ORDER is irrelevant). Gated on the schema
    // types so it never has to replicate Spark cast semantics; any
    // other shape (or the over-cap fallback) takes the distributed
    // packer.
    val sSchema = sampledDf.schema
    val localPackOk = probe.length <= sampleCollectCap &&
      sSchema("lang").dataType == StringType &&
      sSchema("doc_id").dataType == LongType &&
      sSchema("n_tok").dataType == LongType
    val bins =
      if (localPackOk) {
        val (iS, iD, iT) = (sSchema.fieldIndex("lang"),
          sSchema.fieldIndex("doc_id"), sSchema.fieldIndex("n_tok"))
        val triples = probe.iterator
          .filter(r => !r.isNullAt(iS) && !r.isNullAt(iD) && !r.isNullAt(iT))
          .map(r => (r.getString(iS), r.getLong(iD), r.getLong(iT))).toArray
        val outRows = new java.util.ArrayList[Row]()
        triples.groupBy(_._1).foreach { case (s, rs) =>
          val fold = new BinFold(packBudget, maxOpen)
          rs.sortBy { case (_, id, tok) => (-tok, id) }.foreach { case (_, id, tok) =>
            outRows.add(Row(id, fold.place(s, id, tok)._1))
          }
        }
        docs.sparkSession.createDataFrame(outRows,
          StructType(Seq(StructField("doc_id", LongType, nullable = false),
            StructField("bin_idx", LongType, nullable = false))))
      } else packBinsFirstFitDecreasing(sampled, col("lang"), col("doc_id"),
          col("n_tok"), packBudget, maxOpen)
        .select(col("doc_id"), col("bin_idx"))
    val packed = sampled.join(bins, "doc_id")
      .select(Seq(col("doc_id"), col("lang"), lit("packed").as("disposition"),
        col("dsir_weight_u"), col("sample_rank"), col("bin_idx"),
        col("n_tok")) ++ domTail: _*)
    val notSampled = weighted
      .join(sampled.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(Seq(col("doc_id"), col("lang"), lit("not_sampled").as("disposition"),
        col("dsir_weight_u"), lit(null).cast("int").as("sample_rank"),
        lit(null).cast("long").as("bin_idx"), col("n_tok")) ++ domTail: _*)
    // gated/contaminated rows predate the router: unionByName with
    // allowMissingColumns appends their null `domain` when the leg is
    // active, and is a plain union otherwise
    def u(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b, allowMissingColumns = domainTrain.isDefined)
    PretrainRun(
      u((c4Dropped.toSeq ++ contaminated.toSeq)
        .foldLeft(u(gated, notSampled))(u), packed),
      Seq(taggedP, scrubbedP, weightedP, docBucketsP) ++
        c4Cached ++ gateCached ++ sampleCached)
  }

  /** [[pretrainingRun]] without the cache handle — the one-shot
    * convenience form ([[curationPipeline]]'s relationship to
    * [[curationRun]]).
    */
  def pretrainingPipeline(docs: DataFrame, minWords: Long, maxWords: Long,
      minMeanLen: Double, maxMeanLen: Double, stopWords: Seq[String],
      minStopHits: Long, maxTop2Frac: Double, targetPred: Column,
      dim: Int = 64, samplesPerLang: Int = 30, packBudget: Long = 512L,
      maxOpen: Int = 4, evalDocs: Option[DataFrame] = None,
      fuzzyTau: Double = 0.5, fuzzyRowsPerBand: Int = 2,
      domainTrain: Option[DataFrame] = None,
      c4: Option[TextAnalysis.C4Policy] = None,
      sampleCollectCap: Int = 200000): DataFrame =
    pretrainingRun(docs, minWords, maxWords, minMeanLen, maxMeanLen,
      stopWords, minStopHits, maxTop2Frac, targetPred, dim, samplesPerLang,
      packBudget, maxOpen, evalDocs, fuzzyTau, fuzzyRowsPerBand,
      domainTrain, c4, sampleCollectCap).result

  /** Context-window sequence packing, contiguous-chop style: within
    * each shard (`shardCol`), lay documents end-to-end in `orderCol`
    * order and cut every `budget` tokens. Each document reports its
    * global token offset in the shard and the first/last sequence it
    * lands in (a document longer than the remaining room SPANS the
    * boundary — the standard concat-then-chop packing used by LLM
    * pre-training loaders, where attention masks handle the splice).
    *
    * Shape: one shuffle on the shard key, then a running-sum window
    * per shard. The window is per-shard, never global — shards are the
    * unit of parallelism, exactly like production packers that pack
    * per input shard. Skew guard: shard sizes are bounded by upstream
    * sharding, and the window state is one long.
    */
  def packSequences(df: DataFrame, idCol: Column, shardCol: Column,
      tokenCountCol: Column, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(
        idCol,
        shardCol,
        tokenCountCol.cast("long").as("n_tok"))
      .withColumn("start_off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_first", floor(col("start_off") / budget).cast("long"))
      .withColumn("seq_last",
        floor((col("start_off") + col("n_tok") - 1) / budget).cast("long"))
      .withColumn("spans_boundary", (col("seq_last") > col("seq_first")).cast("int"))
  }
}
