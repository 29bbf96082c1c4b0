package graft.streaming

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.operators.Curation

/** Event-time windowing + dedup operators (SURVEY.md §2 B32-B35).
  *
  * Each operator is a DataFrame -> DataFrame function that works
  * identically on a batch DataFrame (used by the DuckDB-oracle
  * correctness corpus) and on a streaming DataFrame (used by
  * StreamingSpec with watermarks + memory sink) — the Structured
  * Streaming contract: same code, incrementalized execution.
  *
  * Window starts are emitted as epoch microseconds (unix_micros /
  * DuckDB epoch_us) — integer, timezone-proof, hash-stable.
  */
object StreamingOps {

  /** B32 tumbling: fixed non-overlapping event-time buckets. */
  def tumblingAgg(events: DataFrame, ts: String, dur: String, keys: Column*): DataFrame =
    events.groupBy((window(col(ts), dur) +: keys): _*)
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("value_sum"))
      .select((Seq(unix_micros(col("window.start")).as("win_start")) ++
        keys.map(k => k) :+ col("n") :+ col("value_sum")): _*)

  /** B32 sliding: overlapping windows (each event lands in size/slide
    * buckets; Spark expands via the TimeWindow generator).
    */
  def slidingAgg(events: DataFrame, ts: String, size: String, slide: String): DataFrame =
    events.groupBy(window(col(ts), size, slide))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start"), col("n"))

  /** B33 session windows: gap-merged per-key activity bursts. */
  def sessionAgg(events: DataFrame, ts: String, gap: String, key: String): DataFrame =
    events.groupBy(session_window(col(ts), gap), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col(key),
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("n"))

  /** B34: watermarked variant for streaming use — late data beyond
    * `delay` is dropped and state for closed windows is evicted (the
    * unbounded-state guard any 100 TB stream needs).
    */
  def tumblingAggWatermarked(events: DataFrame, ts: String, dur: String,
      delay: String, keys: Column*): DataFrame =
    tumblingAgg(events.withWatermark(ts, delay), ts, dur, keys: _*)

  /** B35 stream dedup on a key subset; `withinWatermark` bounds state. */
  def dedup(events: DataFrame, cols: Seq[String], watermarkCol: Option[(String, String)] = None): DataFrame =
    watermarkCol match {
      case Some((ts, delay)) =>
        events.withWatermark(ts, delay).dropDuplicatesWithinWatermark(cols)
      case None => events.dropDuplicates(cols)
    }

  /** Stream-stream event-time interval join: rows of `left` match rows
    * of `right` sharing `key` with `right.tsR` inside
    * `[left.tsL + lower, left.tsL + upper]` — the click-to-conversion /
    * impression-attribution shape. The SAME code path serves both
    * engines of the Structured Streaming contract:
    *
    *  - on BATCH frames it is a plain equi+range join (Catalyst plans
    *    the equi-key as the shuffle/broadcast key and the interval as a
    *    post-join filter) — the DuckDB-oracle corpus runs this form;
    *  - on STREAMING frames pass `leftDelay`/`rightDelay`: both sides
    *    get event-time watermarks, and the interval condition plus the
    *    watermarks are exactly what Spark's stream-stream join needs to
    *    bound its join state — a left row can be evicted once the right
    *    watermark passes `tsL + upper`, a right row once the left
    *    watermark passes `tsR - lower`. Without the interval bound a
    *    stream-stream join keeps ALL history on both sides; this
    *    operator makes the bounded form the only reachable one (the
    *    unbounded-state guard the other streaming ops enforce too).
    *
    * `joinType` supports the watermark-compatible set (inner,
    * left_outer, right_outer, full_outer); outer results emit only
    * after the watermark closes the match window.
    *
    * Caller supplies pre-aliased frames with DISTINCT column names
    * (self-joins are the common case — events vs events).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: (String, String), tsL: String, tsR: String,
      lower: String, upper: String, joinType: String = "inner",
      leftDelay: Option[String] = None,
      rightDelay: Option[String] = None): DataFrame = {
    val lo = intervalMicros(lower)
    val hi = intervalMicros(upper)
    require(lo <= hi,
      s"interval bounds out of order: lower '$lower' ($lo us) > upper '$upper' ($hi us) — " +
        "a swapped pair would silently match nothing")
    val l = leftDelay.fold(left)(d => left.withWatermark(tsL, d))
    val r = rightDelay.fold(right)(d => right.withWatermark(tsR, d))
    val cond = l(key._1) === r(key._2) &&
      r(tsR) >= l(tsL) + expr(s"INTERVAL '$lower'") &&
      r(tsR) <= l(tsL) + expr(s"INTERVAL '$upper'")
    l.join(r, cond, joinType)
  }

  /** Parse-and-validate for [[intervalJoin]]'s bound strings: accepts
    * the day-time forms the operator documents (`'-1 hour'`,
    * `'30 seconds'`, `'1 day 2 hours'`), returns total microseconds.
    * Anything else — including a typo that `expr` would surface as an
    * opaque plan-time parse error — fails here with the operator's own
    * message. Month/year units are rejected: they have no fixed
    * microsecond width, so they cannot bound stream-stream join state.
    */
  private val intervalUnitMicros: Map[String, Long] = Map(
    "microsecond" -> 1L, "millisecond" -> 1000L, "second" -> 1000000L,
    "minute" -> 60000000L, "hour" -> 3600000000L, "day" -> 86400000000L,
    "week" -> 604800000000L)

  private[graft] def intervalMicros(s: String): Long = {
    val trimmed = s.trim
    val neg = trimmed.startsWith("-")
    val body = if (neg || trimmed.startsWith("+")) trimmed.tail.trim else trimmed
    val part = """(\d+)\s+([a-zA-Z]+)""".r
    val parts = part.findAllMatchIn(body).toList
    val consumed = parts.map(_.matched).mkString(" ")
    require(parts.nonEmpty && body.replaceAll("\\s+", " ") == consumed,
      s"cannot parse interval '$s': expected e.g. '30 seconds', '-1 hour', '1 day 2 hours'")
    val total = parts.map { m =>
      val unit = m.group(2).toLowerCase.stripSuffix("s")
      val micros = intervalUnitMicros.getOrElse(unit,
        throw new IllegalArgumentException(
          s"unsupported interval unit '${m.group(2)}' in '$s' " +
            s"(supported: ${intervalUnitMicros.keys.toSeq.sorted.mkString(", ")})"))
      m.group(1).toLong * micros
    }.sum
    if (neg) -total else total
  }

  /** The `(doc_id, band_key)` LSH keys of a text frame, from the one
    * MinHash/LSH kernel the batch path runs:
    * [[graft.operators.Dedup.lshBands]] over a bound
    * [[graft.operators.Dedup.prepareHashedShingles]] frame. Both steps
    * are narrow projections (plus an explode), so this runs on a
    * streaming frame with no aggregation state, and its keys are the
    * batch band table's keys by construction — the equality that lets
    * a stream join a batch-built table. The shingle + md5 pass runs
    * once per row; the signature lanes read the bound hash array.
    */
  private[graft] def textBandKeys(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int): DataFrame = {
    import graft.operators.Dedup
    Dedup.lshBands(Dedup.prepareHashedShingles(df, idCol, Dedup.wordShingles(textCol, n)),
        idCol, k, rowsPerBand)
      .select(col(idCol).as("doc_id"), col("band_key"))
  }

  /** Incremental-ingestion near-dup screen: flag STREAMED documents
    * whose LSH band key collides with the historical corpus — the
    * step a continuously-fed training pipeline runs on every new
    * batch, WITHOUT recomputing anything over the existing corpus.
    *
    * `historyBands` is the batch-built band table
    * (Dedup.lshBands(Dedup.prepareHashedShingles(...)) materialized as a
    * table and maintained incrementally); the stream side computes
    * per-row band keys ([[textBandKeys]]) and equi-joins — a
    * stream-static join, stateless on the stream side. Output: one
    * row per (new doc, matched historical doc) candidate; exact
    * verification (Jaccard against the matched doc's stored shingles)
    * is the consumer's call, exactly as in the batch LSH path.
    *
    * Candidate pairs repeat when several bands agree (near-identical
    * docs collide on every band). On a BATCH input they are
    * `distinct`-ed here; on a STREAMING input they are returned as-is
    * and the consumer dedups per micro-batch (`batch.distinct()`
    * inside its batch sink) — a streaming `distinct` would be a
    * stateful Deduplicate with NO watermark bound, growing state with
    * every pair ever emitted, which is exactly the unbounded-state
    * failure this operator's 100 TB contract forbids. Pairs only
    * repeat WITHIN a batch (a new doc arrives once), so per-batch
    * dedup loses nothing.
    */
  def nearDupAgainstHistory(stream: DataFrame, historyBands: DataFrame,
      idCol: String, textCol: String, histIdCol: String = "doc_id",
      n: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    bandCollisions(textBandKeys(stream, idCol, textCol, n, k, rowsPerBand),
      historyBands, histIdCol)

  /** [[nearDupAgainstHistory]] over already-derived
    * [[textBandKeys]], so a batch that also writes its keys derives
    * them once. The band_key embeds the band index ("b:sig:sig"), so
    * the bare key join is band-aware.
    */
  private def bandCollisions(keys: DataFrame, historyBands: DataFrame,
      histIdCol: String): DataFrame = {
    val hist = historyBands.select(col(histIdCol).as("hist_id"), col("band_key"))
    val pairs = keys.select(col("doc_id").as("new_id"), col("band_key"))
      .join(hist, "band_key").select(col("new_id"), col("hist_id"))
    if (pairs.isStreaming) pairs else pairs.distinct()
  }

  /** Incremental-ingestion VECTOR near-dup screen — the embedding
    * analog of [[nearDupAgainstHistory]]: flag streamed vectors whose
    * random-hyperplane band signature collides with the historical
    * corpus. `historyBands` is the batch-built
    * [[graft.operators.Similarity.vectorBands]] table (same plane
    * family as `bandedAnnPairs`, so a table bootstrapped from the
    * batch ANN path and this stream share ONE key space); the stream
    * side computes its band signatures per row — a narrow projection,
    * stateless — and equi-joins on (band, sig). Output: one (new_id,
    * hist_id) row per colliding band; exact cosine verification of
    * the candidates is the consumer's call, as in the batch path.
    * Same per-batch dedup contract as [[nearDupAgainstHistory]] (a
    * streaming distinct would be unbounded state).
    */
  def vectorNearDupAgainstHistory(stream: DataFrame, historyBands: DataFrame,
      idCol: String, vecCol: String, nBands: Int = 4, bitsPerBand: Int = 4,
      dim: Int = 64, histIdCol: String = "vec_id"): DataFrame = {
    import graft.operators.Similarity
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        Similarity.bandSignature(col(vecCol), b, bitsPerBand, dim).as("sig"))
    }
    val keyed = stream
      .select(col(idCol).as("new_id"), explode(array(bandStructs: _*)).as("_b"))
      .select(col("new_id"), col("_b.band").as("band"), col("_b.sig").as("sig"))
    val hist = historyBands.select(
      col(histIdCol).as("hist_id"), col("band"), col("sig"))
    val pairs = keyed.join(hist, Seq("band", "sig"))
      .select(col("new_id"), col("hist_id"))
    if (pairs.isStreaming) pairs else pairs.distinct()
  }

  /** The one micro-batch sink every streaming operator here runs on:
    * an append `writeStream` whose per-batch callback persists the batch,
    * runs `body`, and unpersists in `finally`, checkpointed at
    * `checkpointDir` under `trigger`.
    *
    * Replay safety is the body's half of the contract: every output is
    * keyed by the micro-batch id — a [[writeBatch]] `batchId=N`
    * overwrite, or a [[VersionedDir]] version published marker-last —
    * so a batch replayed after a crash (sink ran, commit did not)
    * rewrites exactly what its first attempt wrote instead of
    * duplicating it. That is the FirehoseDelivery exactly-once
    * discipline; FirehoseDelivery keeps its own writer because its
    * trigger comes from its conf and its batch manages its own
    * persists.
    */
  private[streaming] def batchKeyedSink(stream: DataFrame, checkpointDir: String,
      trigger: Trigger)(body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try body(batch, batchId) finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The `batchId=N` overwrite: `df` lands under `dir/batchId=N`
    * (partitioned by `partCols`), replacing whatever an earlier attempt
    * of the same batch left there.
    */
  private[streaming] def writeBatch(df: DataFrame, dir: String, batchId: Long,
      partCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$dir/batchId=$batchId")

  /** The replay-side read of a [[writeBatch]] table: the `fields` of
    * every batch STRICTLY before `batchId`, through the `batchId`
    * partition column — so a replayed batch N reads exactly the history
    * its first attempt saw, never its own half-written output. Before
    * the first batch lands there is no table yet: empty.
    */
  private def batchesBefore(spark: SparkSession, dir: String, batchId: Long,
      fields: (String, DataType)*): DataFrame =
    parquetOrEmpty(spark, dir, fields: _*)(_.filter(col("batchId") < batchId))

  /** The `fields` of the parquet table at `dir` after `narrow`, or an
    * empty frame of them while the table has no data.
    */
  private[streaming] def parquetOrEmpty(spark: SparkSession, dir: String,
      fields: (String, DataType)*)(narrow: DataFrame => DataFrame): DataFrame = {
    // a stream's first batch finds no table yet: check before reading,
    // since the read logs a FileNotFoundException trace before it fails
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      emptyDf(spark, fields: _*)
    else
      // the directory can exist with no data files yet
      try narrow(spark.read.parquet(dir)).select(fields.map(f => col(f._1)): _*)
      catch { case _: AnalysisException => emptyDf(spark, fields: _*) }
  }

  private def emptyDf(spark: SparkSession, fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (f, t) => StructField(f, t) }))

  /** A static side collected ONCE before start() and rebuilt as a
    * LocalRelation per trigger — otherwise every micro-batch
    * re-executes the static frame's full lineage (the round-13
    * maintainIvfIndex lesson). The frame must be config-sized; an
    * empty one fails at setup with `emptyMsg`.
    */
  private def collectOnce(df: DataFrame, emptyMsg: String): SparkSession => DataFrame = {
    val rows = df.collect()
    val schema = df.schema
    require(rows.nonEmpty, emptyMsg)
    spark => spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The FEEDER for the IVF cell-partitioned corpus store: assign each
    * arriving vector to its nearest trained centroid
    * ([[graft.operators.Similarity.assignCells]] — a broadcast argmin,
    * zero corpus shuffle) and append it under
    * `indexDir/batchId=N/cell=K`. The layout IS the inverted file
    * (PropertySpec's storage spec: an nprobe read plans
    * PartitionFilters on `cell` and touches only the probed cells'
    * files), so a corpus bootstrapped in batch
    * (`assignCells(...).write.partitionBy("cell")`) and grown by this
    * stream serve queries the same way — `spark.read.parquet(indexDir)
    * .filter(col("cell").isin(probed: _*))` prunes across every batch
    * directory.
    *
    * Replay safety: one [[writeBatch]] overwrite per micro-batch
    * ([[batchKeyedSink]]) — a replayed batch rewrites its own
    * directory, never duplicates. Centroids are the TRAINED codebook
    * ([[graft.operators.Similarity.trainKMeans]] or any k-means) and
    * must stay FIXED while the stream runs: re-training moves cell
    * boundaries, which is a batch re-index (rewrite the store), not a
    * streaming concern.
    *
    * PQ-enabled store versions (round 16): pass the version's stored
    * PQ codebooks (`IvfStore.readCodebooks`) and every fed row also
    * carries its `c0..c{nSub-1}` code columns — the same layout
    * `IvfStore.bootstrap` writes, so `topKPq` serves fed batches and
    * bootstrap bulk identically. The geometry is DERIVED from the
    * codebooks frame itself (`IvfStore.geometryOf` — round 17), never
    * caller-supplied, so fed codes can't silently disagree with the
    * store's. FAIL-FAST GUARD (round 17): a feeder pointed at a
    * PQ-enabled store version's data dir (`storeDir/v=N/data` with a
    * sibling `codebooks` directory) WITHOUT codebooks would write
    * code-less rows that `topKPq`'s all-subspaces-matched ADC guard
    * silently excludes — invisible until recall drops. That
    * misconfiguration now throws at start(), not at recall time.
    */
  def maintainIvfIndex(stream: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, indexDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      codebooks: Option[DataFrame] = None): StreamingQuery = {
    if (codebooks.isEmpty) {
      // feeding a versioned store's data dir? its layout is
      // storeDir/v=N/data — a sibling codebooks dir means the version
      // is PQ-enabled and this feeder MUST encode
      val dir = new org.apache.hadoop.fs.Path(indexDir)
      val fs = dir.getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration)
      if (dir.getName == "data" && dir.getParent != null &&
          fs.exists(new org.apache.hadoop.fs.Path(dir.getParent, "codebooks")))
        throw new IllegalStateException(
          s"$indexDir belongs to a PQ-enabled store version (sibling codebooks " +
            "directory exists) but this feeder was started WITHOUT codebooks — " +
            "its rows would carry no code columns and be silently invisible to " +
            "topKPq; pass codebooks = Some(IvfStore.readCodebooks(...)) ")
    }
    // Centroids are FIXED for the stream's lifetime (the contract
    // above), so collect them ONCE here — otherwise every micro-batch
    // re-executes the caller's full centroid lineage (training
    // aggregation + the argmin's collect) unless the caller thought to
    // persist it (round-13 ADVICE). k rows of (cell, ctr) — the same
    // bounded-build contract as the broadcast argmin itself.
    val fixed = collectCentroids(centroids, "maintainIvfIndex")
    // feeding a PQ-enabled store version? pass its STORED codebooks
    // (IvfStore.readCodebooks) so every fed row carries the same
    // c0..c{nSub-1} code columns bootstrap writes — a PQ version with
    // code-less batch dirs would be SILENTLY invisible to topKPq (the
    // all-subspaces-matched ADC guard excludes null-coded rows rather
    // than mis-rank them). Collected once, same rationale as centroids.
    val fixedCbs = codebooks.map { c =>
      val cbLocal = collectOnce(c.select(col("subspace").cast("int").as("subspace"),
          col("code").cast("int").as("code"), col("subvec")),
        "maintainIvfIndex: codebooks frame is empty")
      (cbLocal, graft.operators.IvfStore.geometryOf(c))
    }
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val ctrLocal = fixed.toDF("cell", "ctr") // LocalRelation: no re-execution
      val assigned = graft.operators.Similarity.assignCells(batch, ctrLocal, idCol, vecCol)
        .select(col("_id").as(idCol), col("_v").as(vecCol), col("cell"))
      val coded = fixedCbs match {
        case None => assigned
        case Some((cbLocal, (nSub, subDim))) =>
          val codeCols = (0 until nSub).map(sIdx =>
            element_at(col("_codes"), sIdx + 1).as(s"c$sIdx"))
          assigned
            .crossJoin(broadcast(graft.operators.Similarity.pqCodebookArray(cbLocal(spark))))
            .withColumn("_codes", graft.functions.pq.encodeCodes(
              col(vecCol), col("_cbs"), nSub, subDim))
            .select(col(idCol) +: col(vecCol) +: codeCols :+ col("cell"): _*)
      }
      writeBatch(coded, indexDir, batchId, "cell")
    }
  }

  /** The DRIFT MONITOR for the IVF serving lifecycle (round 14, the
    * q210 composition per micro-batch): every arriving vector batch is
    * cell-assigned against the FIXED trained centroids and its
    * occupancy mix is PSI-scored against the INDEX-TIME baseline
    * occupancy — the "when do I re-index?" alarm that
    * [[maintainIvfIndex]]'s centroids-stay-fixed contract implies
    * someone must watch. Per-cell micro-PSI rows land under
    * `outDir/batchId=N` ([[batchKeyedSink]]); a consumer sums
    * `psi_micro` per batch and fires the batch re-index at the usual
    * 0.1/0.2 thresholds.
    *
    * Both static inputs are collected ONCE before start() (the
    * maintainIvfIndex lesson): the centroid table (k rows) and the
    * baseline's (cell, base_cnt) occupancy (<= k rows, computed here
    * from `baseline` via one assignCells pass) replay as
    * LocalRelations every trigger — no static lineage re-executes.
    * Per batch the work is one narrow broadcast-argmin projection +
    * one map-side-combined cell count + the cells x cells PSI join
    * (config-sized). Stateless.
    */
  def ivfDriftStream(stream: DataFrame, centroids: DataFrame,
      baseline: DataFrame, idCol: String, vecCol: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val fixedCtrs = collectCentroids(centroids, "ivfDriftStream")
    val baseCounts = {
      val spark0 = baseline.sparkSession
      graft.operators.Similarity.assignCells(
          baseline, spark0.createDataFrame(fixedCtrs).toDF("cell", "ctr"),
          idCol, vecCol)
        .groupBy(col("cell").cast("string").as("cat"))
        .agg(count(lit(1)).as("base_cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    // fail at setup with the operator's own message, not per-trigger
    // through psiCategoricalCounts' raise_error sentinel on every batch
    require(baseCounts.nonEmpty,
      "ivfDriftStream: baseline produced no cell assignments (empty or " +
        "all-null baseline) — occupancy PSI is undefined without a baseline mix")
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        import spark.implicits._
        val ctrLocal = fixedCtrs.toDF("cell", "ctr")
        val cc = graft.operators.Similarity.assignCells(batch, ctrLocal, idCol, vecCol)
          .groupBy(col("cell").cast("string").as("cat"))
          .agg(count(lit(1)).as("cur_cnt"))
        writeBatch(graft.operators.Profiler.psiCategoricalCounts(
          baseCounts.toDF("cat", "base_cnt"), cc), outDir, batchId)
      }
    }
  }

  /** STREAMING SERVING against the versioned IVF store (round 16 —
    * the last verb of the lifecycle: feed, alarm, re-index, COMPACT
    * serve): each query micro-batch resolves
    * [[graft.operators.IvfStore.liveVersion]] ONCE and serves the
    * whole batch against that pinned version
    * ([[graft.operators.IvfStore.topKOf]], or
    * [[graft.operators.IvfStore.topKPqOf]] when `compressed`), so a
    * reindex that publishes mid-trigger NEVER mixes versions inside a
    * batch: the in-flight trigger completes on v=N, the next trigger
    * binds v=N+1 — the store's old-or-new reader contract lifted to
    * the micro-batch grain. Every output row carries
    * `served_version` so consumers can audit exactly that.
    *
    * Results land under `outDir/batchId=N` ([[batchKeyedSink]]). One
    * caveat follows from that replay discipline: a batch REPLAYED after
    * a crash re-resolves the CURRENT live version, which may be newer
    * than its first attempt's — the overwrite keeps the output dir
    * single-version either way, and serving (unlike ingestion) has no
    * exactly-once obligation to an older index.
    *
    * PQ geometry is never a parameter here: each trigger's
    * `topKPqOf` derives (nSub, subDim) from the bound version's OWN
    * stored codebooks (round 17) — a mid-stream reindex to a
    * different geometry is served correctly on the very next trigger.
    *
    * 100 TB shape: per trigger the driver-side work is one marker
    * listing + the |queries| x nprobe probe collect; the cluster-side
    * work is the probed-cell scan (codes-only when compressed) — no
    * state, no stream-stream join, nothing grows with stream length.
    * Keep old versions on disk until their in-flight triggers drain
    * before [[graft.operators.IvfStore.dropVersionsBelow]].
    */
  def serveTopKStream(queryStream: DataFrame, storeDir: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      outDir: String, checkpointDir: String,
      compressed: Boolean = false, shortlist: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.IvfStore
    require(!compressed || shortlist >= k,
      s"compressed serving needs shortlist >= k, got (k=$k, shortlist=$shortlist)")
    batchKeyedSink(queryStream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val v = IvfStore.liveVersion(spark, storeDir).getOrElse(
        throw new IllegalStateException(
          s"no published version under $storeDir — bootstrap or reindex before serving"))
      val served =
        if (compressed)
          IvfStore.topKPqOf(spark, storeDir, v, batch, idCol, vecCol, k, nprobe, shortlist)
        else
          IvfStore.topKOf(spark, storeDir, v, batch, idCol, vecCol, k, nprobe)
      writeBatch(served.withColumn("served_version", lit(v)), outDir, batchId)
    }
  }

  /** The FEEDER for [[nearDupAgainstHistory]]'s history table: maintain
    * the band-key table incrementally as documents stream in. Each
    * micro-batch's (doc_id, band_key) rows land under a `batchId=N`
    * subdirectory ([[batchKeyedSink]]), so checkpoint replays overwrite
    * their own output instead of duplicating history. The per-row band
    * keys are [[textBandKeys]] (the batch `Dedup.lshBands` kernel), so
    * a table bootstrapped in batch and grown by this stream is ONE
    * consistent key space.
    *
    * Read it back with `spark.read.option("recursiveFileLookup",
    * "true").parquet(tableDir)`. At 100 TB the table is the small
    * side: k/rowsPerBand longs-worth of key per document, partitioned
    * by arrival batch — compact periodically if batch counts explode.
    */
  def maintainBandTable(stream: DataFrame, idCol: String, textCol: String,
      tableDir: String, checkpointDir: String,
      n: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    batchKeyedSink(textBandKeys(stream, idCol, textCol, n, k, rowsPerBand),
      checkpointDir, trigger)(writeBatch(_, tableDir, _))

  /** STREAMING DOMAIN ROUTING (round 17) — the per-micro-batch face of
    * [[graft.operators.CorpusOps.nbClassify]]: every arriving document
    * is scored against a FROZEN Naive Bayes model and its (predicted,
    * score_u, margin_u) row lands under `outDir/batchId=N`
    * ([[batchKeyedSink]]). This is the ingest-time router a 100 TB
    * pipeline runs INLINE with arrival: domain quotas, quality gates
    * and language routing act one trigger after the data lands.
    *
    * The model tables are trained ONCE before start() and rebuilt per
    * trigger from their rows ([[collectOnce]]) — both are config-sized
    * by construction (labels x dim log-probs, labels priors).
    * Stateless; per batch the work is one
    * batch-local (doc, bucket) count + two broadcast joins + the
    * |labels|-row argmax window.
    */
  def classifyStream(stream: DataFrame, train: DataFrame, idCol: String,
      textCol: String, labelCol: String, outDir: String,
      checkpointDir: String, dim: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val (lpDf, priorsDf) = graft.operators.CorpusOps.nbModel(
      train, col(idCol), col(textCol), col(labelCol), dim)
    val lp = collectOnce(lpDf,
      "classifyStream: the training set produced an empty model — no labeled docs?")
    val priors = collectOnce(priorsDf, "classifyStream: the training set produced no priors")
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      writeBatch(graft.operators.CorpusOps.nbScore(batch, lp(spark), priors(spark),
        col(idCol), col(textCol), dim), outDir, batchId)
    }
  }

  /** Streaming DSIR scoring (round 18) — the per-micro-batch face of
    * [[graft.operators.CorpusOps.dsirWeights]], closing the last
    * batch-only gap in the ingest-time curation story: every arriving
    * document is scored against a FROZEN importance-ratio model
    * ([[graft.operators.CorpusOps.dsirModel]] — two distributions
    * folded into one dim-row (bucket, lr_u) table) and its (n_grams,
    * dsir_weight_u) row lands under `outDir/batchId=N`
    * ([[batchKeyedSink]]). Downstream, the weights feed the
    * resample/mix steps exactly as the batch pipeline's do — in integer
    * micro-nats, so stream == batch to the last bit.
    *
    * The model is derived ONCE before start() (one pass over both
    * corpora) and rebuilt per trigger from its rows ([[collectOnce]]).
    * An empty TARGET fails AT SETUP — with
    * add-1 smoothing an all-smoothed model is well-defined but
    * meaningless (every weight a constant), exactly the silent
    * mis-routing a fail-fast exists to prevent. Stateless; per batch
    * the work is one batch-local (doc, bucket) count + one broadcast
    * join + one per-doc fold.
    */
  def dsirScoreStream(stream: DataFrame, raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, outDir: String,
      checkpointDir: String, dim: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(!target
        .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
          col(textCol) =!= "").isEmpty,
      "dsirScoreStream: the target corpus has no scorable docs — an " +
        "all-smoothed model would score every document identically; " +
        "pass a non-empty target")
    val lrDf = graft.operators.CorpusOps.dsirModel(
      raw, target, col(idCol), col(textCol), dim)
    val lr = collectOnce(lrDf, "dsirScoreStream: model derivation produced no rows")
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.operators.CorpusOps.dsirScore(batch, lr(batch.sparkSession),
        col(idCol), col(textCol), dim), outDir, batchId)
    }
  }

  /** Streaming DATA-QUALITY MONITOR — the per-micro-batch face of
    * [[graft.operators.Profiler]]: every arriving batch is profiled
    * (per-column totals/nulls/exact distincts/bounds) and the report
    * lands under `outDir/batchId=N` ([[batchKeyedSink]]), so a replayed
    * batch re-profiles identically. This is the ingest gate a 100 TB
    * lake runs INLINE with arrival: a null-rate or cardinality anomaly
    * is visible one trigger after the bad data lands, not at the next
    * nightly sweep. Stateless (profiles are per-batch aggregations;
    * cross-batch trending is a batch query over the batchId-partitioned
    * reports).
    */
  def profileStream(stream: DataFrame, cols: Seq[String], outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty)
        writeBatch(graft.operators.Profiler.profile(batch, cols), outDir, batchId)
    }

  /** Streaming CDC — the per-micro-batch face of
    * [[graft.operators.ChangeCapture.snapshotDiff]]: each arriving
    * batch of upsert rows is diffed against a STATIC baseline and the
    * I/U changes land under `outDir/batchId=N` ([[batchKeyedSink]]), so
    * a replayed batch re-diffs identically. The baseline is scoped to
    * the batch's keys first (one left-semi join), so per-batch cost
    * follows the BATCH size, never the baseline size — at 100 TB the
    * baseline is the big side and only the touched keys' rows join.
    *
    * Semantics: a PLAIN upsert stream (deleteCol = None) observes
    * presence, not absence — every old-side key is by construction in
    * the batch, so D rows cannot occur and unchanged re-sends emit
    * nothing (idempotent upserts drop out). Passing `deleteCol`
    * switches the per-batch diff to
    * [[graft.operators.ChangeCapture.tombstoneDiff]]: rows whose
    * marker is true are delete tombstones (Debezium op=d / compacted-
    * topic null convention) and emit D rows with the baseline's old
    * image — so retractions flow to [[maintainAggStream]] end-to-end
    * and the last delivery-semantics asymmetry with full-snapshot
    * diffing (q161) closes. Stateless either way: cross-batch
    * compaction of the diff log is a batch query over the
    * batchId-partitioned output.
    */
  def diffStream(upserts: DataFrame, baseline: DataFrame,
      keyCols: Seq[String], compareCols: Seq[String],
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deleteCol: Option[String] = None,
      orderCols: Seq[String] = Nil): StreamingQuery =
    batchKeyedSink(upserts, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val diff = deleteCol match {
          case Some(d) =>
            // tombstoneDiff scopes the baseline internally (two
            // left-semi joins on the batch's keys); orderCols
            // compacts a multi-change-per-key batch to its last
            // write first (Debezium/compacted-topic cadence)
            graft.operators.ChangeCapture
              .tombstoneDiff(batch, baseline, keyCols, compareCols, d, orderCols)
          case None =>
            val touched = batch.select(keyCols.map(col): _*).distinct()
            val scoped = baseline.join(touched, keyCols, "left_semi")
            graft.operators.ChangeCapture
              .snapshotDiff(scoped, batch, keyCols, compareCols)
        }
        writeBatch(diff, outDir, batchId)
      }
    }

  /** Streaming DISTRIBUTION-DRIFT MONITOR — the per-micro-batch face of
    * [[graft.operators.Profiler.psiAgainst]]: the baseline's
    * config-sized [[graft.operators.Profiler.PsiBaseline]] summary is
    * computed ONCE before the stream starts, then every arriving batch
    * is scored in one narrow pass (literal bin chain +
    * map-side-combined counts — the baseline never re-reads) and its
    * per-bin micro-PSI report lands under `outDir/batchId=N`
    * ([[batchKeyedSink]]). This is the "is today's feed still
    * distributed like the training data" gate running INLINE with
    * ingest: a drifted batch is visible one trigger after it lands.
    * Stateless; empty batches are skipped (PSI over zero rows is
    * undefined).
    */
  def driftStream(stream: DataFrame, baseline: DataFrame, valueCol: String,
      outDir: String, checkpointDir: String, nBins: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val pb = graft.operators.Profiler.psiBaseline(baseline, col(valueCol), nBins)
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      // all-null batches carry no measurable rows: proportions (and
      // PSI) are undefined, so they skip like empty ones
      if (!batch.filter(col(valueCol).isNotNull).isEmpty)
        writeBatch(graft.operators.Profiler.psiAgainst(pb, batch, col(valueCol)),
          outDir, batchId)
    }
  }

  /** Streaming ENTITY CANONICALIZATION — the per-micro-batch face of
    * [[graft.operators.Linkage.linkBest]]: every arriving batch of
    * dirty values is matched to its nearest catalog entry (within the
    * distance budget; deterministic (dist, value) tie-break; unmatched
    * kept with nulls) and the linked batch lands under
    * `outDir/batchId=N` ([[batchKeyedSink]]). This is inline ingest
    * cleansing: records are canonicalized one trigger after arrival
    * instead of by a nightly sweep. The catalog is STATIC per stream
    * (the common deployment; restart the stream to pick up a new
    * catalog) and per-batch cost follows the batch's distinct values x
    * the catalog's adjacent length buckets — the batch operator's own
    * blocked equi-join shape, never all-pairs. Stateless.
    */
  def linkStream(stream: DataFrame, catalog: DataFrame, dirtyCol: String,
      catalogCol: String, maxDist: Int, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // pin the static side once for the stream's lifetime — without
    // this, every trigger would re-run the catalog's full lineage
    val cat = catalog.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty)
        writeBatch(graft.operators.Linkage
          .linkBest(batch, cat, dirtyCol, catalogCol, maxDist), outDir, batchId)
    }
  }

  /** Streaming POINT-IN-TIME ENRICHMENT — the per-micro-batch face of
    * [[graft.operators.Temporal.pitJoin]]: each arriving fact batch is
    * joined to the dimension version valid AT EACH FACT'S OWN EVENT
    * TIME against a static SCD2 history, and the enriched rows land
    * under `outDir/batchId=N` ([[batchKeyedSink]]). This is the
    * leak-proof feature join running INLINE with ingest — late-arriving
    * facts still get the version that was true at their timestamp,
    * never today's.
    *
    * The history is scoped to the batch's keys FIRST (one left-semi
    * join), so per-trigger cost follows the BATCH, never the history
    * — the diffStream contract: at 100 TB the history is the big
    * side and only touched keys' versions enter the window.
    * Stateless (no watermarks, no state store): the history is
    * static; cross-batch consistency is the checkpoint's replay
    * idempotence.
    */
  def pitStream(facts: DataFrame, history: DataFrame, keyCols: Seq[String],
      factTsCol: String, attrCols: Seq[String],
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // pin the static side once for the stream's lifetime
    val hist = history.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchKeyedSink(facts, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val scoped = hist.join(
          batch.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
        writeBatch(graft.operators.Temporal
          .pitJoin(batch, scoped, keyCols, factTsCol, attrCols), outDir, batchId)
      }
    }
  }

  /** Streaming MATERIALIZED-VIEW MAINTENANCE — the per-micro-batch
    * face of [[graft.operators.ChangeCapture.maintainAgg]]: a CDC
    * changelog stream (snapshotDiff-shaped rows — change_type plus
    * old_/new_ images, e.g. [[diffStream]] output) folds into a
    * running grouped aggregate kept as VERSIONED parquet under
    * `mvDir/v=N`, each version published marker-last at
    * `mvDir/_published/v-N` ([[VersionedDir]]). The base aggregate is
    * materialized and published as v=0 before the stream starts;
    * batch b reads exactly v=b, applies the batch's
    * retractions/additions (one union-fed hash aggregation — no join,
    * no fact rescan), writes v=b+1 and publishes it. Versioning by
    * batchId is what makes checkpoint replay exactly-once: a batch
    * replayed after its sink ran but before its commit finds v=b+1
    * already published and skips the rewrite (published versions are
    * immutable — a reader may be scanning it); one that crashed
    * mid-write finds no marker and re-overwrites its output from its
    * input version (still on disk). Versions older than the replay
    * horizon (b-1) are pruned, marker first. A crash or a racing
    * trigger can leave a half-written `v=N` directory, but never a
    * published one, and [[readLatestMv]] reads published versions
    * only.
    *
    * At 100 TB this is the nightly-MV refresh run CONTINUOUSLY: per
    * trigger the work is |MV| + 2|batch| — the facts are never
    * rescanned, so the MV lags its changelog by one trigger at any
    * fact-table size. Read the current view with [[readLatestMv]].
    */
  def maintainAggStream(changelog: DataFrame, baseAgg: DataFrame,
      groupCols: Seq[String], measureCols: Seq[String],
      mvDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = changelog.sparkSession
    val mv = mvVersions(spark, mvDir)
    def version(v: Long) = s"$mvDir/v=$v"
    // materialize the base ONLY on a genuinely fresh MV: after batch 1
    // prunes v=0, a restarted stream still has its later versions — a
    // v=0-only check would re-run the base aggregate's full fact scan
    // (the cost this operator exists to avoid) into an orphaned v=0.
    // Published versions, not directories: a crash can leave an
    // unpublished v=0 that no batch could read.
    if (mv.published.isEmpty) {
      baseAgg.write.mode(SaveMode.Overwrite).parquet(version(0))
      mv.publish(0)
    }
    batchKeyedSink(changelog, checkpointDir, trigger) { (batch, batchId) =>
      if (!mv.published.contains(batchId + 1)) {
        graft.operators.ChangeCapture
          .maintainAgg(spark.read.parquet(version(batchId)), batch, groupCols, measureCols)
          .write.mode(SaveMode.Overwrite).parquet(version(batchId + 1))
        mv.publish(batchId + 1)
      }
      // replay can only revisit THIS batch: b-1 and older inputs
      // are committed, their versions unreachable — prune them
      mv.prune(batchId, version)
    }
  }

  private def mvVersions(spark: SparkSession, mvDir: String): VersionedDir =
    new VersionedDir(spark, s"$mvDir/_published")

  /** The current view of a [[maintainAggStream]] MV: its highest
    * PUBLISHED version. A half-written `v=N` directory (a crash, or a
    * trigger still writing) has no marker and is never read. MV
    * directories written before versions carried markers have none
    * and fail here.
    */
  def readLatestMv(spark: SparkSession, mvDir: String): DataFrame = {
    val v = mvVersions(spark, mvDir).live.getOrElse(throw new IllegalArgumentException(
      s"no published version under $mvDir — not a maintainAggStream dir"))
    spark.read.parquet(s"$mvDir/v=$v")
  }

  /** Micro-batch HYBRID RETRIEVAL SERVING — the streaming face of the
    * q145 stack: each arriving batch of query documents runs the full
    * sparse (per-query BM25 more-like-this) + dense (cosine over the
    * query ids' embeddings) + reciprocal-rank-fusion pipeline against
    * STATIC corpus tables, and lands its fused top-k under
    * `outDir/batchId=N` ([[batchKeyedSink]]), so checkpoint replays
    * re-serve rather than duplicate. The query stream carries (id,
    * text); the dense side resolves each query's embedding from the
    * static embeddings table by id (a serving-size broadcast join).
    *
    * Scale: stateless — corpus statistics and scores are recomputed
    * per batch from the static tables (cache/persist them in a real
    * deployment; at 100 TB the dense side swaps to `ivfPqTopK`
    * unchanged through the same fusion). Per batch the work is
    * exactly the batch operators' plans: inverted-index sparse
    * candidates, broadcast-bounded dense scoring, candidate-list-only
    * fusion. StreamingSpec proves stream output == the batch stack on
    * the same query set.
    */
  def hybridRetrieveStream(queryStream: DataFrame, docs: DataFrame,
      embeddings: DataFrame, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      perRanker: Int = 10, topK: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.{Similarity, TextAnalysis}
    batchKeyedSink(queryStream, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val q = batch.select(col(idCol), col(textCol))
        val sparse = TextAnalysis.bm25Retrieve(docs, q, idCol, textCol, perRanker)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val qVecs = embeddings.join(
          broadcast(q.select(col(idCol).as(vecIdCol))), vecIdCol)
        val dense = Similarity.bruteForceTopK(embeddings, qVecs,
            vecIdCol, vecCol, perRanker)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        writeBatch(Similarity.reciprocalRankFusion(Seq(sparse, dense), k = 60, topK = topK),
          outDir, batchId)
      }
    }
  }

  /** Compaction for [[maintainBandTable]]/[[screenAndMaintain]]'s
    * band table: a long-running stream accretes one small
    * `batchId=N` directory per micro-batch (the classic small-files
    * problem); this rewrites the table into `outDir` with the SAME
    * batchId partition column (so `screenAndMaintain`'s
    * `batchId < N` replay filter keeps working against the compacted
    * copy) but one consolidated file set per partition — swap the
    * directories between streaming restarts. Returns the row count
    * written so callers can assert the rewrite lost nothing.
    *
    * `writerTasks` is the TOTAL shuffle/writer task count for the
    * rewrite (0 = the context's defaultParallelism), NOT a per-
    * directory file cap: rows hash by the partition key, so every
    * `batchId=N` directory always lands in exactly one task and gets
    * exactly one file, while independent partitions rewrite in
    * parallel — a single-task rewrite of the whole store (the old
    * default of 1) would serialize the compaction this verb exists
    * to make cheap.
    */
  def compactBandTable(spark: SparkSession,
      tableDir: String, outDir: String, writerTasks: Int = 0): Long =
    compact(spark.read.parquet(tableDir)
      .select(col("doc_id"), col("band_key"), col("batchId")), outDir, writerTasks, "batchId")

  /** The one body of the compaction verbs: hash `t` by its partition
    * columns into `writerTasks` writer tasks (0 means "the context's
    * defaultParallelism" — proportional to the host, never a silent
    * single-task rewrite), overwrite `outDir` partitioned the same
    * way, and return the row count written.
    */
  private def compact(t: DataFrame, outDir: String, writerTasks: Int,
      partCols: String*): Long = {
    require(writerTasks >= 0, s"writerTasks must be >= 0, got $writerTasks")
    val spark = t.sparkSession
    val tasks = if (writerTasks == 0) spark.sparkContext.defaultParallelism else writerTasks
    t.repartition(tasks, partCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Shared centroid gather for the IVF streaming verbs: k rows of
    * (cell, ctr), collected ONCE before start() (the round-13
    * maintainIvfIndex discipline). Null cells/vectors are REJECTED
    * here with the operator's name — a null row would otherwise
    * surface as an unhelpful NPE from getInt/getSeq at stream-
    * definition time, and silently dropping it would be worse: the
    * stream would assign every vector against a SHRUNKEN codebook
    * with no error anywhere (round-15 self-review). An empty table
    * fails fast too: a stream assigning against zero centroids can
    * never produce a cell.
    */
  private def collectCentroids(centroids: DataFrame,
      op: String): Seq[(Int, Seq[Double])] = {
    val rows = centroids
      .select(col("cell").cast("int").as("cell"),
        col("ctr").cast("array<double>").as("ctr"))
      .collect()
    val bad = rows.count(r => r.isNullAt(0) || r.isNullAt(1))
    require(bad == 0,
      s"$op: centroid table has $bad null (cell, ctr) rows of ${rows.length} — " +
        "a partial codebook would silently mis-assign every vector; fix the " +
        "training output instead")
    require(rows.nonEmpty,
      s"$op: centroid table is empty — cell assignment is undefined without a codebook")
    rows.map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
  }

  /** Compaction for [[curationStream]]'s accepted-history state — the
    * md5 table and the band-key table both accrete one `batchId=N`
    * directory per trigger forever, and the measured cost of that is
    * file-LISTING drift, not join growth (SCALE.md round 14: 50
    * triggers -> 399 files/table and the last triggers pay ~+20%
    * listing overhead at toy batch sizes). Rewrites BOTH tables into
    * `outDir/md5` and `outDir/bands` with the SAME batchId partition
    * column — the `batchId < N` replay filter keeps working against
    * the compacted copy — and one consolidated file set per
    * partition. Swap `stateDir`s between streaming restarts, like
    * [[compactBandTable]]. Returns (md5 rows, band rows) written so
    * callers can assert the rewrite lost nothing. `writerTasks` is
    * the TOTAL rewrite task count (0 = defaultParallelism), not a
    * per-directory file cap — see [[compactBandTable]]: hashing by
    * the partition key keeps every directory at exactly one file.
    */
  def compactCurationHistory(spark: SparkSession,
      stateDir: String, outDir: String, writerTasks: Int = 0): (Long, Long) = {
    def table(sub: String): Long = // the read discovers batchId
      compact(spark.read.parquet(s"$stateDir/$sub"), s"$outDir/$sub", writerTasks, "batchId")
    (table("md5"), table("bands"))
  }

  /** Compaction for [[maintainIvfIndex]]'s cell-partitioned store —
    * the same small-files failure [[compactBandTable]] solves for the
    * band table: a long-running feeder accretes one `batchId=N`
    * directory (with one file set per touched cell) per trigger
    * forever, and an nprobe read eventually pays file-listing and
    * open-cost proportional to trigger count, not data size. This
    * rewrites the store into `outDir` preserving BOTH partition
    * columns: `batchId` so the feeder's replay discipline keeps
    * working against the compacted copy (a replayed batch N
    * overwrites exactly its own `batchId=N` directory, never
    * duplicates, never resurrects anything), and `cell` so nprobe
    * reads still plan PartitionFilters and touch only probed cells'
    * files. `writerTasks` is the TOTAL rewrite task count (0 =
    * defaultParallelism), not a per-directory file cap — see
    * [[compactBandTable]]: rows hash by (batchId, cell), so each
    * directory always gets exactly one file while the rewrite
    * parallelizes across directories. Swap directories between
    * streaming restarts, like [[compactBandTable]]. Returns the row
    * count written so callers can assert the rewrite lost nothing.
    */
  def compactIvfIndex(spark: SparkSession,
      indexDir: String, outDir: String, writerTasks: Int = 0): Long =
    // the read discovers the batchId + cell partitions
    compact(spark.read.parquet(indexDir), outDir, writerTasks, "batchId", "cell")

  /** The full incremental-LSH loop in ONE streaming query: each
    * micro-batch (1) screens its documents against the band table AS
    * OF THE PREVIOUS batch and routes collision pairs to
    * `pairsDir/batchId=N`, then (2) appends its own band keys under
    * `tableDir/batchId=N` — so a continuously-fed corpus deduplicates
    * against everything that arrived before it, with no full-corpus
    * recompute, ever.
    *
    * Replay safety: both writes are [[writeBatch]] overwrites, and the
    * screen reads the table THROUGH its batchId partition column with
    * `batchId < N` — a replayed batch N therefore screens against
    * exactly the same history as the first attempt (its own half-
    * written keys from the failed run are filtered out, not
    * self-collided with). Within-batch pairs are not reported, per the
    * [[nearDupAgainstHistory]] contract.
    *
    * Scale: the screen is a stateless band-key equi-join per batch —
    * the stream side shuffles (id, band_key) only; the table side is
    * a partition-pruned parquet read. The per-batch table read is the
    * cost knob: compact `tableDir` periodically (it is plain
    * partitioned parquet) when batch counts grow.
    */
  def screenAndMaintain(stream: DataFrame, idCol: String, textCol: String,
      tableDir: String, pairsDir: String, checkpointDir: String,
      n: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      val history = batchesBefore(batch.sparkSession, tableDir, batchId,
        "doc_id" -> LongType, "band_key" -> StringType)
      // one key derivation serves the screen and the table write
      val keys = textBandKeys(batch, idCol, textCol, n, k, rowsPerBand).persist()
      try {
        writeBatch(bandCollisions(keys, history, "doc_id"), pairsDir, batchId)
        writeBatch(keys, tableDir, batchId)
      } finally keys.unpersist()
    }
  }

  /** The STREAMING serving form of
    * [[graft.operators.CorpusOps.curationPipeline]]: per micro-batch,
    * every arriving doc gets exactly one disposition against the
    * corpus accepted SO FAR —
    *
    *  - `low_quality`: q52's composite < `qualityMin` (null text
    *    included, same contract as the batch pipeline) — evaluated
    *    narrow, nothing shuffles;
    *  - `exact_dup`: md5(text) seen in an EARLIER batch's accepted
    *    set (partition-pruned read of `stateDir/md5`), or a larger
    *    doc_id within this batch's own md5 group (groupBy(min) +
    *    join back — the batch pipeline's skew-proof keeper shape,
    *    one row per distinct text through the shuffle — applied at
    *    the micro-batch grain);
    *  - `contaminated` (round 14, only when `evalDocs` is given): a
    *    fresh keeper sharing at least one distinct `evalN`-gram with
    *    the STATIC benchmark set — the batch pipeline's fourth gate
    *    ([[graft.operators.CorpusOps.curationPipeline]]) applied per
    *    micro-batch through the same contamination kernel
    *    ([[graft.operators.Curation.gramHashes]] +
    *    [[graft.operators.Curation.sharedGrams]]): the eval gram
    *    hashes are collected ONCE before start() (small by contract,
    *    and static — the stream must not re-run the eval lineage per
    *    trigger) and the batch's gram hashes broadcast-semi-join them
    *    in the batch's own scan stage. Contaminated docs never enter
    *    the accepted history.
    *    For benchmark sets that ROTATE in production, pass `evalDir`
    *    instead (round 15): a `version`-partitioned gram-hash table
    *    ([[publishEvalGrams]]) the gate reads PER TRIGGER through
    *    `version <= batchId` — grams published at version V first
    *    gate batch V, no restart needed, and a replayed batch
    *    filters out later versions so it gates against exactly what
    *    its first attempt saw (publish versions monotonically; never
    *    publish V once batch V has committed). Per-trigger cost: one
    *    partition-pruned read of the config-sized table — vs the
    *    static path's one-time collect; both then run the same
    *    broadcast semi-join;
    *  - `near_dup`: band-key collision with an earlier batch's
    *    accepted set ([[nearDupAgainstHistory]] over
    *    `stateDir/bands`). Within-batch near-dups are NOT flagged —
    *    the [[screenAndMaintain]] contract: arrival order inside one
    *    trigger is not meaningful, so the batch pipeline's
    *    cluster-split (not a drop) is the right tool there;
    *  - `kept`: everything else; kept docs' md5 + band keys enter
    *    the history so every LATER batch screens against them.
    *
    * Streaming serving DROPS near-dups against history rather than
    * cluster-splitting (the batch pipeline's job at training-set
    * assembly time): an online feed wants an accept/reject decision
    * per doc, not a retroactive split over data it already shipped.
    *
    * Replay safety, same discipline as [[screenAndMaintain]]: every
    * write (dispositions under `outDir/batchId=N`, accepted md5s under
    * `stateDir/md5/batchId=N`, accepted band keys under
    * `stateDir/bands/batchId=N`) is a [[writeBatch]] overwrite, and
    * history reads filter `batchId < N` through the partition column —
    * a replayed batch screens against exactly the history its first
    * attempt saw.
    *
    * Scale: quality + md5 are narrow per-row work in the batch scan;
    * the only shuffles are the within-batch keeper window (keyed by
    * md5, batch-sized) and the two history equi-joins, whose table
    * sides are partition-pruned parquet bounded by accepted-corpus
    * keys, never payloads.
    *
    * GOPHER QUALITY STAGE (round 17): pass `gopher` and the quality
    * disposition gates on the Gopher rules
    * ([[graft.operators.TextAnalysis.gopherQualityGate]]) instead of
    * the q52 scalar (`qualityMin` is then unused — production serving
    * gates on the rule set, not the heuristic), and EVERY disposition
    * row additionally carries the per-rule audit columns (n_words,
    * mean_word_len, stop_hits, top2_frac) so a consumer can see which
    * rule fired without re-running the gate. A doc too short for a
    * 2-gram has no repetition row and FAILS the gate (left-join +
    * coalesce-false — the explicit reject, with null top2_frac in its
    * audit columns). Rules 1-3 stay narrow per-row folds; rule 4's
    * repetition pass is per-batch-local (one (doc, n, gram) count
    * shuffle bounded by the micro-batch), stateless across triggers,
    * so replay determinism is untouched. With `gopher` unset the
    * output schema is byte-identical to round 16.
    *
    * C4 PRE-CLEAN STAGE (round 18): pass `c4` and every micro-batch
    * runs [[graft.operators.TextAnalysis.c4Clean]] BEFORE the quality
    * stage — the batch spine's ordering argument: quality scores the
    * text the stream would actually ship, and md5/band keys are
    * computed on the CLEANED text (a page that near-dups an accepted
    * page only after boilerplate removal is still caught). Dropped
    * pages land a sixth disposition, `boilerplate` (null quality),
    * and with the leg on every row carries the cleaner's page-signal
    * audit columns (n_lines, kept_lines, has_lorem, has_brace,
    * has_badword). Narrow, per-batch-local, stateless — replay
    * determinism untouched; schema unchanged with `c4` unset.
    */
  def curationStream(stream: DataFrame, idCol: String, textCol: String,
      qualityMin: Double, stateDir: String, outDir: String,
      checkpointDir: String, n: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      evalDocs: Option[DataFrame] = None, evalN: Int = 8,
      evalDir: Option[String] = None,
      gopher: Option[graft.operators.TextAnalysis.GopherGate] = None,
      c4: Option[graft.operators.TextAnalysis.C4Policy] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(evalDocs.isEmpty || evalDir.isEmpty,
      "pass evalDocs (static benchmark set, collected once) OR evalDir " +
        "(version-keyed churning set, read per trigger) — not both")
    // The static decontamination gate's gram hashes, collected ONCE
    // before start() (bounded by contract — the benchmark set is
    // small) and rebuilt per batch as a LocalRelation. evalDocs must
    // carry `textCol`.
    val evalHashes: Option[Seq[Long]] = evalDocs.map(ev =>
      Curation.gramHashes(ev, Nil, col(textCol), evalN).distinct()
        .collect().map(_.getLong(0)).toSeq)
    // with the Gopher stage on, every disposition row also carries
    // the gate's per-rule audit columns; with the C4 stage on
    // (round 18), likewise the cleaner's page signals
    val gopherAudit: Seq[String] =
      if (gopher.isDefined)
        Seq("n_words", "mean_word_len", "stop_hits", "top2_frac")
      else Seq.empty
    val c4Audit: Seq[String] =
      if (c4.isDefined)
        Seq("n_lines", "kept_lines", "has_lorem", "has_brace", "has_badword")
      else Seq.empty
    val audit: Seq[String] = c4Audit ++ gopherAudit
    batchKeyedSink(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // C4 PRE-CLEAN stage (round 18): the cleaner runs FIRST, per
      // the batch spine's ordering argument — the quality stage
      // scores the text the stream would actually ship, and every
      // downstream key (md5, band keys) is computed on the CLEANED
      // text, so a page that near-dups an accepted page only after
      // boilerplate removal is still caught. Dropped pages land the
      // `boilerplate` disposition (null quality — they are never
      // scored); null-id/text rows bypass the cleaner and fall
      // through to the quality stage's explicit low_quality reject,
      // exactly as without the leg. Per-batch-local and stateless:
      // replay determinism untouched.
      val (srcBatch, c4State) = c4 match {
        case None => (batch, None)
        case Some(p) =>
          val cleaned = graft.operators.TextAnalysis
            .c4Clean(batch, col(idCol), col(textCol), p)
          cleaned.persist()
          val surv = cleaned.filter(col("keep") === 1)
            .select(col("doc_id").as(idCol),
              translate(col("clean_text"), "\n", " ").as(textCol),
              col("n_lines"), col("kept_lines"), col("has_lorem"),
              col("has_brace"), col("has_badword"))
          val nullRows = batch
            .filter(col(idCol).isNull || col(textCol).isNull)
            .select(Seq(col(idCol), col(textCol)) ++ c4Audit.map(f =>
              lit(null).cast(if (f.startsWith("has_")) "int" else "long")
                .as(f)): _*)
          val boiler = cleaned.filter(col("keep") === 0)
            .select(Seq(col("doc_id"),
              lit(null).cast("double").as("quality")) ++
              c4Audit.map(col) ++ gopherAudit.map(f =>
                lit(null).cast(
                  if (f == "n_words" || f == "stop_hits") "long"
                  else "double").as(f)) :+
              lit("boilerplate").as("disposition"): _*)
          (surv.unionByName(nullRows), Some((cleaned, boiler)))
      }
      val scored0 = srcBatch.select(Seq(col(idCol).as("doc_id"),
        col(textCol).as("text"),
        graft.operators.TextAnalysis.qualityColumn(textCol).as("quality")) ++
        c4Audit.map(col): _*)
      val scored = gopher match {
        case None =>
          scored0.withColumn("_pass",
            col("quality").isNotNull && col("quality") >= qualityMin)
        case Some(g) =>
          scored0.join(
            graft.operators.TextAnalysis
              .gopherQualityGate(srcBatch, col(idCol), col(textCol), g)
              .select(col("doc_id"), col("n_words"), col("mean_word_len"),
                col("stop_hits"), col("top2_frac"), col("keep")),
            Seq("doc_id"), "left")
            .withColumn("_pass", coalesce(col("keep"), lit(false)))
      }
      scored.persist()
      def out(df: DataFrame, disp: String): DataFrame =
        df.select(Seq(col("doc_id"), col("quality")) ++ audit.map(col) :+
          lit(disp).as("disposition"): _*)
      var gateCache: Option[DataFrame] = None
      var keysCache: Option[DataFrame] = None
      try {
        val lowQ = out(scored.filter(!col("_pass")), "low_quality")
        val pass = Curation.keeperTagged(scored.filter(col("_pass")))
        val histMd5 = batchesBefore(spark, s"$stateDir/md5", batchId, "_md5" -> StringType)
        val keepers = pass.filter(col("doc_id") === col("_keeper"))
        val freshMd5 = keepers.join(histMd5, Seq("_md5"), "left_anti")
        val exactDup = out(pass.filter(col("doc_id") =!= col("_keeper"))
          .unionByName(keepers.join(histMd5, Seq("_md5"), "left_semi")),
          "exact_dup")
        // decontamination gate: the batch's gram hashes
        // broadcast-semi-join the eval gram set. With evalDocs
        // (static set) that set is the LocalRelation collected before
        // start(). With evalDir (CHURNING set) it is the version-keyed
        // gram table read per trigger through `version <= batchId` —
        // the accepted-history read discipline, so a replayed batch
        // gates against exactly the versions its first attempt saw.
        // No bloom prefilter: the set is config-sized either way, and
        // a bloom in front of its broadcast hash table would test the
        // same membership twice.
        val evalSet: Option[DataFrame] = (evalHashes, evalDir) match {
          case (Some(hashes), _) =>
            import spark.implicits._
            Some(hashes.toDF("_h"))
          case (None, Some(dir)) =>
            // versions above the current batchId are INACTIVE: a
            // publisher stands up version V ahead of time and it
            // first gates batch V — so the active set is a pure
            // function of batchId and replay is deterministic as
            // long as versions are published monotonically (never
            // publish V once batch V has committed). Only MARKED
            // versions are read (publishEvalGrams creates the
            // marker after the gram files are complete), so a
            // half-written publish is invisible; the explicit
            // schema skips footer inference, so an unmarked partial
            // directory is never even opened.
            val active = evalVersions(spark, dir).published.filter(_ <= batchId)
            Some(if (active.isEmpty) emptyDf(spark, "_h" -> LongType) // gate open
              else spark.read.schema("_h BIGINT, version BIGINT").parquet(dir)
                .filter(col("version").isin(active: _*)).select(col("_h")))
          case (None, None) => None
        }
        // persisted per batch: the id set feeds the semi branch, the
        // anti branch, AND every downstream consumer of cleanFresh
        // (near-dup screen, kept, history writes) — without the cache
        // the batch-gram explode re-runs per sink action. Unpersisted
        // in the finally below.
        gateCache = evalSet.map(set => Curation.sharedGrams(
            Curation.gramHashes(freshMd5, Seq("doc_id"), col("text"), evalN), set)
          .select(col("doc_id")).distinct()
          .persist())
        val contaminated = gateCache.map(ids =>
          out(freshMd5.join(ids, Seq("doc_id"), "left_semi"), "contaminated"))
        val cleanFresh = gateCache.fold(freshMd5)(ids =>
          freshMd5.join(ids, Seq("doc_id"), "left_anti"))
        val histBands = batchesBefore(spark, s"$stateDir/bands", batchId,
          "doc_id" -> LongType, "band_key" -> StringType)
        // one key derivation serves the screen and the table write
        val freshKeys = textBandKeys(cleanFresh, "doc_id", "text", n, k, rowsPerBand)
        keysCache = Some(freshKeys.persist())
        val collided = bandCollisions(freshKeys, histBands, "doc_id")
          .select(col("new_id").as("doc_id")).distinct()
        val nearDup = out(
          cleanFresh.join(collided, Seq("doc_id"), "left_semi"), "near_dup")
        val kept = cleanFresh.join(collided, Seq("doc_id"), "left_anti")
        kept.persist()
        try {
          writeBatch((contaminated.toSeq ++ c4State.map(_._2))
            .foldLeft(lowQ.unionByName(exactDup))(_ unionByName _)
            .unionByName(nearDup)
            .unionByName(out(kept, "kept")), outDir, batchId)
          writeBatch(kept.select(col("_md5")), s"$stateDir/md5", batchId)
          writeBatch(freshKeys.join(collided, Seq("doc_id"), "left_anti"),
            s"$stateDir/bands", batchId)
        } finally kept.unpersist()
      } finally {
        scored.unpersist()
        gateCache.foreach(_.unpersist())
        keysCache.foreach(_.unpersist())
        c4State.foreach(_._1.unpersist())
      }
    }
  }

  /** Publish one VERSION of the churning eval-gram table
    * [[curationStream]]'s `evalDir` gate reads: the benchmark docs'
    * distinct `evalN`-gram hashes (the exact grain of the static
    * gate and of q84/q207) land under `evalDir/version=$version`.
    *
    * Activation contract: grams published at version V first gate
    * micro-batch V (the gate filters `version <= batchId`), so stand
    * a version up AHEAD of the stream progress you want it to apply
    * from — version 0 before start() reproduces the static gate.
    * Publish versions monotonically and never a version the stream
    * has already committed past: the `version <= batchId` filter is
    * what makes a replayed batch gate against exactly the set its
    * first attempt saw, and back-publishing below committed progress
    * would break that determinism.
    *
    * Publish is ATOMIC via the marker discipline ([[VersionedDir]]):
    * the gram files land first, then a zero-byte
    * `_published/v-$version` marker is created LAST, and the gate
    * reads ONLY marked versions — so a half-written or in-flight
    * publish is invisible to every trigger, and a crashed publish
    * retried converges (no marker yet -> safe overwrite + mark).
    * Published versions are IMMUTABLE: re-publishing a marked
    * version is a no-op rather than an overwrite, because an
    * overwrite would race in-flight gate readers mid-scan
    * (round-15 self-review).
    *
    * Scale: one map-side explode over the benchmark set (small by
    * the gate's contract) + a distinct; the table stays config-sized
    * so every per-trigger read broadcasts. Returns the gram-hash
    * count in the published version.
    */
  def publishEvalGrams(evalDocs: DataFrame, textCol: String,
      evalDir: String, version: Long, evalN: Int = 8): Long = {
    require(version >= 0, s"version must be >= 0 (it gates batchId >= version), got $version")
    val spark = evalDocs.sparkSession
    val published = evalVersions(spark, evalDir)
    if (!published.published.contains(version)) {
      Curation.gramHashes(evalDocs, Nil, col(textCol), evalN).distinct()
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$evalDir/version=$version")
      published.publish(version)
    }
    spark.read.parquet(s"$evalDir/version=$version").count()
  }

  /** The eval-gram publish markers (`_published/v-N`): the marked
    * versions are what the gate trusts; everything else is invisible.
    */
  private def evalVersions(spark: SparkSession, evalDir: String): VersionedDir =
    new VersionedDir(spark, s"$evalDir/_published")
}
