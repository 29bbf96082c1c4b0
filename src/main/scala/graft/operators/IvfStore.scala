package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.VersionedDir

/** Versioned IVF store lifecycle (SURVEY.md §2 B41/B54, round 15) —
  * the RE-INDEX verb that closes the serving loop the other three
  * verbs imply: [[graft.streaming.StreamingOps.maintainIvfIndex]]
  * FEEDS a cell-partitioned store under fixed trained centroids,
  * [[graft.streaming.StreamingOps.ivfDriftStream]] ALARMS when the
  * arriving occupancy mix drifts from the index-time baseline, and
  * [[graft.streaming.StreamingOps.compactIvfIndex]] keeps the file
  * count bounded — but when the alarm fires, moving to NEW centroids
  * was previously a hand-composed retrain + rewrite + reader cutover.
  * [[reindex]] does the three safely.
  *
  * Layout under one `storeDir`:
  * {{{
  *   storeDir/v=N/data/batchId=M/cell=K/part-….parquet   // the inverted file
  *   storeDir/v=N/centroids/part-….parquet               // the codebook that built it
  *   storeDir/v=N/codebooks/part-….parquet               // PQ codebooks (iff PQ-enabled)
  *   storeDir/versions/v-N                               // empty marker = N is publishable
  * }}}
  *
  * PQ-enabled versions (round 16) additionally carry the per-row
  * `c0..c{nSub-1}` PQ code columns INSIDE the data files, beside the
  * vector. Parquet is columnar, so the ADC serving scan
  * ([[topKPq]]) that selects only id + codes reads the 16-32x
  * smaller code leg and never pays for the vector bytes — "codes
  * beside vectors" costs nothing at read time and keeps every write
  * path (feeder, catch-up, compaction) a single table.
  *
  * Atomic cutover, from first principles of what object stores give
  * us: a version's data and codebook are written COMPLETELY first,
  * then a zero-byte marker `versions/v-N` is CREATED
  * ([[graft.streaming.VersionedDir]]'s marker-last rule: file creation
  * is the one atomic publish primitive that needs no rename-overwrite
  * semantics — HDFS rename won't clobber, S3 has no rename at all).
  * Readers resolve "live" as the max marker ONCE per call and then
  * touch only that version's directory; a reader that resolved v=N
  * keeps reading v=N intact no matter what a concurrent reindex
  * publishes (new versions only ADD directories), so every reader
  * sees old or new, never a mix. A half-written version has no marker
  * and is invisible.
  *
  * Filesystem contract: the marker AND claim protocol require an FS
  * whose `create(path, overwrite=false)` is an ATOMIC exclusive
  * create — true on HDFS, ABFS, GCS and local filesystems. Hadoop's
  * S3A implements it as a non-atomic existence check then PUT, so on
  * plain S3 two concurrent re-indexers could both win the claim;
  * deploy there with S3 conditional-PUT (If-None-Match) enabled in
  * the connector, or route claims through a coordination service.
  * The WORST outcome without it is a blended unpublished version —
  * readers of published versions are never affected, but the blend
  * could then be published.
  *
  * The re-assigned corpus lands under the reserved `batchId=-1`
  * bootstrap partition: feeder batchIds are >= 0, so a
  * `maintainIvfIndex` resumed against the new version's data dir —
  * fresh checkpoint or continued — keeps its replay discipline
  * (batchId-keyed overwrites) without ever colliding with the
  * re-indexed bulk.
  *
  * 100 TB shape: [[reindex]] costs `iters + 1` corpus scans (each
  * Lloyd round is one scan + a map-side-combined (cell, sum, count)
  * aggregation — [[Similarity.trainKMeans]]) plus one partitioned
  * rewrite whose only movement is the writerTasks hash shuffle; the
  * corpus is never joined or collected. Centroid tables are k rows
  * throughout. Old versions stay on disk for in-flight readers —
  * [[dropVersionsBelow]] prunes them once their readers drain.
  */
object IvfStore {

  /** Reserved bootstrap partition for re-indexed bulk — below every
    * feeder batchId, so stream replay can never overwrite it.
    */
  val BootstrapBatchId: Long = -1L

  def dataDir(storeDir: String, version: Long): String =
    s"$storeDir/v=$version/data"

  def centroidsDir(storeDir: String, version: Long): String =
    s"$storeDir/v=$version/centroids"

  def codebooksDir(storeDir: String, version: Long): String =
    s"$storeDir/v=$version/codebooks"

  /** The PQ geometry `(nSub, subDim)` of a codebooks frame —
    * `max(subspace) + 1` subspaces of `size(subvec)` dims each. One
    * config-sized aggregation (the codebooks table is nSub x codes
    * rows by construction). Fails loudly on an empty frame or on
    * ragged subvec lengths — both mean the frame is not a
    * [[Similarity.trainPqCodebooks]]-shaped codebook.
    */
  def geometryOf(codebooks: DataFrame): (Int, Int) = {
    val r = codebooks.agg(
      max(col("subspace")).cast("int").as("maxSub"),
      min(size(col("subvec"))).as("minDim"),
      max(size(col("subvec"))).as("maxDim"),
      count(lit(1)).as("n")).collect().head
    require(r.getLong(3) > 0, "codebooks frame is empty — no PQ geometry to derive")
    require(r.getInt(1) == r.getInt(2),
      s"codebooks carry ragged subvec lengths ${r.getInt(1)}..${r.getInt(2)} — not a PQ codebook")
    (r.getInt(0) + 1, r.getInt(1))
  }

  /** The PQ geometry `(nSub, subDim)` a store version was built with,
    * derived from its STORED codebooks — the store is SELF-DESCRIBING
    * (round 17): no consumption site needs (or accepts unvalidated)
    * caller-supplied geometry. One config-sized read at bind time.
    */
  def pqGeometry(spark: SparkSession, storeDir: String, version: Long): (Int, Int) = {
    require(hasPq(spark, storeDir, version),
      s"version $version of $storeDir stores no PQ codebooks — no geometry to derive")
    geometryOf(codebooksOf(spark, storeDir, version))
  }

  /** True iff `version` stores PQ codebooks (and therefore per-row
    * code columns) — written before publish, so on a published
    * version this is a stable property, not a race.
    */
  def hasPq(spark: SparkSession, storeDir: String, version: Long): Boolean =
    fsOf(spark, storeDir).exists(new Path(codebooksDir(storeDir, version)))

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live version: the highest published marker, or None on a
    * store nothing has been published into yet. Resolution reads one
    * small directory listing — resolve once per query/stream, then
    * bind to that version's directories.
    */
  def liveVersion(spark: SparkSession, storeDir: String): Option[Long] =
    versions(spark, storeDir).live

  /** The store's publish markers (`versions/v-N`). */
  private def versions(spark: SparkSession, storeDir: String): VersionedDir =
    new VersionedDir(spark, s"$storeDir/versions")

  /** Publish `version`: create its marker, making it the live version
    * iff it is the highest. Refuses to publish a version whose data or
    * centroids directory is missing — a marker must never point at a
    * half-written version (that would break the old-or-new reader
    * contract). Idempotent: re-publishing an already-marked version is
    * a no-op, so a crashed-and-retried reindex converges.
    */
  def publish(spark: SparkSession, storeDir: String, version: Long): Unit = {
    val fs = fsOf(spark, storeDir)
    Seq(dataDir(storeDir, version) -> "data",
        centroidsDir(storeDir, version) -> "centroids").foreach {
      case (d, what) => require(fs.exists(new Path(d)),
        s"publish($version): $what directory $d does not exist — " +
          "write the version completely before publishing its marker")
    }
    versions(spark, storeDir).publish(version)
  }

  /** Write `load` cell-assigned under `centroids` as version
    * `version` and publish it — the shared tail of [[reindex]], also
    * usable directly to stand up v=1 from an externally trained
    * codebook. Data lands partitioned by cell under the reserved
    * bootstrap batchId; the codebook is stored beside it so readers
    * and feeders always probe with exactly the centroids that built
    * the version. When `codebooks` is given (subspace: Int,
    * code: Int, subvec: numeric array — [[Similarity.trainPqCodebooks]]'s
    * shape), it is stored under the version too and every data row
    * additionally carries its `nSub` PQ codes, encoded against the
    * STORED codebooks in the same narrow pass as the cell assignment
    * — the compressed leg [[topKPq]] serves from. The PQ geometry is
    * DERIVED from the codebooks frame itself ([[geometryOf]]) — the
    * store records it implicitly and every reader re-derives it, so
    * no caller-supplied (nSub, subDim) can ever disagree with the
    * stored codes (round 17). Returns the row count written (the
    * bootstrap partition only — a re-bootstrap over a version that
    * already carries feeder batches reports its own rows, not the
    * directory total).
    */
  def bootstrap(load: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, storeDir: String, version: Long,
      codebooks: Option[DataFrame] = None): Long = {
    val spark = load.sparkSession
    centroids
      .select(col("cell").cast("int").as("cell"),
        col("ctr").cast("array<double>").as("ctr"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(centroidsDir(storeDir, version))
    codebooks.foreach(_
      .select(col("subspace").cast("int").as("subspace"),
        col("code").cast("int").as("code"), col("subvec"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(codebooksDir(storeDir, version)))
    val stored = centroidsOf(spark, storeDir, version)
    val assigned = Similarity.assignCells(load, stored, idCol, vecCol)
      .select(col("_id").as(idCol), col("_v").as(vecCol), col("cell"))
    withCodes(spark, assigned, storeDir, version, vecCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"${dataDir(storeDir, version)}/batchId=$BootstrapBatchId")
    publish(spark, storeDir, version)
    spark.read
      .parquet(s"${dataDir(storeDir, version)}/batchId=$BootstrapBatchId")
      .count()
  }

  /** Append the version's PQ code columns `c0..c{nSub-1}` to `rows`
    * (no-op on a version without codebooks) — one narrow projection
    * against the broadcast codebook array, the [[Similarity.pqEncode]]
    * move with the codes kept beside the full row. Geometry comes
    * from the version's OWN stored codebooks ([[pqGeometry]]).
    */
  private def withCodes(spark: SparkSession, rows: DataFrame,
      storeDir: String, version: Long, vecCol: String): DataFrame =
    if (!hasPq(spark, storeDir, version)) rows
    else {
      val (nSub, subDim) = pqGeometry(spark, storeDir, version)
      val cbs = Similarity.pqCodebookArray(codebooksOf(spark, storeDir, version))
      val codeCols = (0 until nSub).map(sIdx =>
        element_at(col("_codes"), sIdx + 1).as(s"c$sIdx"))
      rows.crossJoin(broadcast(cbs))
        .withColumn("_codes",
          graft.functions.pq.encodeCodes(col(vecCol), col("_cbs"), nSub, subDim))
        .select(rows.columns.map(col).toIndexedSeq ++ codeCols: _*)
    }

  /** THE RE-INDEX VERB: retrain k-means on `load` (the corpus the
    * store should now serve — typically the live version's corpus, or
    * it plus the drifted arrivals that fired the
    * [[graft.streaming.StreamingOps.ivfDriftStream]] alarm), rewrite
    * the store under the new codebook as version live+1, and cut
    * readers over atomically via the marker. Returns the new version
    * number.
    *
    * `gridUnits` is [[Similarity.trainKMeans]]'s reproducibility
    * snap; pass the same value the original training used so
    * re-indexing is a pure function of the data. After the cutover,
    * resume the feeder against `dataDir(storeDir, newVersion)` and
    * restart the drift monitor with `centroidsOf`/the re-indexed
    * corpus as its new baseline.
    *
    * `pqCodes > 0` makes the new version PQ-enabled: per-subspace
    * codebooks ([[Similarity.trainPqCodebooks]], `pqCodes` entries x
    * `nSub` subspaces of `subDim` dims) train on the same `load` and
    * every row stores its codes beside the vector — [[topKPq]] then
    * serves the compressed plan from this version. `load` is scanned
    * `iters + 1 + nSub * (pqIters + 1)` times total; persist it when
    * it is not already a materialized table.
    *
    * `staleClaimMs`: a claim whose version was never published and
    * whose file is older than this many milliseconds is treated as a
    * crashed writer's leftover and reclaimed automatically (see
    * [[reclaim]]). The default (Long.MaxValue) keeps the strict
    * behavior: any existing claim fails fast with the file named.
    */
  def reindex(load: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, dim: Int, storeDir: String, gridUnits: Long = 0L,
      pqCodes: Int = 0, nSub: Int = 8, subDim: Int = 8, pqIters: Int = 2,
      staleClaimMs: Long = Long.MaxValue): Long = {
    val spark = load.sparkSession
    val next = liveVersion(spark, storeDir).map(_ + 1L).getOrElse(1L)
    // single-writer guard: two concurrent reindexes would both resolve
    // `next` and Overwrite the same v=N directories, publishing a
    // BLEND of two writers' centroids and data (round-15 self-review).
    // An exclusive claim-file create — the same atomic primitive the
    // publish marker uses — makes the second writer fail fast instead.
    // (Requires atomic exclusive create — see the object docstring's
    // filesystem contract for the S3 caveat.)
    val claim = claimVersion(spark, storeDir, next, staleClaimMs)
    val fs = fsOf(spark, storeDir)
    val trained = Similarity.trainKMeans(load, idCol, vecCol, k, iters, dim, gridUnits)
    val cbs =
      if (pqCodes <= 0) None
      else Some(Similarity.trainPqCodebooks(load, idCol, vecCol, nSub, subDim,
        pqCodes, pqIters))
    bootstrap(load, trained, idCol, vecCol, storeDir, next, cbs)
    fs.delete(claim, false) // published: the claim has done its job
    next
  }

  /** Exclusive-create the claim for `version`, optionally auto-
    * reclaiming a stale one first — the single-writer guard shared by
    * every verb that writes a new version ([[reindex]],
    * [[compactVersion]]).
    *
    * The auto-reclaim path is TOCTOU-safe (round 17): two writers
    * that both age-check the same stale claim race not on delete (a
    * delete would also remove the OTHER writer's fresh claim after it
    * re-created one — the round-16 window) but on an atomic RENAME of
    * the stale claim file to a writer-unique tombstone. Rename of one
    * source path succeeds for exactly one caller on any rename-atomic
    * FS (the object docstring's filesystem contract), so exactly one
    * writer owns the reclaim; it then re-creates the claim FIRST —
    * holding exclusivity — and only then deletes the crashed writer's
    * half-written version directory. The loser's rename returns
    * false and it fails fast with the usual already-claimed error.
    */
  private def claimVersion(spark: SparkSession, storeDir: String,
      version: Long, staleClaimMs: Long): Path = {
    val claim = new Path(s"$storeDir/claims/v-$version")
    val fs = fsOf(spark, storeDir)
    fs.mkdirs(claim.getParent)
    if (fs.exists(claim) && staleClaimMs != Long.MaxValue &&
        !versions(spark, storeDir).published.contains(version)) {
      val age = System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
      if (age > staleClaimMs) {
        val tomb = staleTombstone(storeDir, version)
        if (fs.rename(claim, tomb)) {
          // we own the reclaim: take the claim BEFORE touching the
          // half-written directory, so no third writer can claim and
          // start writing a directory we are about to delete
          try fs.create(claim, false).close()
          catch {
            case e: java.io.IOException =>
              fs.delete(tomb, false)
              throw alreadyClaimed(claim, version, e)
          }
          fs.delete(new Path(s"$storeDir/v=$version"), true)
          fs.delete(tomb, false)
          return claim
        }
        // rename lost: another writer reclaimed first — fall through
        // to the exclusive create, which will fail with the remedy
      }
    }
    try fs.create(claim, false).close()
    catch {
      case e: java.io.IOException => throw alreadyClaimed(claim, version, e)
    }
    claim
  }

  private def staleTombstone(storeDir: String, version: Long): Path =
    new Path(s"$storeDir/claims/v-$version.stale." +
      java.util.UUID.randomUUID().toString)

  private def alreadyClaimed(claim: Path, version: Long,
      e: java.io.IOException): IllegalStateException =
    new IllegalStateException(
      s"version $version is already claimed by another writer ($claim exists) — " +
        s"if that writer crashed before publishing, run reclaim(storeDir, $version) " +
        "(or pass staleClaimMs) and retry", e)

  /** VERSION-SAFE COMPACTION (round 16): rewrite the live version's
    * accreted batchId directories into version live+1 with a bounded
    * file count, copying the centroids (and codebooks, when PQ) so
    * the new version is self-contained, and cut readers over by the
    * same atomic marker every other writer uses — in-flight readers
    * keep their version, the old one is [[dropVersionsBelow]] fodder
    * once they drain. Unlike
    * [[graft.streaming.StreamingOps.compactIvfIndex]] (which targets
    * a plain feeder dir and needs a stop-the-world swap), this never
    * mutates a directory a reader could hold. By default batchId
    * partitions are PRESERVED, so a feeder resumed against the new
    * version with its continued checkpoint keeps its replay
    * discipline unchanged. Claims exclude concurrent writers exactly
    * as in [[reindex]]. Returns the new version number.
    *
    * `foldBatchesUpTo` (round 17 — measured: preserving every batchId
    * caps files per partition but the DIRECTORY count still grows one
    * per batch, and the serving scan's listing cost with it; see
    * SCALE.md's storeCompaction probe): batchIds at or below this
    * value are RE-KEYED to the reserved bootstrap partition in the
    * new version, collapsing their directories into one. Safe under
    * the same contract catchUp already imposes: the resumed feeder's
    * CONTINUED checkpoint commits batchIds strictly beyond what it
    * already wrote, so a folded batch can never be replayed into the
    * new version unless the checkpoint is reset (the documented
    * failure mode). Pass `maxBatchId(spark, storeDir, live)` to fold
    * everything committed so far; leave the default to preserve all.
    *
    * Feeder coordination: compaction is a snapshot of the data dir's
    * call-time contents. A feeder still writing into the OLD version
    * during the compaction would strand its new batches there —
    * pause it across the (fast) rewrite, or heal MECHANICALLY
    * (round 17): `catchUp(storeDir, v, next, afterBatchId =
    * maxBatchId(spark, storeDir, next))` migrates exactly the batches
    * the snapshot missed (batchId partitions are preserved, so the
    * new version's max batchId IS the snapshot boundary), and
    * [[strandedBatchIds]] audits that nothing is left behind before
    * [[dropVersionsBelow]]. The heal is safe in the FOLDING case too
    * (round 18): a fold collapses batch dirs into the bootstrap
    * partition, so `maxBatchId(next)` alone would under-state the
    * boundary — the fold records itself in the new version
    * ([[foldBoundary]]) and catchUp/strandedBatchIds floor their
    * afterBatchId with it, so folded batches can never be re-migrated
    * as duplicates.
    */
  def compactVersion(spark: SparkSession, storeDir: String,
      writerTasks: Int = 0, staleClaimMs: Long = Long.MaxValue,
      foldBatchesUpTo: Long = Long.MinValue): Long = {
    val v = requireLive(spark, storeDir)
    val next = v + 1L
    val claim = claimVersion(spark, storeDir, next, staleClaimMs)
    val fs = fsOf(spark, storeDir)
    val tasks = if (writerTasks > 0) writerTasks
      else spark.sparkContext.defaultParallelism
    spark.read.parquet(centroidsDir(storeDir, v))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(centroidsDir(storeDir, next))
    if (hasPq(spark, storeDir, v))
      spark.read.parquet(codebooksDir(storeDir, v))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(codebooksDir(storeDir, next))
    val data = spark.read.parquet(dataDir(storeDir, v)) // batchId + cell discovered
    val folded =
      if (foldBatchesUpTo == Long.MinValue) data
      else data.withColumn("batchId",
        when(col("batchId") <= foldBatchesUpTo, lit(BootstrapBatchId))
          .otherwise(col("batchId").cast("long")))
    folded
      .repartition(tasks, col("batchId"), col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("batchId", "cell")
      .parquet(dataDir(storeDir, next))
    // a FOLDING compaction records its boundary IN the new version
    // (round 18): after a full fold the new version's only batch dir
    // is the bootstrap id, so maxBatchId(next) = bootstrap and the
    // documented mechanical heal (catchUp with that as afterBatchId)
    // would re-migrate every folded batch — duplicating rows the fold
    // already moved into the bootstrap partition. [[foldBoundary]]
    // makes the boundary self-describing (the PQ-geometry
    // discipline); [[catchUp]]/[[strandedBatchIds]] floor their
    // afterBatchId with it automatically.
    if (foldBatchesUpTo != Long.MinValue)
      folds(spark, storeDir, next).publish(foldBatchesUpTo)
    publish(spark, storeDir, next)
    fs.delete(claim, false)
    next
  }

  /** The fold boundary a FOLDING [[compactVersion]] recorded in
    * `version` (the `foldBatchesUpTo` it was built with), or None on
    * a version produced without folding. Feeder batches at or below
    * this boundary were re-keyed into the version's bootstrap
    * partition — they are NOT missing and must never be re-migrated.
    * One directory listing, no data read.
    */
  def foldBoundary(spark: SparkSession, storeDir: String,
      version: Long): Option[Long] =
    folds(spark, storeDir, version).live

  /** A version's recorded fold boundaries (`v=N/fold-M` markers). */
  private def folds(spark: SparkSession, storeDir: String,
      version: Long): VersionedDir =
    new VersionedDir(spark, s"$storeDir/v=$version", prefix = "fold-")

  /** Recover from a CRASHED reindex without filesystem surgery
    * (round 16; rename-serialized round 17): remove `version`'s
    * leftover claim file and its half-written `v=N` directory so the
    * next [[reindex]] can claim it again. Refuses a PUBLISHED version
    * — its claim is gone by construction and its directories belong
    * to readers. Safe by the unpublished-invisible invariant: no
    * reader can hold an unpublished version, so deleting its
    * directories affects no one.
    *
    * Concurrency: the claim is first atomically RENAMED to a
    * caller-unique tombstone — of two racing reclaimers exactly one
    * wins the rename, the other fails loudly — then the winner
    * RE-CREATES the claim (excluding any writer from starting on the
    * version mid-surgery), deletes the half-written directory, and
    * finally releases both the tombstone and the claim. A writer that
    * claimed the version between the rename and the re-create makes
    * the re-create fail: the reclaim aborts without touching the
    * directory that writer now owns.
    */
  def reclaim(spark: SparkSession, storeDir: String, version: Long): Unit = {
    val fs = fsOf(spark, storeDir)
    require(!versions(spark, storeDir).published.contains(version),
      s"version $version is published — its claim cannot be stale; nothing to reclaim")
    val claim = new Path(s"$storeDir/claims/v-$version")
    fs.mkdirs(claim.getParent)
    if (fs.exists(claim)) {
      val tomb = staleTombstone(storeDir, version)
      if (!fs.rename(claim, tomb))
        throw new IllegalStateException(
          s"another process is concurrently reclaiming version $version of $storeDir — retry")
      try fs.create(claim, false).close()
      catch {
        case e: java.io.IOException =>
          fs.delete(tomb, false)
          throw new IllegalStateException(
            s"a writer claimed version $version mid-reclaim — its directories are " +
              "live, nothing was deleted", e)
      }
      fs.delete(tomb, false)
    } else {
      // no claim on disk (the crashed writer died after deleting it,
      // or never claimed): still take the claim before surgery so a
      // concurrent writer cannot start on the directory being deleted
      try fs.create(claim, false).close()
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"a writer claimed version $version mid-reclaim — its directories are " +
              "live, nothing was deleted", e)
      }
    }
    fs.delete(new Path(s"$storeDir/v=$version"), true)
    fs.delete(claim, false)
  }

  /** Close the feed gap a reindex leaves (round 15): while
    * [[reindex]] retrains, the feeder can KEEP writing to the old
    * version — pick a boundary batchId N, reindex over
    * `spark.read.parquet(dataDir(old)).filter(col("batchId") <= N)`,
    * and then migrate the arrivals the snapshot missed: every
    * `batchId > afterBatchId` directory of `fromVersion` is
    * re-assigned under `toVersion`'s STORED codebook and written into
    * `toVersion` under its ORIGINAL batchId (overwrite — the feeder's
    * own replay discipline, so re-running a crashed catch-up
    * converges). Ingestion pauses only for this migration (bounded by
    * the retrain window's arrivals), not for the retrain itself.
    * Resume the feeder against the new version with its CONTINUED
    * checkpoint — its next batchIds are beyond the migrated ones by
    * construction; a FRESH checkpoint would restart at batchId 0 and
    * overwrite a migrated directory.
    *
    * The boundary is EXPLICIT (`afterBatchId` = the N the snapshot
    * included) rather than inferred from directory listings: a racy
    * "whatever is in old but not new" rule would double-count batches
    * the snapshot already folded into the bootstrap partition.
    * Returns the number of rows migrated.
    *
    * ONE job migrates everything (round 16 — the verb exists to
    * minimize the ingestion pause, so its cost must not grow as 2
    * driver-coordinated jobs per pending directory): all pending
    * batchIds read in one multi-path scan that keeps `batchId` as a
    * partition column, one re-assign (and, on a PQ-enabled target
    * version, one re-encode under the NEW codebooks), one
    * dynamic-partition-overwrite write partitioned by
    * (batchId, cell). Dynamic mode touches only the partitions the
    * frame carries — the bootstrap partition and any batches already
    * beyond the window stay intact, and a re-run of a crashed
    * catch-up overwrites exactly its own directories (the feeder's
    * replay discipline). The count comes from the migrated frame
    * itself, persisted across the write, not a directory re-scan.
    */
  def catchUp(spark: SparkSession, storeDir: String, fromVersion: Long,
      toVersion: Long, afterBatchId: Long, idCol: String = "",
      vecCol: String = ""): Long = {
    require(afterBatchId >= BootstrapBatchId,
      s"afterBatchId must be >= $BootstrapBatchId, got $afterBatchId")
    val from = new Path(dataDir(storeDir, fromVersion))
    val fs = fsOf(spark, storeDir)
    require(fs.exists(from), s"no data under version $fromVersion at $from")
    val ctrs = centroidsOf(spark, storeDir, toVersion)
    // the caller's boundary is FLOORED by the target version's
    // recorded fold boundary (round 18): batches a folding compaction
    // re-keyed into the bootstrap partition are already in toVersion
    // under a different batchId, so migrating them again — which the
    // otherwise-correct heal `afterBatchId = maxBatchId(next)` would
    // do after a full fold (maxBatchId = bootstrap) — duplicates rows
    val boundary = math.max(afterBatchId,
      foldBoundary(spark, storeDir, toVersion).getOrElse(BootstrapBatchId))
    val pending = batchIdsOf(spark, storeDir, fromVersion).filter(_ > boundary)
    if (pending.isEmpty) return 0L
    val rows = spark.read
      .option("basePath", dataDir(storeDir, fromVersion))
      .parquet(pending.map(b => s"${dataDir(storeDir, fromVersion)}/batchId=$b"): _*)
    // (id, vec) come from the CALLER when given (round-17 ADVICE —
    // callers know their columns; schema-sniffing a store whose id is
    // literally named like `c1` mis-classifies it as a derived code
    // column). The sniff survives as the no-args convenience AND as
    // validation of explicit names.
    val derived = Set("cell", "batchId") ++ rows.columns.filter(_.matches("c\\d+"))
    val (useId, useVec) =
      if (idCol.nonEmpty || vecCol.nonEmpty) {
        require(idCol.nonEmpty && vecCol.nonEmpty,
          s"pass BOTH idCol and vecCol or neither, got (idCol='$idCol', vecCol='$vecCol')")
        Seq(idCol, vecCol).foreach(c => require(rows.columns.contains(c),
          s"column '$c' not present in pending batches (have ${rows.columns.mkString(",")})"))
        require(rows.schema(vecCol).dataType.typeName == "array",
          s"vecCol '$vecCol' is not an array column")
        (idCol, vecCol)
      } else {
        val cols = rows.columns.filterNot(derived.contains)
        require(cols.length == 2,
          s"pending batches carry unexpected columns ${cols.mkString(",")} — " +
            "expected (id, vec); pass idCol/vecCol explicitly if your columns " +
            "collide with the derived-name sniff")
        val arrays = cols.filter(c => rows.schema(c).dataType.typeName == "array")
        require(arrays.length == 1,
          s"cannot orient (id, vec) among ${cols.mkString(",")} — " +
            s"${arrays.length} array columns; pass idCol/vecCol explicitly")
        (cols.find(_ != arrays.head).get, arrays.head)
      }
    // the assignCells argmin inlined so batchId rides along (the
    // helper projects it away): same broadcast one-row centroid
    // array, same narrow fold, zero corpus shuffle
    val assigned = rows.select(col(useId), col(useVec), col("batchId"))
      .crossJoin(broadcast(Similarity.centroidArray(ctrs)))
      .withColumn("cell",
        Similarity.nearestCentroid(col(useVec), col("_ctrs")).getField("cell"))
      .select(col(useId), col(useVec), col("batchId"), col("cell"))
    val toPq = hasPq(spark, storeDir, toVersion)
    val nSubTo = if (toPq) pqGeometry(spark, storeDir, toVersion)._1 else 0
    val coded = withCodes(spark, assigned, storeDir, toVersion, useVec)
      .select((Seq(useId, useVec) ++
        (if (toPq) (0 until nSubTo).map(i => s"c$i") else Nil) ++
        Seq("batchId", "cell")).map(col): _*)
      .persist()
    try {
      coded.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batchId", "cell")
        .parquet(dataDir(storeDir, toVersion))
      coded.count() // served from the persisted frame the write produced
    } finally { coded.unpersist(); () }
  }

  /** The live version's inverted file (carries `cell` and `batchId`
    * partition columns). Binds to the version that is live AT CALL
    * TIME — the old-or-new contract.
    */
  def readCorpus(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(dataDir(storeDir, requireLive(spark, storeDir)))

  /** The live version's codebook (cell: Int, ctr: Array[Double]). */
  def readCentroids(spark: SparkSession, storeDir: String): DataFrame =
    centroidsOf(spark, storeDir, requireLive(spark, storeDir))

  def centroidsOf(spark: SparkSession, storeDir: String, version: Long): DataFrame =
    spark.read.parquet(centroidsDir(storeDir, version))

  /** The live version's PQ codebooks (subspace, code, subvec) —
    * fails on a version bootstrapped without PQ.
    */
  def readCodebooks(spark: SparkSession, storeDir: String): DataFrame =
    codebooksOf(spark, storeDir, requireLive(spark, storeDir))

  def codebooksOf(spark: SparkSession, storeDir: String, version: Long): DataFrame =
    spark.read.parquet(codebooksDir(storeDir, version))

  private def requireLive(spark: SparkSession, storeDir: String): Long =
    liveVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(
        s"no published version under $storeDir — bootstrap or reindex first"))

  /** Serve top-k from the live store: resolve the version ONCE, rank
    * the probed cells per query against the version's own codebook
    * (the [[Similarity.ivfTopK]] query-side shape — its shuffle is
    * bounded by |queries| x k cells), then COLLECT the probed cell
    * set (<= |queries| x nprobe ints, small by the same contract) and
    * read the inverted file through a literal `cell IN (...)` filter —
    * the collected set is what turns the probe into parquet
    * PartitionFilters, so the scan touches only probed cells' files
    * across every batchId directory. Exact cosine + per-query top-k
    * over the candidates: the probe and the rank are ivfTopK's own
    * ([[Similarity.probeCells]], [[Similarity.cellCosineTopK]]).
    */
  def topK(spark: SparkSession, storeDir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    topKOf(spark, storeDir, requireLive(spark, storeDir), queries,
      idCol, vecCol, k, nprobe)

  /** [[topK]] pinned to an explicit PUBLISHED version — the binding
    * primitive streaming serving needs: resolve `liveVersion` once
    * per trigger, then serve the whole micro-batch against that
    * version no matter what a concurrent reindex publishes mid-batch
    * (see [[graft.streaming.StreamingOps.serveTopKStream]]).
    */
  def topKOf(spark: SparkSession, storeDir: String, version: Long,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val queryCells = probeCells(spark, storeDir, version, queries, idCol, vecCol, nprobe)
    val probed = probedSet(queryCells)
    val corpusCells = spark.read.parquet(dataDir(storeDir, version))
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"), col("cell"))
    Similarity.cellCosineTopK(queryCells, corpusCells, k)
  }

  /** The per-query probe list (query_id, _qv, cell) against version
    * `v`'s stored centroids — shared by [[topK]] and [[topKPq]]. The
    * caller's `queries` frame is COLLECTED once (small by the serving
    * contract) and rebuilt as a LocalRelation: the probe derivation
    * and the candidate join both consume the same materialized rows,
    * so a nondeterministic query source cannot yield a probe set that
    * disagrees with the join side, and the caller's plan never
    * executes twice (round-15 ADVICE).
    */
  private def probeCells(spark: SparkSession, storeDir: String, v: Long,
      queries: DataFrame, idCol: String, vecCol: String,
      nprobe: Int): DataFrame = {
    val qRows = Similarity.queryVecs(queries, idCol, vecCol)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(qRows.collect(): _*), qRows.schema)
    Similarity.probeCells(local, centroidsOf(spark, storeDir, v), nprobe)
  }

  /** The distinct probed-cell set, collected (<= |queries| x nprobe
    * ints, small by the serving contract) so the data scan can take
    * it as a LITERAL `cell IN (...)` filter — which the parquet
    * source turns into PartitionFilters: only probed cells' files are
    * ever listed or read, across every batchId directory.
    */
  private def probedSet(queryCells: DataFrame): Seq[Int] =
    queryCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Serve top-k COMPRESSED from the live store (round 16): the
    * [[Similarity.ivfPqTopK]] plan over the STORED codes — (1) probe
    * each query's `nprobe` nearest cells against the live version's
    * centroids, (2) ADC-score the probed cells' code columns against
    * a broadcast integer-quantized distance table built from the live
    * version's STORED codebooks, (3) exact-L2 re-rank the `shortlist`
    * survivors from the probed cells' vectors. Each step is
    * ivfPqTopK's own ([[Similarity.probeCells]],
    * [[Similarity.adcTable]], [[Similarity.adcShortlist]] with its
    * completeness guard, [[Similarity.exactRerank]]); this supplies
    * the version binding and the cell-pruned scans.
    *
    * THE 100 TB point: the ADC leg selects only id + the `nSub` int
    * code columns, so the columnar scan reads the 16-32x smaller code
    * leg of the probed cells — the vector column's bytes are touched
    * only by the shortlist re-rank fetch (|queries| x shortlist
    * rows). [[topK]] reads full-width vectors for every candidate in
    * the probed cells; this reads them for the shortlist only.
    * Version binding, probe collection, and the old-or-new contract
    * are exactly [[topK]]'s.
    */
  def topKPq(spark: SparkSession, storeDir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int, shortlist: Int,
      nSub: Int = 0, subDim: Int = 0): DataFrame =
    topKPqOf(spark, storeDir, requireLive(spark, storeDir), queries,
      idCol, vecCol, k, nprobe, shortlist, nSub, subDim)

  /** [[topKPq]] pinned to an explicit published version — see
    * [[topKOf]] for why the pin exists.
    *
    * Geometry is SELF-DESCRIBED (round 17): `(nSub, subDim)` derive
    * from the version's own stored codebooks ([[pqGeometry]]) — a
    * store built with any geometry serves correctly with no geometry
    * args. Explicit values (when > 0) are VALIDATED against the
    * stored geometry and fail loudly on mismatch, never silently
    * serve a degraded shortlist from a prefix of the code columns.
    */
  def topKPqOf(spark: SparkSession, storeDir: String, version: Long,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int, shortlist: Int, nSubReq: Int = 0,
      subDimReq: Int = 0): DataFrame = {
    require(k >= 1 && shortlist >= k && nprobe >= 1,
      s"need 1 <= k <= shortlist and nprobe >= 1, got (k=$k, shortlist=$shortlist, nprobe=$nprobe)")
    val v = version
    require(hasPq(spark, storeDir, v),
      s"version $v of $storeDir stores no PQ codebooks — bootstrap/reindex with PQ " +
        "or serve exact with topK")
    val (nSub, subDim) = pqGeometry(spark, storeDir, v)
    require(nSubReq <= 0 || nSubReq == nSub,
      s"requested nSub=$nSubReq but version $v stores nSub=$nSub codebooks")
    require(subDimReq <= 0 || subDimReq == subDim,
      s"requested subDim=$subDimReq but version $v stores subDim=$subDim codebooks")
    val queryCells = probeCells(spark, storeDir, v, queries, idCol, vecCol, nprobe)
    val probed = probedSet(queryCells)
    val probes = queryCells.select(col("query_id"), col("cell"))
    val qvecs = queryCells.select(col("query_id"), col("_qv")).distinct()
    // one scan per leg, so each leg's projection prunes its own columns
    def probedCells = spark.read.parquet(dataDir(storeDir, v))
      .filter(col("cell").isin(probed: _*))
    // ADC leg: codes-only scan of the probed cells (id + nSub ints —
    // the vector column is pruned away by the projection)
    val codeRows = probedCells
      .select(col(idCol).as("neighbor_id") +: col("cell") +:
        (0 until nSub).map(i => col(s"c$i")): _*)
      .select(col("neighbor_id"), col("cell"), Similarity.codeCells(nSub))
    val short = Similarity.adcShortlist(codeRows.join(broadcast(probes), "cell"),
      Similarity.adcTable(qvecs, codebooksOf(spark, storeDir, v), subDim), nSub, shortlist)
    // exact re-rank: vectors fetched ONLY for probed cells, joined to
    // the shortlist — |queries| x shortlist full-width rows move
    Similarity.exactRerank(short,
      probedCells.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv")), qvecs, k)
  }

  /** The batchId directories present under a version's data dir —
    * one listing, no data read.
    */
  private def batchIdsOf(spark: SparkSession, storeDir: String,
      version: Long): Seq[Long] = {
    val dir = new Path(dataDir(storeDir, version))
    val fs = fsOf(spark, storeDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("batchId="))
      .flatMap(n => n.stripPrefix("batchId=").toLongOption)
      .toSeq.sorted
  }

  /** The highest batchId stored under `version` (the reserved
    * bootstrap id when no feeder batch has landed) — after a
    * [[compactVersion]], this IS the snapshot boundary to pass
    * [[catchUp]] as `afterBatchId`, because compaction preserves
    * batchId partitions. After a FOLDING compaction this under-states
    * the boundary (folded dirs collapse to the bootstrap id), but
    * catchUp/strandedBatchIds floor it with the recorded
    * [[foldBoundary]], so the recipe stays safe. Fails on a version
    * with no data directory.
    */
  def maxBatchId(spark: SparkSession, storeDir: String, version: Long): Long = {
    val ids = batchIdsOf(spark, storeDir, version)
    require(ids.nonEmpty, s"version $version of $storeDir has no batchId directories")
    ids.max
  }

  /** BatchIds present under `fromVersion` but missing from
    * `toVersion` — the post-cutover audit that nothing a still-running
    * feeder wrote into the old version is about to be dropped
    * (round-17 ADVICE: compaction/reindex coordination with a live
    * feeder was convention-only; this makes it checkable). Empty means
    * the old version is safe to [[dropVersionsBelow]]; non-empty names
    * exactly the batches to [[catchUp]]. One directory listing per
    * version, no data read. Only batchIds STRICTLY ABOVE
    * `afterBatchId` count: after a COMPACTION (batchIds preserved)
    * the default — every feeder batch — is right; after a REINDEX
    * over a `batchId <= N` snapshot, pass N. A FOLDING compaction's
    * boundary is applied AUTOMATICALLY (round 18): the fold records
    * itself in the new version ([[foldBoundary]]) and this audit
    * floors `afterBatchId` with it.
    */
  def strandedBatchIds(spark: SparkSession, storeDir: String,
      fromVersion: Long, toVersion: Long,
      afterBatchId: Long = BootstrapBatchId): Seq[Long] = {
    // floored by toVersion's recorded fold boundary (round 18, the
    // catchUp rule): folded batches live in the bootstrap partition,
    // so their original ids are absent from toVersion's listing but
    // NOT stranded
    val boundary = math.max(afterBatchId,
      foldBoundary(spark, storeDir, toVersion).getOrElse(BootstrapBatchId))
    val to = batchIdsOf(spark, storeDir, toVersion).toSet
    batchIdsOf(spark, storeDir, fromVersion)
      .filter(b => b > boundary && !to.contains(b))
  }

  /** Prune versions strictly below `keepFrom` (each marker, then its
    * directory) — run once in-flight readers of the old
    * version have drained. Refuses a `keepFrom` above the live
    * version: that off-by-one (`live + 1` read as "drop below the
    * next one") would delete EVERY version including the live one
    * and leave resolution undefined — the guard makes the docstring's
    * invariant real (round-15 self-review).
    */
  def dropVersionsBelow(spark: SparkSession, storeDir: String,
      keepFrom: Long): Unit = {
    val vd = versions(spark, storeDir)
    val live = vd.live
    require(live.forall(_ >= keepFrom),
      s"dropVersionsBelow(keepFrom=$keepFrom) would delete the live version " +
        s"(${live.get}) — pass keepFrom <= liveVersion")
    vd.prune(keepFrom, v => s"$storeDir/v=$v")
  }
}
