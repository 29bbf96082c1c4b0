package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Marker-last version publishing — the one rule behind every versioned
  * directory here ([[graft.operators.IvfStore]]'s `versions/v-N`,
  * [[StreamingOps.publishEvalGrams]]'s `_published/v-N`, the
  * [[StreamingOps.maintainAggStream]] MV's `_published/v-N`):
  *
  *  - a version's data is written COMPLETELY first, then a zero-byte
  *    marker `markerDir/<prefix>N` is CREATED last (file creation is
  *    the one atomic publish primitive that needs no rename-overwrite
  *    semantics — HDFS rename won't clobber, S3 has no rename at all);
  *  - readers trust ONLY marked versions, so a half-written version —
  *    a crash mid-write, or a writer racing the reader — is invisible;
  *  - published versions are IMMUTABLE: re-publishing is a no-op, so a
  *    crashed-and-retried publish converges;
  *  - [[prune]] reverses [[publish]]: marker first, then data, so a
  *    reader never resolves a version whose files are being deleted.
  *
  * Every operation is one small directory listing or one create; no
  * data is read.
  */
private[graft] final class VersionedDir(spark: SparkSession, markerDir: String,
    prefix: String = "v-") {
  private val dir = new Path(markerDir)
  private val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def marker(v: Long) = new Path(dir, s"$prefix$v")

  /** Publish `v` — call only after its data is complete. */
  def publish(v: Long): Unit = {
    fs.mkdirs(dir)
    if (!fs.exists(marker(v))) fs.create(marker(v), false).close()
  }

  /** Every published version, ascending. */
  def published: Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption).sorted

  /** The live version: the highest published marker. */
  def live: Option[Long] = published.lastOption

  /** Unpublish and delete every version below `below`: marker first,
    * then its data directory `dataDir(v)`.
    */
  def prune(below: Long, dataDir: Long => String): Unit =
    published.filter(_ < below).foreach { v =>
      fs.delete(marker(v), false)
      fs.delete(new Path(dataDir(v)), true)
    }
}
