package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Checks one delivery round's output directories against the generated
  * input, with plain file reads (no Spark):
  *  - each data record's primary/ bytes equal its independently computed
  *    payload, delivered exactly once (for churn: once the loop drains);
  *  - processing-failed/ holds exactly the CONTROL_MESSAGE records;
  *  - backup/ holds every original record exactly once.
  * It also counts what the re-ingest loop did and where each record landed.
  */
object Check {
  final case class Outcome(
      attempted: Int, failed: Int, problems: Seq[String],
      landed: Map[String, Long], // record id -> batch whose primary/ holds it
      ok: Int, dropped: Int, failedRecs: Int,
      reingestRows: Long, reingestDepth: Int,
      primaryBytes: Long, primaryFiles: Int, backupBytes: Long)

  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq

  private def batchOf(root: Path, f: Path): Long =
    root.relativize(f).getName(0).toString.stripPrefix("batchId=").toLong

  private def ids(lines: Iterator[String]): Iterator[String] = lines.filter(_.nonEmpty).map { l =>
    val i = l.indexOf("\"recordId\":\"") + 12
    l.substring(i, l.indexOf('"', i))
  }

  def run(recs: Array[Inputs.Rec], output: Path, input: Path): Outcome = {
    val byId = recs.map(r => r.id -> r).toMap
    val want = recs.filter(!_.control).map(r => r.id -> Inputs.hash(r.expected)).toMap
    val problems = mutable.ArrayBuffer[String]()
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    val landed = mutable.Map[String, Long]()
    val primary = output.resolve("primary")
    val pFiles = dataFiles(primary)
    var primaryBytes = 0L
    for (f <- pFiles) {
      primaryBytes += Files.size(f)
      val batch = batchOf(primary, f)
      var cur: String = null
      val block = new StringBuilder
      def flush(): Unit = if (cur != null) {
        if (want.get(cur).contains(Inputs.hash(block.toString))) {
          seen(cur) += 1
          landed(cur) = batch
        } else problems += s"primary block for '$cur' in batch $batch does not match its input"
        block.clear()
      }
      Files.readAllLines(f, UTF_8).asScala.iterator.foreach { line =>
        val id = line.substring(0, math.max(0, line.indexOf(':')))
        if (id != cur) { flush(); cur = id } else block.append('\n')
        block.append(line)
      }
      flush()
    }
    val failedIds = dataFiles(output.resolve("processing-failed"))
      .flatMap(f => ids(Files.readAllLines(f, UTF_8).asScala.iterator).toSeq)
    val failedCount = failedIds.groupBy(identity).map { case (k, v) => k -> v.size }
    val backup = dataFiles(output.resolve("backup"))
    val backupIds = backup.flatMap(f => ids(Files.readAllLines(f, UTF_8).asScala.iterator).toSeq)
    val backupCount = backupIds.filterNot(_.startsWith("reingest-"))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val reingested = dataFiles(input).filter(_.toString.contains("reingest-batch-"))
      .flatMap(f => ids(Files.readAllLines(f, UTF_8).asScala.iterator).toSeq)
    def original(id: String): String = id.replaceAll("^(reingest-\\d+-)+", "")
    var failed = 0
    for (r <- recs) {
      val bad =
        if (r.control) seen(r.id) != 0 || failedCount.getOrElse(r.id, 0) != 1
        else seen(r.id) != 1 || failedCount.contains(r.id)
      val badBackup = backupCount.getOrElse(r.id, 0) != 1
      if (bad || badBackup) {
        failed += 1
        if (problems.size < 20) problems +=
          s"record ${r.id}: primary x${seen(r.id)}, failed x${failedCount.getOrElse(r.id, 0)}, " +
            s"backup x${backupCount.getOrElse(r.id, 0)}"
      }
    }
    val strays = (seen.keySet ++ failedCount.keySet ++ backupCount.keySet).count(!byId.contains(_))
    if (strays > 0) problems += s"$strays output ids match no input record"
    Outcome(
      attempted = recs.length, failed = failed + strays, problems = problems.toSeq,
      landed = landed.toMap,
      ok = recs.count(r => !r.control && seen(r.id) == 1),
      dropped = reingested.map(original).distinct.size,
      failedRecs = failedCount.values.sum,
      reingestRows = reingested.size.toLong,
      reingestDepth = if (reingested.isEmpty) 0
        else reingested.map(_.split("reingest-", -1).length - 1).max,
      primaryBytes = primaryBytes, primaryFiles = pFiles.size,
      backupBytes = backup.map(Files.size).sum)
  }
}
