package graft

import java.nio.file.{Files, Paths}
import java.util.Base64

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.CodecUtil
import graft.streaming.{FirehoseDelivery, RecordSink, StreamingOps}

/** Shared JVM state (local-mode executors) for the record-granular
  * re-ingest e2e: putBatch call log + the input dir successes are
  * routed back into.
  */
object ReingestSinkState {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]
  @volatile var inputDir: String = _
  def reset(dir: String): Unit = { calls.clear(); attempts.clear(); inputDir = dir }
}

/** Record-granular re-ingest sink: fails records whose id contains
  * `failSubstr` for their first `failTimes` attempts; delivered records
  * are appended back into the stream's input dir as wire-format JSON
  * lines (the reference's put_record_batch routes Dropped data back
  * into the Firehose stream, main.py:148-151).
  */
class FlakyReingestSink(failSubstr: String, failTimes: Int)
    extends RecordSink.BatchSink {
  override def putBatch(records: Seq[RecordSink.Record]): Seq[Option[String]] = {
    ReingestSinkState.calls.add(records.map(_.recordId))
    val results = records.map { r =>
      val n = ReingestSinkState.attempts
        .computeIfAbsent(r.recordId, _ => new java.util.concurrent.atomic.AtomicInteger(0))
        .getAndIncrement()
      if (r.recordId.contains(failSubstr) && n < failTimes)
        Some("ServiceUnavailableException")
      else None
    }
    val ok = records.zip(results).collect { case (r, None) => r }
    if (ok.nonEmpty) {
      val lines = ok.map(r => s"""{"recordId":"${r.recordId}","data":"${r.data}"}""")
      Files.createDirectories(Paths.get(ReingestSinkState.inputDir))
      Files.write(
        Paths.get(ReingestSinkState.inputDir, s"reingest-${java.util.UUID.randomUUID()}.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    results
  }
}

/** At-least-once failure model: every successful putBatch lands its
  * records in the input dir TWICE (two files, same content — a sink
  * whose ack was lost and which re-delivered). The effectively-once
  * read-back dedup must collapse them; the default config must not.
  */
class DoubleDeliverySink extends RecordSink.BatchSink {
  override def putBatch(records: Seq[RecordSink.Record]): Seq[Option[String]] = {
    val lines = records.map(r => s"""{"recordId":"${r.recordId}","data":"${r.data}"}""")
    Files.createDirectories(Paths.get(ReingestSinkState.inputDir))
    (1 to 2).foreach { _ =>
      Files.write(
        Paths.get(ReingestSinkState.inputDir, s"reingest-${java.util.UUID.randomUUID()}.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    records.map(_ => None)
  }
}

/** End-to-end streaming smoke mirroring the reference's `make test`
  * (put_test_log_to_log_stream.sh): inject a wire-format record, run
  * the delivery query, observe the three sink prefixes + re-ingest loop.
  */
class StreamingSpec extends SparkSpec {
  import Fixtures._

  private def tmp(): String = tmpDir("graft-stream")

  private def writeRecords(dir: String, file: String, recs: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = recs.map { case (id, data) => s"""{"recordId":"$id","data":"$data"}""" }
    Files.write(Paths.get(dir, file), lines.mkString("\n").getBytes("UTF-8"))
  }

  private def runOnce(conf: FirehoseDelivery.Config): Unit = {
    val q = FirehoseDelivery.start(spark, conf)
    q.awaitTermination(120000)
    assert(!q.isActive)
  }

  test("e2e: Hello record delivered transformed to primary, raw to backup, nothing failed") {
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck", availableNow = true)
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello Firehose! 2026-08-12")))))
    runOnce(conf)
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0))
    assert(primary.toSeq == Seq("Hell Yeah Firehose! 2026-08-12"))
    val backup = spark.read.json(conf.backupDir)
    assert(backup.count() == 1 && backup.select("recordId").head().getString(0) == "r1")
    val failed = spark.read.json(conf.failedDir)
    assert(failed.isEmpty || failed.count() == 0)
  }

  test("batch replay is idempotent: re-running processBatch(id) leaves one copy per sink") {
    // checkpoint recovery re-runs the last uncommitted batch with the
    // SAME batchId — the exactly-once story depends on every sink
    // write being an overwrite keyed by that id (SCALE.md "idempotent
    // under replay"). Drive processBatch directly, twice.
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck", availableNow = true)
    writeRecords(s"$base/raw", "b.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello replay"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello again")))))
    val batch = spark.read.schema("recordId STRING, data STRING").json(s"$base/raw")
    FirehoseDelivery.processBatch(batch, 7L, conf)
    FirehoseDelivery.processBatch(batch, 7L, conf) // replay after simulated crash
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0)).sorted
    assert(primary.toSeq == Seq("Hell Yeah again", "Hell Yeah replay"))
    assert(spark.read.json(conf.backupDir).count() == 2)
  }

  test("seen-registry retry-horizon pruning: beyond-horizon partitions deleted, dedup inside the horizon holds") {
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      availableNow = true, effectivelyOnce = true, seenRetention = Some(2))
    var nb = 0
    def mkBatch(ids: String*) = {
      nb += 1
      writeRecords(s"$base/raw-$nb", "b.json",
        ids.map(id => record(id, envelopeJson("DATA_MESSAGE", Seq(s"Hello $id")))))
      spark.read.schema("recordId STRING, data STRING").json(s"$base/raw-$nb")
    }
    def seenParts() = new java.io.File(s"$base/out/reingest-seen").listFiles()
      .map(_.getName).filter(_.startsWith("batchId=")).sorted.toSeq
    (0 to 4).foreach { i =>
      FirehoseDelivery.processBatch(mkBatch(s"reingest-$i-r1"), i.toLong, conf)
    }
    // batch 4 pruned everything below 4-2: partitions 0 and 1 are gone
    assert(seenParts() == Seq("batchId=2", "batchId=3", "batchId=4"), seenParts().toString)
    // dedup within the horizon: batch 3's record re-sent at batch 5 is
    // anti-joined away (its partition survived the prune)
    FirehoseDelivery.processBatch(mkBatch("reingest-3-r1"), 5L, conf)
    assert(seenParts() == Seq("batchId=3", "batchId=4", "batchId=5"), seenParts().toString)
    assert(spark.read.parquet(s"$base/out/reingest-seen/batchId=5").count() == 0,
      "within-horizon duplicate must not be re-admitted")
    assert(spark.read.text(s"$base/out/primary/batchId=5").count() == 0,
      "duplicate must not reach the primary sink")
    // replay of batch 5 prunes the same horizon and admits the same set
    FirehoseDelivery.processBatch(mkBatch("reingest-3-r1"), 5L, conf)
    assert(seenParts() == Seq("batchId=3", "batchId=4", "batchId=5"), seenParts().toString)
    assert(spark.read.parquet(s"$base/out/reingest-seen/batchId=5").count() == 0)
  }

  test("processBatch byte parity: primary, backup, failed and re-ingest outputs of one mixed batch") {
    import java.nio.charset.StandardCharsets.UTF_8
    def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    def data(messages: String*): String = wireEncode(envelopeJson("DATA_MESSAGE", messages))
    // an event whose message is JSON null
    val nullMsg = "\u0000null"
    def withNulls(messages: String*): String =
      wireEncode(envelopeJson("DATA_MESSAGE", messages).replace(jsonStr(nullMsg), "null"))
    // (recordId, wire data, the transform's `data` column: None = ProcessingFailed)
    val kept = Seq(
      ("k1", data("größe héllo HelloHello", "Hello, world"),
        Some(b64("größe héllo Hell YeahHell Yeah\nHell Yeah, world\n"))),
      ("k2", data("first\nsecond", "Hello"), Some(b64("first\nsecond\nHell Yeah\n"))),
      ("k3", data(""), Some(b64("\n"))),
      // ends in an empty event: only the last of its two "\n" is stripped
      ("k8", data("a", ""), Some(b64("a\n\n"))),
      ("k4", withNulls(nullMsg), Some("")),
      ("k5", withNulls(nullMsg, "tail Hello"), Some(b64("tail Hell Yeah\n"))),
      ("k6", data(), Some("")),
      ("f1", wireEncode(envelopeJson("CONTROL_MESSAGE", Seq("health check"))), None),
      ("f2", "%%corrupt%%", None),
      ("f3", wireEncode("{not json"), None),
      ("k7", wireEncode(" \t\n\"" + b64("Hello bare\n") + "\""), Some(b64("Hello bare\n"))))
    // past the cap: (recordId, wire data, the decoded re-ingest payload)
    val dropped = Seq(
      ("d1", data("Hello dropped größe"), "\"" + b64("Hell Yeah dropped größe\n") + "\""),
      ("d2", wireEncode("\"a\\tb\\\"c\\\\d\\re\""), "\"a\tb\\\"c\\\\d\\re\""),
      ("d3", wireEncode("\n \"x\\ny\""), "\"x\\ny\""))
    // the governor charges len(data) + len(recordId), failed records 0
    // (main.py:137-151): the kept prefix fills the cap exactly
    val cap = kept.collect { case (id, _, Some(d)) => (d.length + id.length).toLong }.sum
    val lines = kept.collect { case (_, _, Some(d)) =>
      new String(Base64.getDecoder.decode(d), UTF_8).stripSuffix("\n")
    }
    val okBytes = lines.map(_.getBytes(UTF_8).length.toLong).sum
    val input = kept.map(r => (r._1, r._2)) ++ dropped.map(r => (r._1, r._2))
    val defaultFlush = FirehoseDelivery.Config("", "", "").flushBytes

    def run(flushBytes: Long, recs: Seq[(String, String)], sizeCap: Long) = {
      val base = tmp()
      val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
        flushBytes = flushBytes, sizeCap = sizeCap)
      writeRecords(s"$base/raw", "b.json", recs)
      FirehoseDelivery.processBatch(
        spark.read.schema("recordId STRING, data STRING").json(s"$base/raw"), 3L, conf)
      conf
    }
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
    def bytesOf(f: java.io.File) = new String(Files.readAllBytes(f.toPath), UTF_8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("recordId").collect().map(_.getString(0)).sorted.toSeq

    for (flushBytes <- Seq(defaultFlush, 40L)) {
      val conf = run(flushBytes, input, cap)
      val files = parts(s"${conf.primaryDir}/batchId=3").filter(_.length > 0)
      val nFiles = math.max(1, math.ceil(okBytes.toDouble / flushBytes).toInt)
      assert(files.length == nFiles, s"flushBytes=$flushBytes: ${files.map(_.getName)}")
      if (nFiles == 1) assert(bytesOf(files.head) == lines.map(_ + "\n").mkString)
      else assert(files.map(bytesOf).mkString.split("\n", -1).init.sorted.toSeq ==
        lines.flatMap(_.split("\n", -1)).sorted)
      val backup = spark.read.json(s"${conf.backupDir}/batchId=3")
      assert(backup.select("recordId", "data").collect().map(r => (r.getString(0), r.getString(1)))
        .sorted.toSeq == input.sorted)
      assert(ids(spark.read.json(s"${conf.failedDir}/batchId=3")) == Seq("f1", "f2", "f3"))
      val reingested = spark.read.json(s"${conf.inputDir}/reingest-batch-3").collect()
        .map(r => r.getAs[String]("recordId") -> new String(
          CodecUtil.gunzip(Base64.getDecoder.decode(r.getAs[String]("data"))), UTF_8)).toMap
      assert(reingested == dropped.map { case (id, _, p) => s"reingest-3-$id" -> p }.toMap)
    }

    // everything dropped: the batch's primary directory still exists, empty
    val conf = run(defaultFlush, input.take(2), 1L)
    val primary = new java.io.File(s"${conf.primaryDir}/batchId=3")
    assert(primary.isDirectory && parts(primary.toString).forall(_.length == 0))
    assert(spark.read.json(s"${conf.inputDir}/reingest-batch-3").count() == 2)
  }

  test("processBatch writes a decoded Ok payload's raw bytes, invalid UTF-8 included") {
    // a bare string that decodes passes as Ok, so "/w==" decodes to the one
    // byte 0xFF; the primary line keeps that byte rather than a U+FFFD
    // replacement (EF BF BD), as do the Ok bytes that size the files
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck")
    writeRecords(s"$base/raw", "b.json", Seq("x1" -> wireEncode("\"/w==\"")))
    FirehoseDelivery.processBatch(
      spark.read.schema("recordId STRING, data STRING").json(s"$base/raw"), 0L, conf)
    val files = new java.io.File(s"${conf.primaryDir}/batchId=0").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length > 0).toSeq
    assert(files.length == 1, files.map(_.getName))
    assert(Files.readAllBytes(files.head.toPath).toSeq == Seq(0xFF.toByte, '\n'.toByte))
  }

  test("processBatch fails a record whose base64 cannot decode, not the batch") {
    import java.nio.charset.StandardCharsets.UTF_8
    // "abcde" ends in a one-character base64 unit, which no decoder
    // accepts: as a bare string (b1) or as the wire data itself (b2) it
    // must land in processing-failed while the rest of the batch is
    // delivered, instead of failing the batch on every replay
    val b64 = Base64.getEncoder.encodeToString("bare two\n".getBytes(UTF_8))
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck")
    writeRecords(s"$base/raw", "b.json", Seq(
      "g1" -> wireEncode(envelopeJson("DATA_MESSAGE", Seq("Hello one"))),
      "b1" -> wireEncode("\"abcde\""),
      "g2" -> wireEncode("\"" + b64 + "\""),
      "b2" -> "abcde"))
    FirehoseDelivery.processBatch(
      spark.read.schema("recordId STRING, data STRING").json(s"$base/raw"), 0L, conf)
    assert(spark.read.json(s"${conf.failedDir}/batchId=0").select("recordId")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("b1", "b2"))
    val files = new java.io.File(s"${conf.primaryDir}/batchId=0").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length > 0).toSeq
    assert(files.length == 1, files.map(_.getName))
    assert(new String(Files.readAllBytes(files.head.toPath), UTF_8) ==
      "Hell Yeah one\nbare two\n")
  }

  test("one source scan per trigger: numInputRows sums to the rows placed in the input, re-ingested included") {
    // the raw batch is persisted before any sink reads it; a second
    // scan (the backup reading the source) would double numInputRows
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      triggerMs = 100L, sizeCap = 40L)
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second")))))
    val q = FirehoseDelivery.start(spark, conf)
    try q.processAllAvailable() finally q.stop()
    val rows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    // trigger 1: both records, r2 dropped; trigger 2: r2 re-ingested
    assert(rows == Seq(2L, 1L), rows)
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0)).sorted.toSeq
    assert(primary == Seq("Hell Yeah first", "Hell Yeah second"))
  }

  test("e2e: control message lands in processing-failed, not primary") {
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck", availableNow = true)
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("c1", envelopeJson("CONTROL_MESSAGE", Seq())),
        record("d1", envelopeJson("DATA_MESSAGE", Seq("Hello both")))))
    runOnce(conf)
    val failed = spark.read.json(conf.failedDir).select("recordId").collect().map(_.getString(0))
    assert(failed.toSeq == Seq("c1"))
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0))
    assert(primary.toSeq == Seq("Hell Yeah both"))
  }

  test("e2e: oversize records re-ingested as bare strings and delivered on the next run") {
    val base = tmp()
    // tiny cap so the 2nd record overflows
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      sizeCap = 40L, availableNow = true)
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second")))))
    runOnce(conf)
    // r2 dropped and re-queued into the input dir
    val reingestFiles = new java.io.File(conf.inputDir).listFiles()
      .filter(_.getName.startsWith("reingest-batch-"))
    assert(reingestFiles.nonEmpty)
    // second incremental run picks it up from the checkpoint
    runOnce(conf)
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0)).sorted
    // re-ingested record passes through the bare-string branch: its
    // payload is the already-transformed base64 (reference semantics:
    // Dropped data comes back and is passed through unchanged, Ok).
    assert(primary.contains("Hell Yeah first"))
    assert(primary.length >= 2)
  }

  test("effectively-once: duplicated sink delivery collapses to one primary copy (and duplicates WITHOUT the flag)") {
    // The sink re-delivers every record twice (lost-ack model). With
    // effectivelyOnce the read-back dedup admits one copy — within a
    // batch via dropDuplicates, across batches via the seen registry —
    // and the control run without the flag delivers both, proving the
    // test distinguishes the two contracts.
    for (once <- Seq(true, false)) {
      val base = tmp()
      ReingestSinkState.reset(s"$base/in")
      val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
        sizeCap = 40L, availableNow = true, maxFilesPerTrigger = Some(1),
        reingestSink = Some(new DoubleDeliverySink), effectivelyOnce = once)
      writeRecords(conf.inputDir, "events-1.json",
        Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
          record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second")))))
      runOnce(conf) // batch 0: r2 dropped, delivered twice into the input dir
      runOnce(conf) // read-back: one file per trigger, so the copies cross batches
      val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0))
      val copies = primary.count(_ == "Hell Yeah second")
      if (once) assert(copies == 1, s"effectively-once delivered $copies copies: ${primary.toSeq}")
      else assert(copies == 2, s"at-least-once control delivered $copies copies: ${primary.toSeq}")
      assert(primary.count(_ == "Hell Yeah first") == 1)
    }
  }

  test("effectively-once: checkpoint replay after a crash re-sends the batch, read-back still delivers once") {
    // Kill/restart mid-stream: after the run, batch 0's commit marker
    // is deleted (the crash-between-sink-and-commit simulation), so
    // the restart REPLAYS batch 0 and re-sends its Dropped set through
    // the sink — the duplicate the at-least-once scaladoc documents.
    // The registry dedup must still deliver the payload exactly once.
    val base = tmp()
    ReingestSinkState.reset(s"$base/in")
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      sizeCap = 40L, availableNow = true, maxFilesPerTrigger = Some(1),
      reingestSink = Some(new FlakyReingestSink("-never-", failTimes = 0)),
      effectivelyOnce = true)
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second")))))
    runOnce(conf) // batch 0 only: AvailableNow snapshots before the sink appends
    val commit0 = Paths.get(s"$base/ck/commits/0")
    assert(Files.deleteIfExists(commit0), "commit marker for batch 0 missing")
    // the checksum FS pairs every metadata file with a .crc sidecar; a
    // stale sidecar makes the replayed commit's rename collide
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.0.crc"))
    runOnce(conf) // replays batch 0 (re-sends r2), then reads back both copies
    runOnce(conf) // drain anything the replayed sink call appended late
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0))
    assert(primary.count(_ == "Hell Yeah second") == 1,
      s"replay duplicated the re-ingested payload: ${primary.toSeq}")
    assert(primary.count(_ == "Hell Yeah first") == 1, primary.toSeq)
  }

  test("e2e record-granular re-ingest: only the failed subset retried, all delivered (main.py:113-124)") {
    val base = tmp()
    ReingestSinkState.reset(s"$base/in")
    // maxFilesPerTrigger=1 so each re-ingested file replays alone and
    // fits the 40-byte cap (together they would re-drop and loop)
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      sizeCap = 40L, availableNow = true, maxFilesPerTrigger = Some(1),
      reingestSink = Some(new FlakyReingestSink("r3", failTimes = 1)))
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second"))),
        record("r3", envelopeJson("DATA_MESSAGE", Seq("Hello third")))))
    runOnce(conf)
    // r2+r3 dropped by the 40-byte cap; the sink failed r3's slot on
    // the first put_record_batch, so ONLY r3 was re-sent
    import scala.jdk.CollectionConverters._
    val calls = ReingestSinkState.calls.asScala.toSeq
    assert(calls.length == 2, s"expected 2 putBatch calls, got $calls")
    assert(calls.head.length == 2 && calls.head.forall(_.startsWith("reingest-0-")))
    assert(calls(1).map(_.stripPrefix("reingest-0-")) == Seq("r3"))
    // successes were routed back into the input dir: a second
    // incremental run delivers them through the bare-string branch
    runOnce(conf)
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0)).sorted
    assert(primary.toSeq ==
      Seq("Hell Yeah first", "Hell Yeah second", "Hell Yeah third"), primary.toSeq)
  }

  test("e2e record-granular re-ingest: subset protocol survives a commit-marker replay, delivery stays once") {
    val base = tmp()
    ReingestSinkState.reset(s"$base/in")
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      sizeCap = 40L, availableNow = true, maxFilesPerTrigger = Some(1),
      reingestSink = Some(new FlakyReingestSink("r3", failTimes = 1)),
      effectivelyOnce = true)
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second"))),
        record("r3", envelopeJson("DATA_MESSAGE", Seq("Hello third")))))
    runOnce(conf) // batch 0: r1 delivered; r2+r3 dropped -> put fails r3's slot, retries ONLY r3
    import scala.jdk.CollectionConverters._
    assert(ReingestSinkState.calls.asScala.toSeq.length == 2,
      s"pre-crash protocol: ${ReingestSinkState.calls.asScala.toSeq}")
    // crash between sink and commit: batch 0 REPLAYS on restart and
    // re-puts its whole dropped subset (the flaky slot is exhausted,
    // so the replay succeeds in one call)
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/0")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.0.crc"))
    runOnce(conf) // replay batch 0 + drain run-1's re-ingested files
    runOnce(conf) // drain the replay's re-ingested copies
    val calls = ReingestSinkState.calls.asScala.toSeq
    assert(calls.length == 3 &&
      calls(2).map(_.split("-").last).sorted == Seq("r2", "r3"),
      s"replayed batch must re-put the full dropped subset: $calls")
    // the seen registry absorbs the duplicate re-sends: every payload
    // delivered exactly once despite the at-least-once replay
    val primary = spark.read.text(conf.primaryDir).collect().map(_.getString(0))
    Seq("first", "second", "third").foreach { p =>
      assert(primary.count(_ == s"Hell Yeah $p") == 1,
        s"payload '$p' delivered ${primary.count(_ == s"Hell Yeah $p")} times: ${primary.toSeq}")
    }
  }

  test("e2e record-granular re-ingest: exhaustion fails the query with the terminal message (main.py:125-127)") {
    val base = tmp()
    ReingestSinkState.reset(s"$base/in")
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      sizeCap = 40L, availableNow = true, maxAttempts = 5,
      reingestSink = Some(new FlakyReingestSink("r2", failTimes = Int.MaxValue)))
    writeRecords(conf.inputDir, "events-1.json",
      Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello first"))),
        record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello second")))))
    val q = FirehoseDelivery.start(spark, conf)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("Could not put records after 5 attempts")),
      messages(e).mkString(" | "))
  }

  test("streaming tumbling window + watermark over a rate-limited file stream") {
    val base = tmp()
    // stream the events table itself: copy parquet as streaming source
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$base/stream-in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/stream-in")
    val agg = StreamingOps.tumblingAggWatermarked(stream, "ts", "1 hour", "2 hours", col("event_type"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("tumble_out")
      .option("checkpointLocation", s"$base/ck2").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; all but the last
    // couple of hours of a 30-day dataset are closed.
    val got = spark.table("tumble_out").count()
    val batch = StreamingOps.tumblingAgg(events, "ts", "1 hour", col("event_type")).count()
    assert(got > 0 && got <= batch)
    assert(got >= batch - 10) // only trailing windows may be held back
  }

  test("size-based flush: batch larger than flushBytes rotates into multiple files") {
    val base = tmp()
    val conf = FirehoseDelivery.Config(s"$base/in", s"$base/out", s"$base/ck",
      flushBytes = 2000L, availableNow = true)
    val big = "y" * 1500
    writeRecords(conf.inputDir, "f.json",
      (1 to 4).map(i => record(s"r$i", envelopeJson("DATA_MESSAGE", Seq(big)))))
    runOnce(conf)
    val files = new java.io.File(s"${conf.primaryDir}/batchId=0").listFiles()
      .filter(_.getName.startsWith("part-"))
    // ~6KB of payload with a 2KB flush size -> 3 files
    assert(files.length >= 2, s"expected rotation, got ${files.length} file(s)")
    val lines = spark.read.text(conf.primaryDir).count()
    assert(lines == 4)
  }

  test("session windows run identically on the RocksDB state store provider") {
    // the scale-grade state backend for 100 TB streaming state (heap
    // store = state bounded by executor heap; RocksDB spills to disk).
    // Same query, same results, different provider.
    val base = tmp()
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$base/in")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
      val agg = StreamingOps.sessionAgg(
        stream.withWatermark("ts", "6 hours"), "ts", "4 hours", "user_id")
      val q = agg.writeStream.outputMode("append").format("memory").queryName("rocks_out")
        .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.table("rocks_out").count()
      val batch = StreamingOps.sessionAgg(events, "ts", "4 hours", "user_id").count()
      assert(got > 0 && got <= batch, s"rocksdb sessions $got vs batch $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("RocksDB soak: session state is evicted under the watermark across many micro-batches") {
    // Multi-trigger run on the scale-grade state backend: 8 chronological
    // slices arrive as 8 micro-batches; the watermark must CLOSE old
    // sessions as it advances, so state size stays bounded by the open
    // horizon (~gap + delay), not by the stream's lifetime — the
    // difference between a stream that survives 100 TB/day and one
    // whose state store grows monotonically until it dies.
    val base = tmp()
    val events = Tables.events(spark, sfDir).select("ts", "user_id", "event_type", "event_id")
    val (tsMin, tsMax) = {
      val r = events.agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val nSlices = 8
    val step = math.max(1L, (tsMax - tsMin) / nSlices + 1)
    Files.createDirectories(Paths.get(s"$base/in"))
    val now = System.currentTimeMillis()
    (0 until nSlices).foreach { i =>
      val lo = tsMin + i * step
      val slice = events.filter(
        unix_timestamp(col("ts")) >= lo && unix_timestamp(col("ts")) < lo + step)
      slice.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      // file-source ordering is (modTime, path): pin strictly
      // increasing modTimes so slices replay chronologically
      assert(dst.setLastModified(now - (nSlices - i) * 60000L))
    }
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      val agg = StreamingOps.sessionAgg(
        stream.withWatermark("ts", "6 hours"), "ts", "4 hours", "user_id")
      val q = agg.writeStream.outputMode("append").format("memory").queryName("soak_out")
        .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      assert(!q.isActive)
      val progresses = q.recentProgress.filter(_.numInputRows > 0)
      assert(progresses.length >= nSlices - 1,
        s"expected ~$nSlices micro-batches, got ${progresses.length}")
      val stateOps = progresses.flatMap(_.stateOperators)
      val removed = stateOps.map(_.numRowsRemoved).sum
      val maxHeld = stateOps.map(_.numRowsTotal).max
      // emitted sessions are correct (subset of batch, identical counts)
      val got = spark.table("soak_out")
      val batch = StreamingOps.sessionAgg(events, "ts", "4 hours", "user_id")
      val nBatch = batch.count()
      val joined = got.join(batch.withColumnRenamed("n", "n_batch"),
        Seq("user_id", "sess_start", "sess_end"))
      assert(got.count() > 0 && joined.count() == got.count())
      assert(joined.filter(col("n") =!= col("n_batch")).count() == 0)
      // eviction happened, and state never approached the full corpus:
      // the open horizon is ~1 slice of sessions, not all of them
      assert(removed > 0, "watermark never evicted any session state")
      assert(maxHeld < nBatch / 2,
        s"state held $maxHeld rows, batch total $nBatch sessions — not bounded")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming session windows close under the watermark and match batch sessions") {
    val base = tmp()
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val agg = StreamingOps.sessionAgg(
      stream.withWatermark("ts", "6 hours"), "ts", "4 hours", "user_id")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out")
    val batch = StreamingOps.sessionAgg(events, "ts", "4 hours", "user_id")
    // closed sessions emitted by the stream are a subset of (and nearly
    // all of) the batch sessions, identical where emitted
    val joined = got.join(batch.withColumnRenamed("n", "n_batch"),
      Seq("user_id", "sess_start", "sess_end"))
    assert(got.count() > 0 && joined.count() == got.count())
    assert(joined.filter(col("n") =!= col("n_batch")).count() == 0)
  }

  test("stream-stream interval join: purchases joined to prior clicks within 1 hour") {
    val base = tmp()
    val events = Tables.events(spark, sfDir).select("ts", "user_id", "event_type", "event_id")
    events.write.mode("overwrite").parquet(s"$base/in")
    def src = spark.readStream.schema(events.schema).parquet(s"$base/in")
    def sides(e: org.apache.spark.sql.DataFrame) = (
      e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("c_ts")),
      e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"), col("ts").as("p_ts")))
    // STREAMING execution of the operator: watermarks on both sides
    // bound the join state (a click can be evicted once the purchase
    // watermark passes c_ts + 1h)
    val (sc, sp) = (sides(src)._1, sides(src)._2)
    val joined = StreamingOps.intervalJoin(sc, sp, ("cu", "pu"),
      "c_ts", "p_ts", "0 seconds", "1 hour",
      leftDelay = Some("2 hours"), rightDelay = Some("2 hours"))
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ss_join")
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ss_join").count()
    // the SAME operator on batch frames is the oracle-checked form (q98)
    val (bc, bp) = sides(events)
    val want = StreamingOps.intervalJoin(bc, bp, ("cu", "pu"),
      "c_ts", "p_ts", "0 seconds", "1 hour").count()
    assert(got == want && got > 0, s"stream-stream join $got vs batch $want")
    // and the streaming run must have real join state that the
    // watermark bounds (a stateful operator is present)
    val stateOps = Option(q.lastProgress).map(_.stateOperators.length).getOrElse(0)
    assert(stateOps == 1, s"expected one stateful join operator, got $stateOps")
  }

  test("intervalJoin validates its bound strings at construction, not plan time") {
    import spark.implicits._
    val e = Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val l = e.toDF("cu", "c_ts")
    val r = e.toDF("pu", "p_ts")
    // swapped bounds: caught eagerly with a readable message
    val swapped = intercept[IllegalArgumentException] {
      StreamingOps.intervalJoin(l, r, ("cu", "pu"), "c_ts", "p_ts", "1 hour", "0 seconds")
    }
    assert(swapped.getMessage.contains("out of order"))
    // malformed unit: caught here, not as an opaque Catalyst parse error
    val bad = intercept[IllegalArgumentException] {
      StreamingOps.intervalJoin(l, r, ("cu", "pu"), "c_ts", "p_ts", "0 sceonds", "1 hour")
    }
    assert(bad.getMessage.contains("sceond"))
    // month units have no fixed width -> rejected
    intercept[IllegalArgumentException] {
      StreamingOps.intervalJoin(l, r, ("cu", "pu"), "c_ts", "p_ts", "0 seconds", "1 month")
    }
    // the parser agrees with the compound day-time forms the docs promise
    assert(StreamingOps.intervalMicros("-1 hour") == -3600000000L)
    assert(StreamingOps.intervalMicros("1 day 2 hours") == 93600000000L)
    assert(StreamingOps.intervalMicros("30 seconds") == 30000000L)
  }

  test("left-outer interval join: unmatched clicks emit null rows once the watermark closes their window") {
    import spark.implicits._
    val base = tmp()
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ts(plusMin: Long) = new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    val now = System.currentTimeMillis()
    def writeSlice(dir: String, idx: Int, rows: Seq[(Long, java.sql.Timestamp)],
        cols: (String, String)): Unit = {
      Files.createDirectories(Paths.get(s"$base/$dir"))
      rows.toDF(cols._1, cols._2).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$dir-$idx")
      val part = new java.io.File(s"$base/staging-$dir-$idx").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/$dir/slice-$idx.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - idx) * 60000L))
    }
    // slice 0: the interesting data — c1 matches p1 within 2h, c2 never matches
    writeSlice("clicks", 0, Seq((1L, ts(0)), (2L, ts(0))), ("cu", "c_ts"))
    writeSlice("purch", 0, Seq((1L, ts(30))), ("pu", "p_ts"))
    // slices 1-2: watermark-advancing fillers 3 days on (distinct users),
    // two slices because eviction/outer-emission happens in the batch
    // AFTER the one that advanced the watermark
    writeSlice("clicks", 1, Seq((98L, ts(3 * 24 * 60))), ("cu", "c_ts"))
    writeSlice("purch", 1, Seq((99L, ts(3 * 24 * 60))), ("pu", "p_ts"))
    writeSlice("clicks", 2, Seq((98L, ts(3 * 24 * 60 + 60))), ("cu", "c_ts"))
    writeSlice("purch", 2, Seq((99L, ts(3 * 24 * 60 + 60))), ("pu", "p_ts"))
    val clickSchema = Seq((1L, t0)).toDF("cu", "c_ts").schema
    val purchSchema = Seq((1L, t0)).toDF("pu", "p_ts").schema
    val clicks = spark.readStream.schema(clickSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/clicks")
    val purch = spark.readStream.schema(purchSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/purch")
    val joined = StreamingOps.intervalJoin(clicks, purch, ("cu", "pu"),
      "c_ts", "p_ts", "0 seconds", "2 hours", joinType = "left_outer",
      leftDelay = Some("1 hour"), rightDelay = Some("1 hour"))
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ssj_outer")
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj_outer")
      .select(col("cu"), col("pu")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // c1 joined p1; c2's window [t0, t0+2h] closed when the watermark
    // reached day 3 -> outer row with null purchase
    assert(got.contains((1L, Some(1L))), s"inner match missing: $got")
    assert(got.contains((2L, None)), s"outer row for unmatched click missing: $got")
  }

  test("band-table maintenance stream feeds the incremental near-dup screen") {
    import spark.implicits._
    val base = tmp()
    // batch 1 of the corpus stream: two historical docs
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different historical content about spark engines here"))
      .toDF("doc_id", "text")
    hist.write.mode("overwrite").parquet(s"$base/docs-in")
    val stream1 = spark.readStream.schema(hist.schema).parquet(s"$base/docs-in")
    val q1 = StreamingOps.maintainBandTable(stream1, "doc_id", "text",
      s"$base/bands", s"$base/ck-bands")
    q1.awaitTermination(120000)
    // the maintained table must equal the batch-built one, key for key
    val maintained = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/bands")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batchBuilt = graft.operators.Dedup.lshBands(
        graft.operators.Dedup.prepareHashedShingles(hist, "doc_id",
          graft.operators.Dedup.wordShingles("text")),
        "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(maintained == batchBuilt,
      s"maintained band table diverged:\n$maintained\nvs\n$batchBuilt")
    // batch 2: a near-duplicate of doc 1 screens against the MAINTAINED table
    val newDocs = Seq((10L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val pairs = StreamingOps.nearDupAgainstHistory(newDocs,
        spark.read.option("recursiveFileLookup", "true").parquet(s"$base/bands"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 1L)), s"expected collision with doc 1 only, got $pairs")
  }

  test("streaming profiler: each micro-batch's quality report equals the batch profile of its slice") {
    val base = tmp()
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val now = System.currentTimeMillis()
    val slices = (0 until 3).map { i =>
      val s = orders.filter(col("o_orderkey") % 3 === i)
      s.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
      s
    }
    val stream = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus")
    val q = StreamingOps.profileStream(stream, cols, s"$base/out", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    // stateless, one report partition per batch
    assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.stateOperators.isEmpty))
    val reports = spark.read.parquet(s"$base/out")
    assert(reports.select("batchId").distinct().count() == 3)
    // each batch's report equals the batch profile of the same slice
    // (file-source batch order == modTime order pinned above)
    slices.zipWithIndex.foreach { case (slice, i) =>
      val got = reports.filter(col("batchId") === i).drop("batchId")
      val want = graft.operators.Profiler.profile(slice, cols)
      assert(got.count() == 3 &&
        got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"batch $i profile diverged")
    }
  }

  test("streaming CDC: each upsert micro-batch's diff equals the batch snapshotDiff of its slice") {
    val base = tmp()
    val baseline = Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    // batch 0: existing keys, balances shifted on the %5 residue ->
    // U rows for the shifted, nothing for the unchanged re-sends;
    // batch 1: unseen keys -> all I
    val upd = baseline.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
    val ins = baseline.filter(col("c_custkey") % 3 === 1)
      .withColumn("c_custkey", col("c_custkey") + 10000000L)
    val now = System.currentTimeMillis()
    val slices = Seq(upd, ins)
    slices.zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    val stream = spark.readStream.schema(baseline.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.diffStream(stream, baseline,
      Seq("c_custkey"), Seq("c_name", "c_acctbal"), s"$base/out", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    // stateless
    assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.stateOperators.isEmpty))
    val diffs = spark.read.parquet(s"$base/out")
    assert(diffs.select("batchId").distinct().count() == 2)
    // per-batch output == the batch operator on (scoped baseline, slice)
    slices.zipWithIndex.foreach { case (slice, i) =>
      val got = diffs.filter(col("batchId") === i).drop("batchId")
      val scoped = baseline.join(slice.select("c_custkey").distinct(),
        Seq("c_custkey"), "left_semi")
      val want = graft.operators.ChangeCapture.snapshotDiff(scoped, slice,
        Seq("c_custkey"), Seq("c_name", "c_acctbal"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"batch $i diff diverged")
    }
    // batch 0 is all U (the %15 residue), batch 1 all I, no D anywhere
    val types = diffs.groupBy("batchId", "change_type").count()
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1)) -> r.getLong(2)).toMap
    assert(types.keySet.map(_._2) == Set("U", "I") &&
      types.forall { case ((b, t), _) => (b == 0L && t == "U") || (b == 1L && t == "I") },
      s"unexpected change types: $types")
  }

  test("streaming CDC tombstones: delete markers emit D rows, compaction holds, kill/restart replays idempotently") {
    val base = tmp()
    val baseline = Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
      .filter(col("c_custkey") <= 600)
    // batch 0: upserts (some changed, some identical re-sends);
    // batch 1: tombstones for the %7 residue PLUS a multi-change key
    //   cadence — every %11 key carries TWO upserts (off 1 and 2,
    //   the later wins) — the Debezium/compacted-topic shape
    val b0 = baseline.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
      .withColumn("deleted", lit(false)).withColumn("off", lit(1L))
    val dels = baseline.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_name", lit(null).cast("string"))
      .withColumn("c_acctbal", lit(null).cast("double"))
      .withColumn("deleted", lit(true)).withColumn("off", lit(1L))
    val multi = baseline.filter(col("c_custkey") % 11 === 0 && col("c_custkey") % 7 =!= 0)
    val b1 = dels
      .unionByName(multi.withColumn("c_acctbal", col("c_acctbal") + 1.0)
        .withColumn("deleted", lit(false)).withColumn("off", lit(1L)))
      .unionByName(multi.withColumn("c_acctbal", col("c_acctbal") + 2.0)
        .withColumn("deleted", lit(false)).withColumn("off", lit(2L)))
    val now = System.currentTimeMillis()
    val slices = Seq(b0, b1)
    slices.zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    def start() = StreamingOps.diffStream(
      spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      baseline, Seq("c_custkey"), Seq("c_name", "c_acctbal"),
      s"$base/out", s"$base/ck",
      deleteCol = Some("deleted"), orderCols = Seq("off"))
    // full run, then the crash-between-sink-and-commit simulation:
    // drop batch 1's commit marker (+ its checksum sidecar) so the
    // restart REPLAYS batch 1 into the batchId-keyed overwrite
    val q1 = start()
    q1.awaitTermination(180000)
    assert(!q1.isActive)
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")),
      "commit marker for batch 1 missing")
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    val q2 = start()
    q2.awaitTermination(180000)
    assert(!q2.isActive)
    val diffs = spark.read.parquet(s"$base/out")
    assert(diffs.select("batchId").distinct().count() == 2)
    // per-batch output == the batch tombstoneDiff of the slice
    slices.zipWithIndex.foreach { case (slice, i) =>
      val got = diffs.filter(col("batchId") === i).drop("batchId")
      val want = graft.operators.ChangeCapture.tombstoneDiff(slice, baseline,
        Seq("c_custkey"), Seq("c_name", "c_acctbal"), "deleted", Seq("off"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"batch $i tombstone diff diverged after restart")
    }
    // batch 1 holds the D rows (the %7 residue) and exactly ONE U per
    // multi-change key, carrying the LAST write (+2.0)
    val b1d = diffs.filter(col("batchId") === 1)
    assert(b1d.filter(col("change_type") === "D").count() ==
      baseline.filter(col("c_custkey") % 7 === 0).count())
    val uRows = b1d.filter(col("change_type") === "U")
    assert(uRows.groupBy("c_custkey").count().filter(col("count") > 1).isEmpty,
      "compaction must leave one U per key")
    assert(uRows.filter(col("new_c_acctbal") =!= col("old_c_acctbal") + 2.0).isEmpty,
      "the LAST write (+2.0) must win")
  }

  test("pit stream: per-batch as-of enrichment matches the batch operator, stateless") {
    val base = tmp()
    // SCD2 history of each user's non-purchase state; facts = the
    // purchase events, streamed in two slices split on event residue
    val e = Tables.events(spark, sfDir).select(
      col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val hist = graft.operators.ChangeCapture.scd2(
      e.where(col("event_type") =!= "purchase"),
      keyCols = Seq("user_id"), tsCol = "ts_us",
      attrCols = Seq("event_type"), tieCols = Seq("event_id"))
    val facts = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val slices = Seq(facts.filter(col("event_id") % 2 === 0),
      facts.filter(col("event_id") % 2 === 1))
    val now = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    val stream = spark.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.pitStream(stream, hist, Seq("user_id"), "ts_us",
      Seq("event_type"), s"$base/out", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.stateOperators.isEmpty))
    slices.zipWithIndex.foreach { case (s, i) =>
      val got = spark.read.parquet(s"$base/out/batchId=$i")
      val want = graft.operators.Temporal.pitJoin(s, hist, Seq("user_id"),
        "ts_us", Seq("event_type"))
      assert(got.count() == s.count() &&
        got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"batch $i enrichment diverged")
    }
  }

  test("link stream: per-batch canonicalization matches the batch operator") {
    val base = tmp()
    val parts = Tables.load(spark, sfDir, "part").select("p_name")
    // orderBy before limit: a bare post-distinct limit may pick a
    // different subset on each of this frame's several re-evaluations
    val catalog = parts.distinct().orderBy("p_name").limit(40)
      .withColumnRenamed("p_name", "cname")
    // batch 0: names the catalog contains (self-links at dist 0);
    // batch 1: the same names with one char dropped (dist 1) plus an
    // unmatchable junk value
    val clean = catalog.select(col("cname").as("p_name"))
    val dirty = catalog.select(substring(col("cname"), 2, 1000).as("p_name"))
      .unionAll(catalog.limit(1).select(lit("zzzzzzzzzzzzzzzzzzzzzzzzzzzz").as("p_name")))
    val now = System.currentTimeMillis()
    Seq(clean, dirty).zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    val stream = spark.readStream.schema(clean.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.linkStream(stream, catalog, "p_name", "cname",
      maxDist = 2, s"$base/out", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.stateOperators.isEmpty))
    Seq(clean, dirty).zipWithIndex.foreach { case (s, i) =>
      val got = spark.read.parquet(s"$base/out/batchId=$i")
      val want = graft.operators.Linkage.linkBest(s, catalog, "p_name", "cname", 2)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"batch $i links diverged")
    }
    // batch 0 all self-links at 0; batch 1's junk value stays unmatched
    val b0 = spark.read.parquet(s"$base/out/batchId=0")
    assert(b0.filter(col("dist") =!= 0 || col("match").isNull).isEmpty)
    val b1 = spark.read.parquet(s"$base/out/batchId=1")
    assert(b1.filter(col("value").startsWith("zzz") && col("match").isNotNull).isEmpty)
  }

  test("MV maintenance stream: changelog batches fold to the full recompute; old versions pruned") {
    val base = tmp()
    def snap(pred: org.apache.spark.sql.Column) =
      Tables.load(spark, sfDir, "customer").filter(pred)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .select(col("c_custkey"), col("c_mktsegment"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
    // s0 -> s1 deletes the %7 keys; s1 -> s2 re-inserts part of them
    // and deletes the %3 keys: every change_type occurs across batches
    val s0 = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
    val s1 = snap(col("c_custkey") % 7 =!= 0)
    val s2 = snap(col("c_custkey") % 3 =!= 0)
    val now = System.currentTimeMillis()
    Seq(s0 -> s1, s1 -> s2).zipWithIndex.foreach { case ((a, b), i) =>
      graft.operators.ChangeCapture
        .snapshotDiff(a, b, Seq("c_custkey"), Seq("c_mktsegment", "bal_cents"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    val baseAgg = s0.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("bal_cents")).as("bal_cents"))
    val changelogSchema = spark.read.parquet(s"$base/staging-0").schema
    val stream = spark.readStream.schema(changelogSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.maintainAggStream(stream, baseAgg,
      Seq("c_mktsegment"), Seq("bal_cents"), s"$base/mv", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.stateOperators.isEmpty))
    // the maintained view == a from-scratch aggregate of the FINAL
    // snapshot (which the stream never saw — only the diffs)
    val got = StreamingOps.readLatestMv(spark, s"$base/mv")
    val want = s2.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("bal_cents")).as("bal_cents"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"MV diverged from recompute: ${got.collect().toSeq} vs ${want.collect().toSeq}")
    // batch 1 read v=1, wrote v=2, pruned v=0
    val versions = new java.io.File(s"$base/mv").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(versions == Set("v=1", "v=2"), s"wrong versions kept: $versions")
    // restart AFTER v=0 was pruned with a third slice: the base must
    // NOT re-materialize (that would re-run the fact scan into an
    // orphaned v=0) and the fold continues from the kept versions
    val s3 = snap(col("c_custkey") % 2 =!= 0)
    Seq(s2 -> s3).foreach { case (a, b) =>
      graft.operators.ChangeCapture
        .snapshotDiff(a, b, Seq("c_custkey"), Seq("c_mktsegment", "bal_cents"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/staging-2")
      val part = new java.io.File(s"$base/staging-2").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new java.io.File(s"$base/in/slice-2.parquet").toPath)
    }
    val stream2 = spark.readStream.schema(changelogSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q2 = StreamingOps.maintainAggStream(stream2, baseAgg,
      Seq("c_mktsegment"), Seq("bal_cents"), s"$base/mv", s"$base/ck")
    q2.awaitTermination(180000)
    assert(!q2.isActive)
    val got2 = StreamingOps.readLatestMv(spark, s"$base/mv")
    val want2 = s3.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("bal_cents")).as("bal_cents"))
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      s"restarted MV diverged: ${got2.collect().toSeq} vs ${want2.collect().toSeq}")
    val versions2 = new java.io.File(s"$base/mv").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(versions2 == Set("v=2", "v=3"),
      s"restart must not re-materialize v=0 or keep stale versions: $versions2")
  }

  test("drift monitor stream: per-batch micro-PSI reports match the batch operator") {
    val base = tmp()
    val orders = Tables.load(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("v"),
        col("o_orderkey"))
    val baseline = orders.filter(col("o_orderkey") % 2 === 0).select("v")
    // batch 0 mirrors the baseline's distribution; batch 1 is shifted
    val sameDist = orders.filter(col("o_orderkey") % 2 === 1).select("v")
    val shifted = sameDist.select((col("v") * 3).as("v"))
    val now = System.currentTimeMillis()
    Seq(sameDist, shifted).zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    val stream = spark.readStream.schema(baseline.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.driftStream(stream, baseline, "v", s"$base/out", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.stateOperators.isEmpty))
    // each batch's report == the batch operator on the same slice
    Seq(sameDist, shifted).zipWithIndex.foreach { case (s, i) =>
      val got = spark.read.parquet(s"$base/out/batchId=$i")
      val want = graft.operators.Profiler.psiDrift(baseline, s, col("v"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"batch $i drift report diverged")
    }
    def totalPsi(i: Int): Double =
      spark.read.parquet(s"$base/out/batchId=$i")
        .agg(sum(col("psi_micro"))).collect().head.getLong(0) / 1e6
    assert(totalPsi(0) < 0.1, s"same-distribution batch read as drifted: ${totalPsi(0)}")
    assert(totalPsi(1) > 0.25, s"shifted batch not flagged: ${totalPsi(1)}")
  }

  test("MV maintenance stream: checkpoint replay after a crash does not double-apply a batch") {
    val base = tmp()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), sum(col("bal_cents")).as("bal_cents"))
    val customer = Tables.load(spark, sfDir, "customer")
    val s0 = snap(customer)
    val s1 = snap(customer.filter(col("c_custkey") % 7 =!= 0))
    val s2 = snap(customer.filter(col("c_custkey") % 3 =!= 0))
    def writeSlice(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      graft.operators.ChangeCapture
        .snapshotDiff(a, b, Seq("c_custkey"), Seq("c_mktsegment", "bal_cents"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
    }
    writeSlice(s0, s1, 0)
    val changelogSchema = spark.read.parquet(s"$base/staging-0").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(changelogSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      val q = StreamingOps.maintainAggStream(stream, agg(s0),
        Seq("c_mktsegment"), Seq("bal_cents"), s"$base/mv", s"$base/ck")
      q.awaitTermination(180000)
      assert(!q.isActive)
    }
    run() // batch 0 applied, MV at v=1
    // crash between sink and commit: batch 0 will REPLAY on restart
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/0")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.0.crc"))
    writeSlice(s1, s2, 1)
    run() // replays batch 0 (v=1 already published: no rewrite), then applies batch 1
    val got = StreamingOps.readLatestMv(spark, s"$base/mv")
    val want = agg(s2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"replayed MV diverged: ${got.collect().toSeq} vs ${want.collect().toSeq}")
  }

  /** MV crash fixture: customer snapshots s0..s2 as two changelog
    * slices; `run` streams whatever slices are in `base/in` into
    * `base/mv` over base agg(s0).
    */
  private def mvFixture(base: String) = {
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), sum(col("bal_cents")).as("bal_cents"))
    val customer = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_cents"))
    val snaps = Seq(customer, customer.filter(col("c_custkey") % 7 =!= 0),
      customer.filter(col("c_custkey") % 3 =!= 0))
    val now = System.currentTimeMillis()
    snaps.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      graft.operators.ChangeCapture
        .snapshotDiff(a, b, Seq("c_custkey"), Seq("c_mktsegment", "bal_cents"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L)) // slice order = arrival order
    }
    def run(): Unit = {
      val stream = spark.readStream.schema(spark.read.parquet(s"$base/staging-0").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      val q = StreamingOps.maintainAggStream(stream, agg(snaps.head),
        Seq("c_mktsegment"), Seq("bal_cents"), s"$base/mv", s"$base/ck")
      q.awaitTermination(180000)
      assert(!q.isActive)
    }
    (agg(snaps.last), () => run())
  }

  test("MV maintenance stream: a half-written newer version is invisible to readLatestMv") {
    val base = tmp()
    val (want, run) = mvFixture(base)
    run() // two batches: the MV is at v=2
    // what a crash mid-write (or a trigger still writing) leaves behind
    Files.createDirectories(Paths.get(s"$base/mv/v=3/_temporary/0"))
    val got = StreamingOps.readLatestMv(spark, s"$base/mv")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"MV read a half-written version: ${got.collect().toSeq} vs ${want.collect().toSeq}")
  }

  test("MV maintenance stream: a half-written base left by a crashed first start is rebuilt") {
    val base = tmp()
    val (want, run) = mvFixture(base)
    // a first start that crashed while writing the base aggregate
    Files.createDirectories(Paths.get(s"$base/mv/v=0/_temporary/0"))
    run()
    val got = StreamingOps.readLatestMv(spark, s"$base/mv")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"MV diverged from recompute: ${got.collect().toSeq} vs ${want.collect().toSeq}")
  }

  test("hybrid retrieval serving: streamed query batches reproduce the batch sparse+dense+RRF stack") {
    val base = tmp()
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sfDir, "embeddings")
    // two single-file query batches with disjoint id sets
    val qa = docs.filter(col("doc_id") % 97 === 0)
    val qb = docs.filter(col("doc_id") % 101 === 3)
    val now = System.currentTimeMillis()
    Seq(qa, qb).zipWithIndex.foreach { case (q, i) =>
      q.coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (2 - i) * 60000L))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.hybridRetrieveStream(stream, docs, emb,
      s"$base/out", s"$base/ck")
    q.awaitTermination(180000)
    assert(!q.isActive)
    val served = spark.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
      .select("query_id", "neighbor_id", "fused_rank", "rrf_u")
    // every batch's output equals the batch stack run on its query set
    import graft.operators.{Similarity, TextAnalysis}
    def batchStack(queries: org.apache.spark.sql.DataFrame) = {
      val sparse = TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val qv = emb.join(broadcast(queries.select(col("doc_id").as("vec_id"))), "vec_id")
      val dense = Similarity.bruteForceTopK(emb, qv, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      Similarity.reciprocalRankFusion(Seq(sparse, dense), k = 60, topK = 5)
    }
    val expected = batchStack(qa).unionAll(batchStack(qb))
    assert(served.count() == expected.count(), "served row count diverged")
    assert(served.exceptAll(expected).isEmpty && expected.exceptAll(served).isEmpty,
      "streamed serving diverged from the batch retrieval stack")
    // replay idempotence: re-running a batch overwrites, not duplicates
    assert(new java.io.File(s"$base/out").listFiles()
      .count(_.getName.startsWith("batchId=")) == 2)
  }

  test("band-table soak: 20 triggers maintain one consistent key space with zero streaming state") {
    // Long-horizon run of the band-table feeder: 20 single-file
    // micro-batches of the documents corpus. The 100 TB contract is
    // that this stream holds NO state-store state at all (growth lives
    // in the partitioned table, pruned by batchId and compactable), so
    // after 20 triggers: every progress reports zero stateful
    // operators, the table carries one partition per batch, and the
    // accreted key space is bit-identical to the batch-built
    // Dedup.lshBands over the same corpus.
    val base = tmp()
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val nSlices = 20
    val now = System.currentTimeMillis()
    Files.createDirectories(Paths.get(s"$base/in"))
    (0 until nSlices).foreach { i =>
      docs.filter(col("doc_id") % nSlices === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/slice-$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (nSlices - i) * 60000L))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.maintainBandTable(stream, "doc_id", "text",
      s"$base/bands", s"$base/ck-bands")
    q.awaitTermination(300000)
    assert(!q.isActive)
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    assert(progresses.length >= nSlices - 1,
      s"expected ~$nSlices data-bearing triggers, got ${progresses.length}")
    // stateless by construction: nothing accretes in the state store,
    // so a year-long run is as healthy as trigger one
    assert(progresses.forall(_.stateOperators.isEmpty),
      "band-table maintenance must not register stateful operators")
    val table = spark.read.option("recursiveFileLookup", "true").parquet(s"$base/bands")
    val nParts = new java.io.File(s"$base/bands").listFiles()
      .count(_.getName.startsWith("batchId="))
    assert(nParts == progresses.length, s"one partition per batch: $nParts")
    // accreted key space == batch-built key space, key for key
    val maintained = table.select(col("doc_id"), col("band_key"))
    val batchBuilt = graft.operators.Dedup.lshBands(
        graft.operators.Dedup.prepareHashedShingles(docs, "doc_id",
          graft.operators.Dedup.wordShingles("text")),
        "doc_id")
      .select(col("doc_id"), col("band_key"))
    assert(maintained.count() == batchBuilt.count())
    assert(maintained.exceptAll(batchBuilt).isEmpty &&
      batchBuilt.exceptAll(maintained).isEmpty,
      "20-batch accreted band table diverged from the batch build")
    // and compaction still preserves it all
    val kept = StreamingOps.compactBandTable(spark, s"$base/bands", s"$base/bands-compact")
    assert(kept == batchBuilt.count(), s"compaction lost rows: $kept")
    // GROWTH CEILING under sustained churn (VERDICT r11 #8): the raw
    // table accretes >= one small file set per trigger — unbounded
    // file-count growth on a weeks-lived feeder. The compacted copy
    // must collapse to exactly filesPerPartition(=1) data files per
    // batch partition and may not exceed the raw accretion's bytes —
    // the bound an operator relies on when swapping directories
    // between streaming restarts.
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(dir))
    }
    val raw = parquetFiles(s"$base/bands")
    val compacted = parquetFiles(s"$base/bands-compact")
    assert(compacted.length == nParts,
      s"compaction must leave one data file per batch partition: ${compacted.length} vs $nParts")
    assert(compacted.length <= raw.length,
      s"compaction grew the file count: ${compacted.length} > ${raw.length}")
    val rawBytes = raw.map(_.length).sum
    val compactBytes = compacted.map(_.length).sum
    // 10% headroom: this test's raw partitions are already single
    // files (coalesce(1) slices), so the rewrite can pay a sliver of
    // re-encoding metadata; the guarded property is no blow-up
    assert(compactBytes <= rawBytes * 11 / 10,
      s"compaction grew the table: $compactBytes > $rawBytes bytes")
    // absolute sanity ceiling: bytes scale with ROWS, not with trigger
    // count — generous per-row budget for a (long, string) key table
    assert(compactBytes / kept < 512,
      s"compacted band table is ${compactBytes / kept} bytes/row for $kept rows")
  }

  test("maintainIvfIndex: streamed vectors land in the batch path's cells, probes prune, replay overwrites") {
    import graft.functions.CentroidAggregator
    import graft.operators.Similarity
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").limit(400)
    val centroidUdaf = udaf(new CentroidAggregator(64))
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroidUdaf(col("embedding")).as("ctr"))
    centroids.persist().count()
    // two file-batches of 200 vectors each
    val now = System.currentTimeMillis()
    Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0).zipWithIndex.foreach {
      case (p, i) =>
        e.filter(p).select("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$base/staging-$i")
        val part = new java.io.File(s"$base/staging-$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$base/in/b$i.parquet")
        Files.createDirectories(dst.toPath.getParent)
        Files.copy(part.toPath, dst.toPath)
        assert(dst.setLastModified(now - (3 - i) * 60000L))
    }
    val schema = e.select("vec_id", "embedding").schema
    def start() = StreamingOps.maintainIvfIndex(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      centroids, "vec_id", "embedding", s"$base/ivf", s"$base/ck")
    val q = start()
    q.awaitTermination(120000)
    // stream-grown index == batch assignCells over the full corpus
    val got = spark.read.parquet(s"$base/ivf")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Similarity.assignCells(e, centroids, "vec_id", "embedding")
      .select(col("_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want, s"stream assignment diverged from batch (${got.size} vs ${want.size})")
    // an nprobe read prunes to the probed cells across BOTH batch dirs
    val probed = spark.read.parquet(s"$base/ivf").filter(col("cell").isin(0, 1))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"), plan.take(800))
    assert(probed.count() == want.count { case (_, c) => c == 0 || c == 1 })
    // replay batch 1: its directory is overwritten, never duplicated
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    val q2 = start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$base/ivf").count() == want.size.toLong,
      "replayed batch must overwrite its batchId directory, not append")
    centroids.unpersist()
  }

  test("ivfDriftStream: per-batch occupancy PSI equals the batch composition; replay overwrites") {
    import graft.functions.CentroidAggregator
    import graft.operators.{Profiler, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").limit(400)
    val centroidUdaf = udaf(new CentroidAggregator(64))
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroidUdaf(col("embedding")).as("ctr"))
    centroids.persist().count()
    val baseline = e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
    // two arriving batches: batch 0 = odd vecs, all labels (same mix
    // as the even-keyed baseline); batch 1 = odd vecs of high labels
    // only (drifted — half the cells vanish)
    val slices = Seq(
      col("vec_id") % 2 =!= 0,
      col("vec_id") % 2 =!= 0 && col("label") >= 5)
    val now = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (p, i) =>
      e.filter(p).select("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
    }
    val schema = e.select("vec_id", "embedding").schema
    def start() = StreamingOps.ivfDriftStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      centroids, baseline, "vec_id", "embedding", s"$base/psi", s"$base/ck")
    start().awaitTermination(120000)
    // stream == batch: each batchId's rows equal psiCategorical of the
    // same slice against the same baseline
    def psiMap(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getAs[String]("cat") ->
        ((r.getAs[Long]("base_cnt"), r.getAs[Long]("cur_cnt"), r.getAs[Long]("psi_micro"))))
      .toMap
    val baseCells = Similarity.assignCells(baseline, centroids, "vec_id", "embedding")
    slices.zipWithIndex.foreach { case (p, i) =>
      val want = psiMap(Profiler.psiCategorical(
        baseCells,
        Similarity.assignCells(e.filter(p), centroids, "vec_id", "embedding"),
        col("cell")))
      val got = psiMap(spark.read.parquet(s"$base/psi/batchId=$i"))
      assert(got == want, s"batch $i stream != batch composition:\ngot  $got\nwant $want")
    }
    // the drifted batch must alarm louder than the in-mix one
    def total(i: Int) = spark.read.parquet(s"$base/psi/batchId=$i")
      .agg(sum(col("psi_micro"))).head().getLong(0)
    assert(total(1) > total(0),
      s"high-label drift must out-score the low-label batch: ${total(0)} vs ${total(1)}")
    // replay: batch 1's directory is overwritten, never duplicated
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    val n1 = spark.read.parquet(s"$base/psi/batchId=1").count()
    start().awaitTermination(120000)
    assert(spark.read.parquet(s"$base/psi/batchId=1").count() == n1,
      "replayed batch must overwrite its PSI report, not append")
    centroids.unpersist()
  }

  test("compactIvfIndex: one file set per (batchId, cell), pruning keeps planning, replay keeps overwriting") {
    import graft.functions.CentroidAggregator
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").limit(400)
    val centroidUdaf = udaf(new CentroidAggregator(64))
    val centroids = e.groupBy(col("label").cast("int").as("cell"))
      .agg(centroidUdaf(col("embedding")).as("ctr"))
    centroids.persist().count()
    // four file-batches of 100 vectors each -> 4 batchId dirs x cells
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      e.filter(col("vec_id") % 4 === i).select("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val schema = e.select("vec_id", "embedding").schema
    def start(indexDir: String) = StreamingOps.maintainIvfIndex(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      centroids, "vec_id", "embedding", indexDir, s"$base/ck")
    start(s"$base/ivf").awaitTermination(120000)
    val rowsBefore = spark.read.parquet(s"$base/ivf").count()
    // compact: rewrite lost nothing, file ceiling holds
    val written = StreamingOps.compactIvfIndex(spark, s"$base/ivf", s"$base/ivf2")
    assert(written == rowsBefore, s"compaction lost rows: $written vs $rowsBefore")
    val nDirs = spark.read.parquet(s"$base/ivf2")
      .select("batchId", "cell").distinct().count()
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(dir))
    }
    val files = parquetFiles(s"$base/ivf2")
    assert(files.length <= nDirs,
      s"filesPerPartition=1 must leave <= one file per (batchId, cell) dir: ${files.length} vs $nDirs")
    // an nprobe read over the COMPACTED store still prunes on cell
    val probed = spark.read.parquet(s"$base/ivf2").filter(col("cell").isin(0, 1))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"), plan.take(800))
    val wantProbed = spark.read.parquet(s"$base/ivf")
      .filter(col("cell").isin(0, 1)).count()
    assert(probed.count() == wantProbed)
    // a replayed batch against the compacted store overwrites its own
    // batchId partition: no duplicates, nothing resurrected
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/3")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.3.crc"))
    start(s"$base/ivf2").awaitTermination(120000)
    val after = spark.read.parquet(s"$base/ivf2")
    assert(after.count() == rowsBefore,
      "replayed batch must overwrite its compacted batchId directory, not append")
    assert(after.select("vec_id").distinct().count() == rowsBefore,
      "every vector exactly once after replay-over-compacted")
    centroids.unpersist()
  }

  test("IvfStore.reindex: nprobe reads return the retrained assignment, exactly a from-scratch index") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    // v1 from half the corpus, then reindex over the full corpus
    val v1 = IvfStore.reindex(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", k = 4, iters = 2, dim = 64,
      s"$base/store", gridUnits = 1024L)
    assert(v1 == 1L)
    val v2 = IvfStore.reindex(e, "vec_id", "embedding", k = 4, iters = 2,
      dim = 64, s"$base/store", gridUnits = 1024L)
    assert(v2 == 2L && IvfStore.liveVersion(spark, s"$base/store").contains(2L))
    // the store's content IS the retrained assignment: identical to a
    // from-scratch assignCells under the version's own stored codebook
    val stored = IvfStore.readCorpus(spark, s"$base/store")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val scratch = Similarity.assignCells(e,
        IvfStore.readCentroids(spark, s"$base/store"), "vec_id", "embedding")
      .select(col("_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == scratch,
      s"reindexed store diverged from a from-scratch index (${stored.size} vs ${scratch.size})")
    // an nprobe read against the new version prunes on cell and serves
    // exactly ivfTopK under the same codebook over the same corpus
    val queries = e.filter(col("vec_id") < 5)
    val got = IvfStore.topK(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"store read must partition-prune on cell:\n${plan.take(800)}")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val want = Similarity.ivfTopK(e, queries,
      IvfStore.readCentroids(spark, s"$base/store"),
      "vec_id", "embedding", k = 3, nprobe = 2)
    assert(key(got) == key(want),
      "store-served top-k must equal ivfTopK under the same codebook")
  }

  test("IvfStore cutover: an in-flight reader sees old or new, never a mix; unpublished versions are invisible") {
    import graft.operators.IvfStore
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val half = e.filter(col("vec_id") % 2 === 0)
    IvfStore.reindex(half, "vec_id", "embedding", 4, 1, 64, s"$base/store")
    val halfN = half.count()
    // reader binds to v1 at resolve time
    val inFlight = IvfStore.readCorpus(spark, s"$base/store")
    assert(inFlight.count() == halfN)
    // a COMPLETE but UNPUBLISHED version is invisible to resolution
    IvfStore.bootstrap(e,
      IvfStore.readCentroids(spark, s"$base/store"),
      "vec_id", "embedding", s"$base/other", 9L) // separate dir: build parts
    val fullData = new java.io.File(IvfStore.dataDir(s"$base/other", 9L))
    assert(fullData.isDirectory)
    assert(IvfStore.liveVersion(spark, s"$base/store").contains(1L),
      "another store's publish must not affect this one")
    // publish() refuses a marker over a half-written version
    intercept[IllegalArgumentException] {
      IvfStore.publish(spark, s"$base/store", 7L)
    }
    // a concurrent writer's claim on the next version makes a second
    // reindex fail fast instead of blending two writers' output
    Files.createDirectories(Paths.get(s"$base/store/claims"))
    Files.createFile(Paths.get(s"$base/store/claims/v-2"))
    intercept[IllegalStateException] {
      IvfStore.reindex(e, "vec_id", "embedding", 4, 1, 64, s"$base/store")
    }
    Files.delete(Paths.get(s"$base/store/claims/v-2")) // writer confirmed dead
    // cut over to v2 while the v1 reader is in flight
    val v2 = IvfStore.reindex(e, "vec_id", "embedding", 4, 1, 64, s"$base/store")
    assert(v2 == 2L)
    // the in-flight reader still reads exactly v1 (old), never a blend
    assert(inFlight.count() == halfN,
      "a reader resolved before the cutover must keep reading its version")
    assert(inFlight.inputFiles.forall(_.contains("/v=1/")),
      "in-flight reader's files must all come from v=1")
    // a fresh resolve reads exactly v2 (new)
    val after = IvfStore.readCorpus(spark, s"$base/store")
    assert(after.count() == e.count())
    assert(after.inputFiles.forall(_.contains("/v=2/")))
    // a keepFrom above live would delete EVERY version — refused
    intercept[IllegalArgumentException] {
      IvfStore.dropVersionsBelow(spark, s"$base/store", 3L)
    }
    // old version prunes once its readers drain; live stays v2
    IvfStore.dropVersionsBelow(spark, s"$base/store", 2L)
    assert(!new java.io.File(s"$base/store/v=1").exists())
    assert(IvfStore.liveVersion(spark, s"$base/store").contains(2L))
    assert(IvfStore.readCorpus(spark, s"$base/store").count() == e.count())
  }

  test("IvfStore: a feeder resumed against the reindexed version keeps its replay discipline") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val bulk = e.filter(col("vec_id") % 2 === 0)
    IvfStore.reindex(bulk, "vec_id", "embedding", 4, 2, 64, s"$base/store", 1024L)
    val dataDir = IvfStore.dataDir(s"$base/store", 2L)
    val v2 = IvfStore.reindex(bulk, "vec_id", "embedding", 4, 2, 64, s"$base/store", 1024L)
    assert(v2 == 2L)
    val bulkN = spark.read.parquet(dataDir).count()
    // two arrival batches for the resumed feeder
    val now = System.currentTimeMillis()
    Seq(col("vec_id") % 4 === 1, col("vec_id") % 4 === 3).zipWithIndex.foreach {
      case (p, i) =>
        e.filter(p).coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$i")
        val part = new java.io.File(s"$base/staging-$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$base/in/b$i.parquet")
        Files.createDirectories(dst.toPath.getParent)
        Files.copy(part.toPath, dst.toPath)
        assert(dst.setLastModified(now - (3 - i) * 60000L))
    }
    val centroids = IvfStore.readCentroids(spark, s"$base/store")
    centroids.persist().count()
    def start() = StreamingOps.maintainIvfIndex(
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      centroids, "vec_id", "embedding", dataDir, s"$base/ck")
    start().awaitTermination(120000)
    // feeder batchIds 0..1 land BESIDE the bootstrap batchId=-1, never on it
    val dirs = new java.io.File(dataDir).listFiles().map(_.getName)
      .filter(_.startsWith("batchId=")).toSet
    assert(dirs == Set("batchId=-1", "batchId=0", "batchId=1"), dirs.toString)
    val total = spark.read.parquet(dataDir)
    val odd = e.filter(col("vec_id") % 2 =!= 0).count()
    assert(total.count() == bulkN + odd)
    // replay batch 1: overwrites its own directory; the bootstrap
    // partition is untouched
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    start().awaitTermination(120000)
    assert(spark.read.parquet(dataDir).count() == bulkN + odd,
      "replayed batch must overwrite, never duplicate or touch the bootstrap")
    assert(spark.read.parquet(s"$dataDir/batchId=-1").count() == bulkN)
    // the fed store still equals batch assignment under the same codebook
    val got = spark.read.parquet(dataDir).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Similarity.assignCells(e, centroids, "vec_id", "embedding")
      .select(col("_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want)
    centroids.unpersist()
  }

  test("IvfStore.catchUp: arrivals during a retrain migrate into the new version, exactly once, re-assigned") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // v1 = the initial corpus (vec_id % 4 == 0) indexed
    IvfStore.reindex(e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      4, 2, 64, s"$base/store", 1024L)
    // three feeder batches (vec_id % 4 in {1,2,3}) land into v1 while
    // the store serves
    val now = System.currentTimeMillis()
    (0 until 3).foreach { i =>
      e.filter(col("vec_id") % 4 === i + 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val v1Data = IvfStore.dataDir(s"$base/store", 1L)
    StreamingOps.maintainIvfIndex(
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      IvfStore.readCentroids(spark, s"$base/store"),
      "vec_id", "embedding", v1Data, s"$base/ck")
      .awaitTermination(120000)
    // retrain SNAPSHOT = everything through batchId 0; batches 1,2
    // arrive "during the retrain"
    val snapshot = spark.read.parquet(v1Data).filter(col("batchId") <= 0)
      .select("vec_id", "embedding")
    val v2 = IvfStore.reindex(snapshot, "vec_id", "embedding", 4, 2, 64,
      s"$base/store", 1024L)
    assert(v2 == 2L)
    val migrated = IvfStore.catchUp(spark, s"$base/store", 1L, 2L, afterBatchId = 0L)
    val want = spark.read.parquet(v1Data)
      .filter(col("batchId").isin(1, 2)).count()
    assert(migrated == want, s"migrated $migrated of $want pending rows")
    // the new version now carries EVERY vector exactly once...
    val v2Data = spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L))
    assert(v2Data.count() == e.count())
    assert(v2Data.select("vec_id").distinct().count() == e.count())
    // ...assigned under the NEW codebook, byte-equal to a batch pass
    val got = v2Data.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val scratch = Similarity.assignCells(e,
        IvfStore.readCentroids(spark, s"$base/store"), "vec_id", "embedding")
      .select(col("_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == scratch, "catch-up rows must be re-assigned, not copied")
    // migrated directories keep the feeder layout: cell-pruned reads plan
    val probed = spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L))
      .filter(col("cell") === 0)
    probed.collect()
    assert(probed.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
    // a crashed catch-up re-run converges (overwrite, not append)
    assert(IvfStore.catchUp(spark, s"$base/store", 1L, 2L, 0L) == want)
    assert(spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L)).count() == e.count())
  }

  test("IvfStore PQ: the compressed serving plan — topKPq == ivfPqTopK under the stored codebooks, ADC scan reads codes not vectors") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val centroids = Similarity.trainKMeans(e, "vec_id", "embedding", 4, 2, 64, 1024L)
    val cbs = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
      nSub = 8, subDim = 8, codes = 16, iters = 1)
    val n = IvfStore.bootstrap(e, centroids, "vec_id", "embedding",
      s"$base/store", 1L, Some(cbs))
    assert(n == e.count())
    assert(IvfStore.hasPq(spark, s"$base/store", 1L))
    // every stored row carries its codes, equal to a from-scratch
    // pqEncode under the version's own stored codebooks
    val storedCbs = IvfStore.readCodebooks(spark, s"$base/store")
    val stored = IvfStore.readCorpus(spark, s"$base/store")
    assert((0 until 8).forall(i => stored.columns.contains(s"c$i")))
    val gotCodes = stored.select("vec_id", "c0", "c3", "c7").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val wantCodes = Similarity.pqEncode(e, storedCbs, "vec_id", "embedding")
      .select("_id", "c0", "c3", "c7").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(gotCodes == wantCodes, "stored codes must equal pqEncode under the stored codebooks")
    // served results: exactly the ivfPqTopK plan over the same inputs
    val queries = e.filter(col("vec_id") < 5)
    val got = IvfStore.topKPq(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val want = Similarity.ivfPqTopK(e, queries,
      IvfStore.readCentroids(spark, s"$base/store"), storedCbs,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)
    assert(key(got) == key(want),
      "store-served compressed top-k must equal ivfPqTopK under the same codebooks")
    // THE code-leg assertion: the ADC scan's ReadSchema carries the
    // int codes and NOT the vector column — the 16-32x smaller read;
    // the only scan that reads `embedding` is the shortlist re-rank
    val scanLines = got.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("ReadSchema"))
    val codeScans = scanLines.filter(l => l.contains("c0:int"))
    assert(codeScans.nonEmpty, s"no codes scan found:\n${scanLines.mkString("\n")}")
    assert(codeScans.forall(!_.contains("embedding")),
      s"ADC scan must not read the vector column:\n${codeScans.mkString("\n")}")
    assert(scanLines.exists(l => l.contains("PartitionFilters") && l.contains("cell")),
      "probed-cell partition pruning must reach the scans")
    // exact serving still works beside the compressed plan
    val exact = IvfStore.topK(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    assert(exact.count() == queries.count() * 3)
  }

  test("IvfStore PQ: reindex to a PQ version + single-job catchUp re-encodes arrivals under the NEW codebooks") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // v1: plain (exact-only) version over a quarter of the corpus
    IvfStore.reindex(e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      4, 2, 64, s"$base/store", 1024L)
    // feeder batches land into v1
    val now = System.currentTimeMillis()
    (0 until 3).foreach { i =>
      e.filter(col("vec_id") % 4 === i + 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val v1Data = IvfStore.dataDir(s"$base/store", 1L)
    StreamingOps.maintainIvfIndex(
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      IvfStore.readCentroids(spark, s"$base/store"),
      "vec_id", "embedding", v1Data, s"$base/ck")
      .awaitTermination(120000)
    // v2: PQ-ENABLED reindex over the snapshot (through batchId 0)
    val snapshot = spark.read.parquet(v1Data).filter(col("batchId") <= 0)
      .select("vec_id", "embedding")
    val v2 = IvfStore.reindex(snapshot, "vec_id", "embedding", 4, 2, 64,
      s"$base/store", 1024L, pqCodes = 16, pqIters = 1)
    assert(v2 == 2L && IvfStore.hasPq(spark, s"$base/store", 2L))
    val migrated = IvfStore.catchUp(spark, s"$base/store", 1L, 2L, afterBatchId = 0L)
    val want = spark.read.parquet(v1Data).filter(col("batchId").isin(1, 2)).count()
    assert(migrated == want, s"migrated $migrated of $want pending rows")
    val v2Data = spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L))
    assert(v2Data.count() == e.count())
    assert(v2Data.select("vec_id").distinct().count() == e.count())
    // migrated rows carry codes, equal to pqEncode under v2's codebooks
    val storedCbs = IvfStore.readCodebooks(spark, s"$base/store")
    val gotCodes = v2Data.filter(col("batchId") > 0)
      .select("vec_id", "c0", "c7").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // batch 0 ingested the %4==1 file, so batches 1,2 hold %4 in {2,3}
    val migratedVecs = e.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3)
    val wantCodes = Similarity.pqEncode(migratedVecs, storedCbs, "vec_id", "embedding")
      .select("_id", "c0", "c7").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(gotCodes == wantCodes,
      "migrated rows must be re-ENCODED under the new version's codebooks")
    // bootstrap partition untouched by the dynamic-overwrite migration
    assert(v2Data.filter(col("batchId") === IvfStore.BootstrapBatchId).count() ==
      snapshot.count())
    // a crashed catch-up re-run converges through the single-job path too
    assert(IvfStore.catchUp(spark, s"$base/store", 1L, 2L, 0L) == want)
    assert(spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L)).count() == e.count())
    // and the compressed plan serves the caught-up store end to end
    val queries = e.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val got = IvfStore.topKPq(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)
    val scratch = Similarity.ivfPqTopK(e, queries,
      IvfStore.readCentroids(spark, s"$base/store"), storedCbs,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)
    assert(key(got) == key(scratch),
      "compressed serving over the caught-up store must equal the from-scratch plan")
  }

  test("IvfStore.compactVersion: PQ feeder batches compact into a NEW published version — content, codes, serving identical") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // v1: PQ-enabled over a quarter of the corpus
    IvfStore.reindex(e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      4, 2, 64, s"$base/store", 1024L, pqCodes = 16, pqIters = 1)
    // PQ-AWARE feeder: three batches encoded under the STORED codebooks
    val now = System.currentTimeMillis()
    (0 until 3).foreach { i =>
      e.filter(col("vec_id") % 4 === i + 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    StreamingOps.maintainIvfIndex(
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      IvfStore.readCentroids(spark, s"$base/store"),
      "vec_id", "embedding", IvfStore.dataDir(s"$base/store", 1L), s"$base/ck",
      codebooks = Some(IvfStore.readCodebooks(spark, s"$base/store")))
      .awaitTermination(120000)
    // fed rows carry codes equal to pqEncode under the stored codebooks
    val storedCbs = IvfStore.readCodebooks(spark, s"$base/store")
    val v1Data = spark.read.parquet(IvfStore.dataDir(s"$base/store", 1L))
    assert(v1Data.count() == e.count())
    val fedCodes = v1Data.filter(col("batchId") >= 0)
      .select("vec_id", "c0", "c7").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val wantCodes = Similarity.pqEncode(e.filter(col("vec_id") % 4 =!= 0),
        storedCbs, "vec_id", "embedding")
      .select("_id", "c0", "c7").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(fedCodes == wantCodes, "fed batches must carry stored-codebook codes")
    // the compressed plan serves bootstrap bulk AND fed batches
    val queries = e.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val servedV1 = key(IvfStore.topKPq(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20))
    // compact into v2: fewer files, identical content, atomic cutover
    def nFiles(v: Long): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(IvfStore.dataDir(s"$base/store", v)))
    }
    val before = nFiles(1L)
    val v2 = IvfStore.compactVersion(spark, s"$base/store", writerTasks = 2)
    assert(v2 == 2L && IvfStore.liveVersion(spark, s"$base/store").contains(2L))
    assert(nFiles(2L) <= before, s"compaction must not grow files: ${nFiles(2L)} vs $before")
    def contents(v: Long) = spark.read.parquet(IvfStore.dataDir(s"$base/store", v))
      .select(col("vec_id"), col("cell").cast("int"),
        col("batchId").cast("long"), col("c0"), col("c7")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4))).toSet
    assert(contents(2L) == contents(1L),
      "compaction must preserve rows, batchIds, cells AND codes exactly")
    assert(IvfStore.hasPq(spark, s"$base/store", 2L), "codebooks must copy to the new version")
    // serving through the compacted version is identical
    assert(key(IvfStore.topKPq(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)) == servedV1)
    // FOLDING compaction (round 17): batchIds at or below the boundary
    // collapse into the bootstrap partition — directory count drops to
    // one, rows/codes/serving stay identical
    val boundary = IvfStore.maxBatchId(spark, s"$base/store", 2L)
    val v3 = IvfStore.compactVersion(spark, s"$base/store", writerTasks = 2,
      foldBatchesUpTo = boundary)
    assert(v3 == 3L)
    val v3dirs = new java.io.File(IvfStore.dataDir(s"$base/store", 3L))
      .listFiles().map(_.getName).filter(_.startsWith("batchId=")).toSeq
    assert(v3dirs == Seq("batchId=-1"), s"folded version must carry one batch dir: $v3dirs")
    def rowsOf(v: Long) = spark.read.parquet(IvfStore.dataDir(s"$base/store", v))
      .select(col("vec_id"), col("cell").cast("int"), col("c0"), col("c7")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(rowsOf(3L) == rowsOf(2L), "folding must preserve rows, cells and codes")
    assert(key(IvfStore.topKPq(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)) == servedV1)
    assert(IvfStore.strandedBatchIds(spark, s"$base/store", 2L, 3L,
      afterBatchId = boundary).isEmpty,
      "nothing above the fold boundary existed, so nothing is stranded")
    // round 18 (ADVICE): the fold RECORDS its boundary in the new
    // version, so the mechanical heal is duplicate-safe after a full
    // fold too — maxBatchId(v3) is the bootstrap id (the old feeder
    // dirs collapsed), and without the recorded floor the documented
    // recipe `catchUp(afterBatchId = maxBatchId(next))` would
    // re-migrate every folded batch as duplicates
    assert(IvfStore.foldBoundary(spark, s"$base/store", 3L).contains(boundary),
      "a folding compaction must record its boundary in the new version")
    assert(IvfStore.foldBoundary(spark, s"$base/store", 2L).isEmpty,
      "a non-folding compaction records no boundary")
    assert(IvfStore.maxBatchId(spark, s"$base/store", 3L) ==
      IvfStore.BootstrapBatchId)
    assert(IvfStore.strandedBatchIds(spark, s"$base/store", 2L, 3L).isEmpty,
      "folded batches must not read as stranded under the DEFAULT boundary")
    val healed = IvfStore.catchUp(spark, s"$base/store", 2L, 3L,
      afterBatchId = IvfStore.maxBatchId(spark, s"$base/store", 3L),
      idCol = "vec_id", vecCol = "embedding")
    assert(healed == 0L, s"the heal recipe after a full fold must migrate nothing, got $healed")
    assert(rowsOf(3L) == rowsOf(2L), "no duplicates after the heal")
    assert(spark.read.parquet(IvfStore.dataDir(s"$base/store", 3L)).count() ==
      spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L)).count(),
      "row COUNT must match too (set equality would mask duplicates)")
    // claims still exclude concurrent writers of the next version
    Files.createDirectories(Paths.get(s"$base/store/claims"))
    Files.createFile(Paths.get(s"$base/store/claims/v-4"))
    intercept[IllegalStateException] {
      IvfStore.compactVersion(spark, s"$base/store")
    }
  }

  test("IvfStore.reclaim: a crashed reindex is recoverable; published versions refuse; fresh claims still exclude") {
    import graft.operators.IvfStore
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    IvfStore.reindex(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      4, 1, 64, s"$base/store", 1024L)
    // simulate a writer that crashed between claim and publish: its
    // claim file exists and v=2 is half-written (no marker)
    Files.createDirectories(Paths.get(s"$base/store/claims"))
    Files.createFile(Paths.get(s"$base/store/claims/v-2"))
    Files.createDirectories(Paths.get(s"$base/store/v=2/data"))
    Files.write(Paths.get(s"$base/store/v=2/data/garbage"), Array[Byte](1, 2, 3))
    // strict default: the claim blocks and the error names the remedy
    val ex = intercept[IllegalStateException] {
      IvfStore.reindex(e, "vec_id", "embedding", 4, 1, 64, s"$base/store", 1024L)
    }
    assert(ex.getMessage.contains("reclaim"))
    // reclaim removes the claim AND the half-written version
    IvfStore.reclaim(spark, s"$base/store", 2L)
    assert(!Files.exists(Paths.get(s"$base/store/claims/v-2")))
    assert(!Files.exists(Paths.get(s"$base/store/v=2")))
    // the re-run converges
    val v2 = IvfStore.reindex(e, "vec_id", "embedding", 4, 1, 64, s"$base/store", 1024L)
    assert(v2 == 2L && IvfStore.liveVersion(spark, s"$base/store").contains(2L))
    assert(IvfStore.readCorpus(spark, s"$base/store").count() == e.count())
    // a PUBLISHED version refuses reclaim — its dirs belong to readers
    intercept[IllegalArgumentException] {
      IvfStore.reclaim(spark, s"$base/store", 2L)
    }
    // stale-claim auto path: an old claim with no marker is reclaimed
    Files.createFile(Paths.get(s"$base/store/claims/v-3"))
    Thread.sleep(100)
    val v3 = IvfStore.reindex(e, "vec_id", "embedding", 4, 1, 64,
      s"$base/store", 1024L, staleClaimMs = 50L)
    assert(v3 == 3L)
    // ...but a FRESH claim still excludes even with the auto path on —
    // concurrent-writer exclusion holds
    Files.createFile(Paths.get(s"$base/store/claims/v-4"))
    intercept[IllegalStateException] {
      IvfStore.reindex(e, "vec_id", "embedding", 4, 1, 64,
        s"$base/store", 1024L, staleClaimMs = 3600000L)
    }
  }

  test("IvfStore self-describing geometry: non-default (nSub=4, subDim=16) serves with NO geometry args; wrong explicit args throw; code-less feeder vs PQ version fails at start") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val centroids = Similarity.trainKMeans(e, "vec_id", "embedding", 4, 2, 64, 1024L)
    // NON-DEFAULT geometry: 4 subspaces of 16 dims
    val cbs = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
      nSub = 4, subDim = 16, codes = 8, iters = 1)
    IvfStore.bootstrap(e, centroids, "vec_id", "embedding", s"$base/store", 1L, Some(cbs))
    assert(IvfStore.pqGeometry(spark, s"$base/store", 1L) == ((4, 16)))
    // exactly c0..c3 stored — the round-16 default (8) would have
    // mis-encoded or mis-read this store
    val stored = IvfStore.readCorpus(spark, s"$base/store")
    assert(stored.columns.count(_.matches("c\\d+")) == 4)
    // serving with NO geometry args equals the from-scratch plan under
    // the same (4, 16) codebooks
    val queries = e.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val got = IvfStore.topKPq(spark, s"$base/store", queries,
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20)
    val want = Similarity.ivfPqTopK(e, queries,
      IvfStore.readCentroids(spark, s"$base/store"),
      IvfStore.readCodebooks(spark, s"$base/store"),
      "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 20,
      nSub = 4, subDim = 16)
    assert(key(got) == key(want),
      "a (4,16) store must serve correctly with geometry derived, not defaulted")
    // explicit-but-wrong geometry fails loudly instead of silently
    // serving a degraded shortlist from a code-column prefix
    val ex = intercept[IllegalArgumentException] {
      IvfStore.topKPq(spark, s"$base/store", queries,
        "vec_id", "embedding", 5, 3, 20, nSub = 8, subDim = 8).collect()
    }
    assert(ex.getMessage.contains("nSub"))
    // catchUp with explicit (idCol, vecCol) — no schema sniff — and
    // derived geometry migrates + re-encodes correctly: a pending
    // batch lands in v1 (code-less — catchUp re-derives everything),
    // then a same-geometry v2 reindex over the bootstrap snapshot
    val pend = Similarity.assignCells(e.filter(col("vec_id") % 7 === 0),
        IvfStore.readCentroids(spark, s"$base/store"), "vec_id", "embedding")
      .select(col("_id").as("vec_id"), col("_v").as("embedding"), col("cell"))
    pend.write.partitionBy("cell")
      .parquet(s"${IvfStore.dataDir(s"$base/store", 1L)}/batchId=0")
    val snapshot = spark.read
      .parquet(s"${IvfStore.dataDir(s"$base/store", 1L)}/batchId=-1")
      .select("vec_id", "embedding")
    val v2 = IvfStore.reindex(snapshot, "vec_id", "embedding", 4, 2, 64,
      s"$base/store", 1024L, pqCodes = 8, nSub = 4, subDim = 16, pqIters = 1)
    assert(v2 == 2L && IvfStore.pqGeometry(spark, s"$base/store", 2L) == ((4, 16)))
    val migrated = IvfStore.catchUp(spark, s"$base/store", 1L, 2L,
      afterBatchId = -1L, idCol = "vec_id", vecCol = "embedding")
    assert(migrated == e.filter(col("vec_id") % 7 === 0).count())
    val reread = spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L))
    assert(reread.filter(col("batchId") === 0).columns.count(_.matches("c\\d+")) == 4,
      "migrated rows must carry the derived (4,16) geometry's code columns")
    // mismatched explicit columns fail loudly
    val exCols = intercept[IllegalArgumentException] {
      IvfStore.catchUp(spark, s"$base/store", 1L, 2L, -1L,
        idCol = "vec_id", vecCol = "nope")
    }
    assert(exCols.getMessage.contains("nope"))
    IvfStore.bootstrap(e.filter(col("vec_id") % 7 =!= 0), centroids,
      "vec_id", "embedding", s"$base/store2", 1L, Some(cbs))
    // the feeder guard: a code-less feeder against this PQ version
    // throws at start(), not at recall time
    Files.createDirectories(Paths.get(s"$base/never-read"))
    val exFeed = intercept[IllegalStateException] {
      StreamingOps.maintainIvfIndex(
        spark.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/never-read"),
        IvfStore.readCentroids(spark, s"$base/store"),
        "vec_id", "embedding", IvfStore.dataDir(s"$base/store", 1L), s"$base/ck-guard")
    }
    assert(exFeed.getMessage.contains("codebooks"))
    // a PQ-aware feeder with the (4,16) codebooks encodes 4 columns
    e.filter(col("vec_id") % 11 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/staging-g")
    val part = new java.io.File(s"$base/staging-g").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$base/in-g/b0.parquet")
    Files.createDirectories(dst.toPath.getParent)
    Files.copy(part.toPath, dst.toPath)
    StreamingOps.maintainIvfIndex(
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in-g"),
      IvfStore.readCentroids(spark, s"$base/store2"),
      "vec_id", "embedding", IvfStore.dataDir(s"$base/store2", 1L), s"$base/ck-g",
      codebooks = Some(IvfStore.readCodebooks(spark, s"$base/store2")))
      .awaitTermination(120000)
    val fed = spark.read.parquet(
      s"${IvfStore.dataDir(s"$base/store2", 1L)}/batchId=0")
    assert(fed.columns.count(_.matches("c\\d+")) == 4,
      "the feeder must encode with the codebooks' own geometry")
  }

  test("IvfStore.strandedBatchIds + maxBatchId: a feeder writing through a compaction is detected and healed mechanically") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    IvfStore.reindex(e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      4, 2, 64, s"$base/store", 1024L, pqCodes = 16, pqIters = 1)
    val ctrs = IvfStore.readCentroids(spark, s"$base/store")
    val cbs = IvfStore.readCodebooks(spark, s"$base/store")
    // the PQ-aware feeder's layout, written directly: cell-assigned
    // rows WITH their stored-codebook codes (the maintainIvfIndex
    // batch body, minus the stream plumbing already e2e'd above)
    def feedBatch(b: Long, pred: org.apache.spark.sql.Column): Unit = {
      val assigned = Similarity.assignCells(e.filter(pred), ctrs, "vec_id", "embedding")
        .select(col("_id").as("vec_id"), col("_v").as("embedding"), col("cell"))
      val codes = Similarity.pqEncode(e.filter(pred), cbs, "vec_id", "embedding")
        .withColumnRenamed("_id", "vec_id")
      assigned.join(codes, "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"${IvfStore.dataDir(s"$base/store", 1L)}/batchId=$b")
    }
    feedBatch(0L, col("vec_id") % 3 === 1)
    assert(IvfStore.maxBatchId(spark, s"$base/store", 1L) == 0L)
    val v2 = IvfStore.compactVersion(spark, s"$base/store", writerTasks = 2)
    assert(v2 == 2L)
    assert(IvfStore.strandedBatchIds(spark, s"$base/store", 1L, 2L).isEmpty,
      "compaction preserves batchIds — nothing stranded yet")
    // the feeder keeps writing into the OLD version mid-cutover
    feedBatch(1L, col("vec_id") % 3 === 2)
    assert(IvfStore.strandedBatchIds(spark, s"$base/store", 1L, 2L) == Seq(1L),
      "a batch landed in the old version after the snapshot must be reported")
    // mechanical heal: catchUp from the new version's own max batchId
    val boundary = IvfStore.maxBatchId(spark, s"$base/store", 2L)
    assert(boundary == 0L)
    val migrated = IvfStore.catchUp(spark, s"$base/store", 1L, 2L,
      afterBatchId = boundary)
    assert(migrated == e.filter(col("vec_id") % 3 === 2).count())
    assert(IvfStore.strandedBatchIds(spark, s"$base/store", 1L, 2L).isEmpty,
      "after the heal the audit must come back clean")
    // the healed version serves every vector; migrated rows carry codes
    val v2Data = spark.read.parquet(IvfStore.dataDir(s"$base/store", 2L))
    assert(v2Data.count() == e.count())
    assert(v2Data.filter(col("batchId") === 1L)
      .columns.count(_.matches("c\\d+")) == 8)
    IvfStore.dropVersionsBelow(spark, s"$base/store", 2L)
    assert(!new java.io.File(s"$base/store/v=1").exists())
  }

  test("serveTopKStream: per-trigger version binding across a mid-stream reindex — old or new, never mixed") {
    import graft.operators.IvfStore
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // v1: half the corpus, PQ-enabled — the serving leg runs compressed
    IvfStore.reindex(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      4, 2, 64, s"$base/store", 1024L, pqCodes = 16, pqIters = 1)
    def addQueryFile(name: String, pred: org.apache.spark.sql.Column): Unit = {
      e.filter(pred).coalesce(1).write.mode("overwrite").parquet(s"$base/staging-$name")
      val part = new java.io.File(s"$base/staging-$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/$name.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      ()
    }
    def serve() = StreamingOps.serveTopKStream(
      spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      s"$base/store", "vec_id", "embedding", k = 3, nprobe = 2,
      s"$base/out", s"$base/ck", compressed = true, shortlist = 12)
    addQueryFile("q0", col("vec_id") < 5)
    serve().awaitTermination(120000)
    def batchResult(b: Long) = spark.read.parquet(s"$base/out/batchId=$b")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank", "exact_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // trigger 0 bound v1 and matches a batch serve pinned to v1
    val b0 = batchResult(0L)
    assert(b0.select("served_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L),
      "first trigger must bind (and tag) version 1 — and only it")
    assert(key(b0) == key(IvfStore.topKPqOf(spark, s"$base/store", 1L,
      e.filter(col("vec_id") < 5), "vec_id", "embedding", 3, 2, 12)))
    // reindex mid-stream: full corpus becomes v2
    val v2 = IvfStore.reindex(e, "vec_id", "embedding", 4, 2, 64,
      s"$base/store", 1024L, pqCodes = 16, pqIters = 1)
    assert(v2 == 2L)
    // the next trigger (same checkpoint — a RESUMED serving fleet)
    // binds v2: new corpus, new codebooks, tagged as such
    addQueryFile("q1", col("vec_id") >= 5 && col("vec_id") < 10)
    serve().awaitTermination(120000)
    val b1 = batchResult(1L)
    assert(b1.select("served_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L),
      "post-reindex trigger must bind (and tag) version 2 — and only it")
    assert(key(b1) == key(IvfStore.topKPqOf(spark, s"$base/store", 2L,
      e.filter(col("vec_id") >= 5 && col("vec_id") < 10), "vec_id", "embedding", 3, 2, 12)))
    // a mid-stream COMPACTION cuts over the same way: the next
    // trigger binds the compacted version and serves identically
    val v3 = IvfStore.compactVersion(spark, s"$base/store", writerTasks = 2)
    assert(v3 == 3L)
    addQueryFile("q2", col("vec_id") >= 10 && col("vec_id") < 15)
    serve().awaitTermination(120000)
    val b2 = batchResult(2L)
    assert(b2.select("served_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L),
      "post-compaction trigger must bind (and tag) the compacted version")
    assert(key(b2) == key(IvfStore.topKPqOf(spark, s"$base/store", 3L,
      e.filter(col("vec_id") >= 10 && col("vec_id") < 15), "vec_id", "embedding", 3, 2, 12)))
    // compaction changed the files, not the answers: the same queries
    // against v2 and v3 rank identically
    assert(key(IvfStore.topKPqOf(spark, s"$base/store", 3L,
        e.filter(col("vec_id") >= 10 && col("vec_id") < 15), "vec_id", "embedding", 3, 2, 12)) ==
      key(IvfStore.topKPqOf(spark, s"$base/store", 2L,
        e.filter(col("vec_id") >= 10 && col("vec_id") < 15), "vec_id", "embedding", 3, 2, 12)))
    // no batch directory ever mixes versions
    val perBatch = spark.read.option("basePath", s"$base/out").parquet(s"$base/out")
      .groupBy(col("batchId")).agg(countDistinct(col("served_version")).as("nv"))
      .collect().map(r => r.getLong(1))
    assert(perBatch.nonEmpty && perBatch.forall(_ == 1L),
      "a served batch must carry exactly one version")
  }

  test("RAG loop e2e: chunk -> embed -> PQ store -> compressed serving, provenance intact across a mid-stream compaction") {
    import graft.operators.{CorpusOps, IvfStore}
    val base = tmp()
    // 1. overlapping-window chunking (q114's operator) over documents;
    //    provenance rides as id = doc_id * 1000 + chunk_idx
    val chunks = CorpusOps.chunkDocuments(
        Tables.load(spark, sfDir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull)
          .filter(col("doc_id") < 200),
        col("doc_id"), col("text"), chunkTokens = 32, overlap = 8)
      .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
        col("doc_id"), col("chunk_idx"), col("chunk_text"))
    // 2. deterministic stub embeddings derived from chunk TEXT (the
    //    q200 stub discipline: the vectorizer is fake, the plumbing —
    //    schema, ids, store lifecycle — is real)
    val embedded = chunks.withColumn("vec",
      transform(sequence(lit(0), lit(63)),
        d => pmod(xxhash64(col("chunk_text"), d), lit(1000)).cast("double") / lit(100.0))
        .cast("array<float>"))
    embedded.persist().count()
    val all = embedded.select(col("chunk_id"), col("vec"))
    val nChunks = all.count()
    // 3. PQ-enabled store v1 over the bootstrap half
    val v1 = IvfStore.reindex(all.filter(col("chunk_id") % 2 === 0),
      "chunk_id", "vec", 4, 2, 64, s"$base/store", 1024L, pqCodes = 8, pqIters = 1)
    assert(v1 == 1L)
    // 4. the feeder grows the live version with the other half (one
    //    file batch), encoding under the STORED codebooks
    all.filter(col("chunk_id") % 2 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/staging")
    val part = new java.io.File(s"$base/staging").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$base/in/b0.parquet")
    Files.createDirectories(dst.toPath.getParent)
    Files.copy(part.toPath, dst.toPath)
    StreamingOps.maintainIvfIndex(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      IvfStore.readCentroids(spark, s"$base/store"),
      "chunk_id", "vec", IvfStore.dataDir(s"$base/store", 1L), s"$base/ck-feed",
      codebooks = Some(IvfStore.readCodebooks(spark, s"$base/store")))
      .awaitTermination(120000)
    assert(spark.read.parquet(IvfStore.dataDir(s"$base/store", 1L)).count() == nChunks)
    // 5. compressed serving: queries are a handful of chunk vectors
    def addQueryFile(name: String, pred: org.apache.spark.sql.Column): Unit = {
      all.filter(pred).coalesce(1).write.mode("overwrite").parquet(s"$base/qs-$name")
      val f = new java.io.File(s"$base/qs-$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val d = new java.io.File(s"$base/qin/$name.parquet")
      Files.createDirectories(d.toPath.getParent)
      Files.copy(f.toPath, d.toPath)
      ()
    }
    def serve() = StreamingOps.serveTopKStream(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/qin"),
      s"$base/store", "chunk_id", "vec", k = 3, nprobe = 2,
      s"$base/out", s"$base/ck-serve", compressed = true, shortlist = 12)
    val q0 = col("chunk_id") % 97 === 0
    addQueryFile("q0", q0)
    serve().awaitTermination(120000)
    val b0 = spark.read.parquet(s"$base/out/batchId=0")
    assert(b0.select("served_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // PROVENANCE: every served neighbor decodes to a real
    // (doc_id, chunk_idx) of the chunked corpus
    val chunkKeys = chunks.select(col("doc_id"), col("chunk_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val servedKeys = b0.select((col("neighbor_id") / 1000).cast("long"),
        pmod(col("neighbor_id"), lit(1000)).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(servedKeys.nonEmpty && servedKeys.forall(chunkKeys.contains),
      "every served neighbor must decode to a chunk that exists")
    // 6. mid-stream COMPACTION: the next trigger binds the compacted
    //    version and ranks identically for the same queries
    val v2 = IvfStore.compactVersion(spark, s"$base/store", writerTasks = 2)
    assert(v2 == 2L)
    addQueryFile("q1", q0)
    serve().awaitTermination(120000)
    val b1 = spark.read.parquet(s"$base/out/batchId=1")
    assert(b1.select("served_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank", "exact_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(key(b1) == key(b0),
      "compaction changed the files, not the answers — same queries, same ranking")
    embedded.unpersist()
  }

  test("IvfStore e2e: feed -> planted drift fires the occupancy alarm -> reindex -> drift returns to zero") {
    import graft.operators.{IvfStore, Similarity}
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // index time: the full corpus under 4 trained cells
    IvfStore.reindex(e, "vec_id", "embedding", k = 4, iters = 2,
      dim = 64, s"$base/store", gridUnits = 1024L)
    // the planted drift is in OCCUPANCY space, where the monitor lives:
    // drifted traffic = the vectors of the store's own hottest cell —
    // queries collapsing onto one region of the index, so one cell goes
    // hot and the rest starve (the skew the q210 monitor exists for).
    // The synthetic labels don't separate under a trained codebook
    // (measured: every label spreads ~uniformly over the 4 cells), so a
    // label-sliced "drift" would be a silent no-op here.
    val v1Assigned = Similarity.assignCells(e,
      IvfStore.readCentroids(spark, s"$base/store"), "vec_id", "embedding")
    val hotCell = v1Assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    val hotRegion = e.join(
      v1Assigned.filter(col("cell") === hotCell)
        .select(col("_id").as("vec_id")), "vec_id")
    // arriving traffic: batch 0 in-mix (a fresh corpus-wide sample),
    // batch 1 DRIFTED (hot-region only)
    val slices = Seq(
      e.filter(col("vec_id") % 3 === 0),
      hotRegion)
    val now = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (s, i) =>
      s.select("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
    }
    val schema = e.select("vec_id", "embedding").schema
    StreamingOps.ivfDriftStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      IvfStore.readCentroids(spark, s"$base/store"),
      IvfStore.readCorpus(spark, s"$base/store").select("vec_id", "embedding"),
      "vec_id", "embedding", s"$base/psi", s"$base/ck")
      .awaitTermination(120000)
    def psiTotal(dir: String, b: Int) = spark.read.parquet(s"$dir/batchId=$b")
      .agg(sum(col("psi_micro"))).head().getLong(0)
    val alarmThreshold = 200000L // PSI 0.2 in micro-units, the re-index bar
    assert(psiTotal(s"$base/psi", 0) < alarmThreshold,
      s"in-mix batch must not alarm: ${psiTotal(s"$base/psi", 0)}")
    assert(psiTotal(s"$base/psi", 1) > alarmThreshold,
      s"planted drift must fire the alarm: ${psiTotal(s"$base/psi", 1)}")
    // the alarm's answer: re-index over the regime the traffic shifted
    // to — k-means now SPLITS the hot region across all 4 cells (the
    // production re-balance: more cells where the queries are)
    val v2 = IvfStore.reindex(hotRegion, "vec_id", "embedding", 4, 2, 64,
      s"$base/store", 1024L)
    assert(v2 == 2L)
    // restart the monitor against the new version: a FRESH sample of
    // the same shifted traffic, scored under the new codebook + new
    // baseline, is in-mix again; drift returns to ~zero
    hotRegion.filter(col("vec_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/staging-post")
    val post = new java.io.File(s"$base/staging-post").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$base/in2/b0.parquet")
    Files.createDirectories(dst.toPath.getParent)
    Files.copy(post.toPath, dst.toPath)
    StreamingOps.ivfDriftStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in2"),
      IvfStore.readCentroids(spark, s"$base/store"),
      IvfStore.readCorpus(spark, s"$base/store").select("vec_id", "embedding"),
      "vec_id", "embedding", s"$base/psi2", s"$base/ck2")
      .awaitTermination(120000)
    val after = psiTotal(s"$base/psi2", 0)
    assert(after < alarmThreshold,
      s"after reindex, traffic matching the new mix must not alarm: $after")
    assert(after < psiTotal(s"$base/psi", 1) / 4,
      s"reindex must collapse the drift score: $after vs ${psiTotal(s"$base/psi", 1)}")
  }

  test("curationStream: per-batch dispositions against the accepted-so-far corpus") {
    import spark.implicits._
    val base = tmp()
    val textA = (1 to 120).map(i => s"alpha$i word").mkString(" ")
    val textB = (1 to 120).map(i => s"beta$i token").mkString(" ")
    val textC = (1 to 120).map(i => s"gamma$i item").mkString(" ")
    val nearA = textA + " extra trailing tail"
    // batch 0: A kept (keeper of {1,3}), low-quality, within-batch exact dup
    // batch 1: exact dup of A vs HISTORY; near-dup of A (bands collide,
    //          md5 differs); fresh B kept
    // batch 2: exact dup of B vs the batch-1 accepted set; fresh C kept
    val batches = Seq(
      Seq((1L, textA), (2L, "1 2 3"), (3L, textA)),
      Seq((10L, textA), (11L, nearA), (12L, textB)),
      Seq((20L, textB), (21L, textC)))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      Files.createDirectories(Paths.get(s"$base/in"))
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.curationStream(stream, "doc_id", "text",
      qualityMin = 0.25, s"$base/state", s"$base/out", s"$base/ck")
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "kept", 2L -> "low_quality", 3L -> "exact_dup",
      10L -> "exact_dup", 11L -> "near_dup", 12L -> "kept",
      20L -> "exact_dup", 21L -> "kept"),
      s"every doc gets exactly one disposition against history: $got")
    // only accepted docs enter the history tables later batches screen on
    val mdN = spark.read.parquet(s"$base/state/md5").count()
    val bandIds = spark.read.parquet(s"$base/state/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(mdN == 3L, s"3 accepted md5s, got $mdN")
    assert(bandIds == Set(1L, 12L, 21L), s"band table is accepted-only: $bandIds")
  }

  test("curationStream + Gopher gate: stream == batch rule-for-rule over 3 batches, audit columns on every row, replay stable") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val base = tmp()
    def prose(tag: String, n: Int) = (1 to n)
      .map(i => if (i % 5 == 0) "the" else s"$tag$i").mkString(" ")
    val textA = prose("alpha", 40)
    val textB = prose("beta", 40)
    val textC = prose("gamma", 40)
    val longWords = "the the " + (1 to 18).map(i => s"extraordinarily$i").mkString(" ")
    val repetitive = "the " + ("spam beacon " * 30).trim
    val noStops = (1 to 40).map(i => s"plain$i").mkString(" ")
    val batches = Seq(
      // b0: A kept; 2-word doc fails minWords; in-batch exact dup of A;
      //     long words fail mean length; 1-token doc has NO 2-gram
      Seq((1L, textA), (2L, "the tiny"), (3L, textA), (4L, longWords), (5L, "solo")),
      // b1: exact dup of A vs history; near-dup of A; no-stopword fail
      Seq((10L, textA), (11L, textA + " extra trailing tail"), (12L, noStops)),
      // b2: fresh B and C kept; repetition rule fires
      Seq((20L, textB), (21L, repetitive), (22L, textC)))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      Files.createDirectories(Paths.get(s"$base/in"))
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val gate = TextAnalysis.GopherGate(minWords = 10L, maxWords = 100L,
      minMeanLen = 1.0, maxMeanLen = 9.0, stopWords = Seq("the"),
      minStopHits = 1L, maxTop2Frac = 0.5)
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.curationStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.0, s"$base/state", s"$base/out",
      s"$base/ck", gopher = Some(gate))
    start().awaitTermination(120000)
    val outRows = spark.read.parquet(s"$base/out")
    val got = outRows.select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "kept", 2L -> "low_quality", 3L -> "exact_dup",
      4L -> "low_quality", 5L -> "low_quality",
      10L -> "exact_dup", 11L -> "near_dup", 12L -> "low_quality",
      20L -> "kept", 21L -> "low_quality", 22L -> "kept"),
      s"Gopher rules must decide the quality stage: $got")
    // RULE-FOR-RULE: the stream's audit columns equal the batch
    // operator's signals for every doc the gate scored, per batch
    def sig(r: org.apache.spark.sql.Row, fromIdx: Int) = (
      if (r.isNullAt(fromIdx)) None else Some(r.getLong(fromIdx)),
      if (r.isNullAt(fromIdx + 1)) None else Some(r.getDouble(fromIdx + 1)),
      if (r.isNullAt(fromIdx + 2)) None else Some(r.getLong(fromIdx + 2)),
      if (r.isNullAt(fromIdx + 3)) None else Some(r.getDouble(fromIdx + 3)))
    val streamSigs = outRows
      .select("doc_id", "n_words", "mean_word_len", "stop_hits", "top2_frac")
      .collect().map(r => r.getLong(0) -> sig(r, 1)).toMap
    batches.foreach { rows =>
      val want = TextAnalysis.gopherQualityGate(
          rows.toDF("doc_id", "text"), col("doc_id"), col("text"), gate)
        .select("doc_id", "n_words", "mean_word_len", "stop_hits", "top2_frac")
        .collect().map(r => r.getLong(0) -> sig(r, 1)).toMap
      want.foreach { case (id, s) =>
        assert(streamSigs(id) == s, s"doc $id: stream ${streamSigs(id)} vs batch $s")
      }
    }
    // a doc with no 2-gram is an explicit reject with null top2_frac
    assert(streamSigs(5L)._4.isEmpty, s"doc 5 must carry a null top2_frac: ${streamSigs(5L)}")
    // REPLAY: batch 2 re-runs against exactly the history its first
    // attempt saw and reproduces its rows byte-for-byte
    val before = outRows.filter(col("doc_id") >= 20L).collect()
      .map(_.toString).sorted.toSeq
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/2")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.2.crc"))
    start().awaitTermination(120000)
    val after = spark.read.parquet(s"$base/out").filter(col("doc_id") >= 20L)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "a replayed batch must reproduce its dispositions exactly")
  }

  test("curationStream + C4 pre-clean: boilerplate disposition, history keys on CLEANED text, audit columns, replay stable") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val base = tmp()
    // prose long enough to pass quality once cleaned (5-word lines)
    def prose(seed: Int) = (1 to 8).map(i =>
      (1 to 5).map(j => s"tok${seed}x${(i * 5 + j) % 29}").mkString(" ") + ".")
      .mkString("\n")
    val textA = prose(1)
    val junk = (1 to 6).map(i => s"short $i").mkString("\n") // 2 words, no punct
    val batches = Seq(
      // b0: A kept; lorem page -> boilerplate; page w/ too few kept lines
      Seq((1L, textA), (2L, textA + "\nlorem ipsum dolor sit amet."),
        (3L, "one line only.")),
      // b1: raw text DIFFERS from A (junk appended) but cleans to A ->
      //     exact_dup AGAINST HISTORY proves md5 keys on cleaned text;
      //     fresh B kept
      Seq((10L, textA + "\n" + junk), (11L, prose(2))))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      Files.createDirectories(Paths.get(s"$base/in"))
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val policy = TextAnalysis.C4Policy(Seq("frak"),
      minWordsPerLine = 3, minKeptLines = 2)
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.curationStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.0, s"$base/state", s"$base/out",
      s"$base/ck", c4 = Some(policy))
    start().awaitTermination(120000)
    val outRows = spark.read.parquet(s"$base/out")
    val got = outRows.select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "kept", 2L -> "boilerplate", 3L -> "boilerplate",
      10L -> "exact_dup", 11L -> "kept"),
      s"C4 stage dispositions: $got")
    // audit columns match the batch operator's signals for every page
    val streamSigs = outRows
      .select("doc_id", "n_lines", "kept_lines", "has_lorem")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getInt(3))).toMap
    batches.foreach { rows =>
      TextAnalysis.c4Clean(rows.toDF("doc_id", "text"),
          col("doc_id"), col("text"), policy)
        .select("doc_id", "n_lines", "kept_lines", "has_lorem")
        .collect().foreach { r =>
          val want = (r.getLong(1), r.getLong(2), r.getInt(3))
          assert(streamSigs(r.getLong(0)) == want,
            s"doc ${r.getLong(0)}: stream ${streamSigs(r.getLong(0))} vs batch $want")
        }
    }
    // boilerplate pages are never quality-scored
    assert(outRows.filter(col("disposition") === "boilerplate")
      .collect().forall(_.isNullAt(outRows.columns.indexOf("quality"))))
    // REPLAY: batch 1 reproduces its rows against its original history
    val before = outRows.filter(col("doc_id") >= 10L).collect()
      .map(_.toString).sorted.toSeq
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    start().awaitTermination(120000)
    val after = spark.read.parquet(s"$base/out").filter(col("doc_id") >= 10L)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "a replayed batch must reproduce its dispositions exactly")
  }

  test("classifyStream: frozen NB model routes every batch; stream == batch scoring; replay overwrites") {
    import spark.implicits._
    import graft.operators.CorpusOps
    val base = tmp()
    val train = Seq(
      (1L, "news", "alpha beta gamma alpha beta delta"),
      (2L, "news", "beta gamma alpha delta beta alpha"),
      (3L, "code", "zulu yankee xray zulu whiskey xray"),
      (4L, "code", "xray zulu yankee whiskey zulu yankee")
    ).toDF("doc_id", "label", "text")
    val batches = Seq(
      Seq((10L, "alpha beta gamma beta"), (11L, "zulu xray yankee whiskey")),
      Seq((20L, "alpha zulu beta xray alpha"), (21L, "whiskey yankee zulu")))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (4 - i) * 60000L))
    }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.classifyStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      train, "doc_id", "text", "label", s"$base/out", s"$base/ck", dim = 32)
    start().awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "predicted", "score_u", "margin_u").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val got = key(spark.read.parquet(s"$base/out"))
    // stream == batch, batch by batch, against the same frozen model
    val want = batches.map(rows => key(CorpusOps.nbClassify(
      train, rows.toDF("doc_id", "text"),
      col("doc_id"), col("text"), col("label"), dim = 32)))
      .reduce(_ ++ _)
    assert(got == want, s"stream routing must equal batch scoring:\n$got\nvs\n$want")
    // a replayed batch overwrites its own directory, never duplicates
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    start().awaitTermination(120000)
    assert(key(spark.read.parquet(s"$base/out")) == want)
    // an empty training set fails at setup, not per trigger
    intercept[IllegalArgumentException] {
      StreamingOps.classifyStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
        train.filter(col("label").isNull), "doc_id", "text", "label",
        s"$base/out2", s"$base/ck2", dim = 32)
    }
  }

  test("dsirScoreStream: frozen importance model scores every batch; stream == batch weights; replay overwrites; empty target fails at setup") {
    import spark.implicits._
    import graft.operators.CorpusOps
    val base = tmp()
    val raw = Seq(
      (1L, "alpha beta alpha gamma beta alpha"),
      (2L, "beta gamma alpha beta gamma beta"),
      (3L, "zulu yankee zulu xray yankee zulu"),
      (4L, "xray zulu yankee whiskey zulu yankee")
    ).toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val batches = Seq(
      Seq((10L, "alpha beta gamma beta"), (11L, "zulu xray yankee whiskey")),
      Seq((20L, "alpha zulu beta xray alpha"), (21L, "beta gamma alpha")))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (4 - i) * 60000L))
    }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.dsirScoreStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      raw, target, "doc_id", "text", s"$base/out", s"$base/ck", dim = 32)
    start().awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "dsir_weight_u").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = key(spark.read.parquet(s"$base/out"))
    // stream == batch, in exact integer micro-nats, against the same
    // frozen model — and that model reproduces the dsirWeights integers
    val model = CorpusOps.dsirModel(raw, target, col("doc_id"), col("text"), dim = 32)
    val want = batches.map(rows => key(CorpusOps.dsirScore(
      rows.toDF("doc_id", "text"), model, col("doc_id"), col("text"), dim = 32)))
      .reduce(_ ++ _)
    assert(got == want, s"stream weights must equal batch scoring:\n$got\nvs\n$want")
    // dsirScore over the raw corpus against its own model == dsirWeights
    assert(key(CorpusOps.dsirScore(raw, model, col("doc_id"), col("text"), dim = 32)) ==
      key(CorpusOps.dsirWeights(raw, target, col("doc_id"), col("text"), dim = 32)),
      "the frozen-model split must reproduce the one-shot weights bit-for-bit")
    // a replayed batch overwrites its own directory, never duplicates
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    start().awaitTermination(120000)
    assert(key(spark.read.parquet(s"$base/out")) == want)
    // an empty TARGET fails at setup (an all-smoothed model scores
    // every doc identically — silent mis-routing), not per trigger
    intercept[IllegalArgumentException] {
      StreamingOps.dsirScoreStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
        raw, target.filter(col("doc_id").isNull), "doc_id", "text",
        s"$base/out2", s"$base/ck2", dim = 32)
    }
  }

  test("curationStream: kill/restart replays a batch against exactly the history its first attempt saw") {
    import spark.implicits._
    val base = tmp()
    val textA = (1 to 120).map(i => s"alpha$i word").mkString(" ")
    val textB = (1 to 120).map(i => s"beta$i token").mkString(" ")
    val batches = Seq(
      Seq((1L, textA), (2L, textB)),
      Seq((10L, textA), (11L, textA + " extra trailing tail"), (12L, "1 2 3")))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
    }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.curationStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.25,
      s"$base/state", s"$base/out", s"$base/ck")
    val q1 = start()
    q1.awaitTermination(120000)
    assert(!q1.isActive)
    val want = Map(1L -> "kept", 2L -> "kept",
      10L -> "exact_dup", 11L -> "near_dup", 12L -> "low_quality")
    def dispositions() = spark.read.parquet(s"$base/out")
      .select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dispositions() == want, s"pre-crash: ${dispositions()}")
    // crash between sink and commit: batch 1's marker vanishes, so the
    // restart REPLAYS batch 1 — it must screen against batchId < 1
    // (batch 0 only, NOT its own first-attempt writes under batchId=1)
    // and overwrite, not duplicate, its output and state partitions
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")),
      "commit marker for batch 1 missing")
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    val q2 = start()
    q2.awaitTermination(120000)
    assert(!q2.isActive)
    assert(dispositions() == want, s"post-replay: ${dispositions()}")
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 5, "batchId-keyed overwrite must not duplicate rows")
    assert(spark.read.parquet(s"$base/state/md5").count() == 2L,
      "accepted history must stay {A, B} after replay")
  }

  test("compactCurationHistory: the stream continues against the compacted state and still screens correctly") {
    import spark.implicits._
    val base = tmp()
    val textA = (1 to 120).map(i => s"alpha$i word").mkString(" ")
    val textB = (1 to 120).map(i => s"beta$i token").mkString(" ")
    val now = System.currentTimeMillis()
    def addBatch(i: Int, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.createDirectories(dst.toPath.getParent)
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (6 - i) * 60000L))
    }
    addBatch(0, Seq((1L, textA)))
    addBatch(1, Seq((2L, textB)))
    def start(stateDir: String) = StreamingOps.curationStream(
      spark.readStream.schema(Seq((1L, "x")).toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.25,
      stateDir, s"$base/out", s"$base/ck")
    start(s"$base/state").awaitTermination(120000)
    // compact the two-batch history; rewrite loses nothing
    val (md5N, bandN) = StreamingOps.compactCurationHistory(
      spark, s"$base/state", s"$base/state2")
    assert(md5N == 2L, s"2 accepted md5s through compaction, got $md5N")
    assert(bandN == spark.read.parquet(s"$base/state/bands").count())
    def files(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    assert(files(s"$base/state2/md5") <= 2 && files(s"$base/state2/bands") <= 2,
      "filesPerPartition=1 must leave <= one file per batchId dir")
    // the swapped-in compacted state keeps screening: an exact dup of
    // batch 0's doc and a near-dup of it, both vs COMPACTED history
    addBatch(2, Seq((10L, textA), (11L, textA + " extra trailing tail"), (12L, "1 2 3")))
    start(s"$base/state2").awaitTermination(120000)
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "kept", 2L -> "kept", 10L -> "exact_dup",
      11L -> "near_dup", 12L -> "low_quality"),
      s"screening against compacted history: $got")
  }

  test("curationStream: decontamination gate adds the fifth disposition and survives replay") {
    import spark.implicits._
    val base = tmp()
    val textA = (1 to 120).map(i => s"alpha$i word").mkString(" ")
    val textB = (1 to 120).map(i => s"beta$i token").mkString(" ")
    val evalText = (1 to 60).map(i => s"zeta$i mark").mkString(" ")
    // 8 consecutive eval tokens buried in otherwise-unique text: shares
    // one 8-gram with the benchmark set, no band keys with anything
    def contam(tag: String) =
      (1 to 60).map(i => s"$tag$i item").mkString(" ") + " " +
        (1 to 4).map(i => s"zeta$i mark").mkString(" ") + " " +
        (61 to 120).map(i => s"$tag$i item").mkString(" ")
    val batches = Seq(
      // kept, low_quality, within-batch exact dup, contaminated
      Seq((1L, textA), (2L, "1 2 3"), (3L, textA), (4L, contam("delta"))),
      // exact dup vs history, near-dup vs history, kept, contaminated
      Seq((10L, textA), (11L, textA + " extra trailing tail"),
        (12L, textB), (13L, contam("epsilon"))))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      Files.createDirectories(Paths.get(s"$base/in"))
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
    }
    val evalDf = Seq((9000L, evalText)).toDF("doc_id", "text")
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.curationStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.25,
      s"$base/state", s"$base/out", s"$base/ck",
      evalDocs = Some(evalDf))
    val q1 = start()
    q1.awaitTermination(120000)
    val want = Map(
      1L -> "kept", 2L -> "low_quality", 3L -> "exact_dup",
      4L -> "contaminated",
      10L -> "exact_dup", 11L -> "near_dup", 12L -> "kept",
      13L -> "contaminated")
    def dispositions() = spark.read.parquet(s"$base/out")
      .select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dispositions() == want, s"got ${dispositions()}")
    // contaminated docs never enter the accepted history
    val bandIds = spark.read.parquet(s"$base/state/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(bandIds == Set(1L, 12L), s"accepted-only history, got $bandIds")
    assert(spark.read.parquet(s"$base/state/md5").count() == 2L)
    // docs 4/13 share an 8-gram with the eval set
    val evalGrams = evalDf.select(explode(graft.functions.shingles
      .wordShingles(col("text"), 8)).as("g")).distinct().count()
    assert(evalGrams > 0)
    // replay batch 1: the gate is static, history is batchId-pruned —
    // dispositions and row counts must be identical post-replay
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    val q2 = start()
    q2.awaitTermination(120000)
    assert(dispositions() == want, s"post-replay: ${dispositions()}")
    assert(spark.read.parquet(s"$base/out").count() == 8,
      "batchId-keyed overwrite must not duplicate rows")
    assert(spark.read.parquet(s"$base/state/md5").count() == 2L)
    // the same eval set published as version 0 of an evalDir gate
    // gives the same dispositions (fresh state, out and checkpoint)
    assert(StreamingOps.publishEvalGrams(evalDf, "text", s"$base/eval", version = 0L) > 0)
    StreamingOps.curationStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.25,
      s"$base/state2", s"$base/out2", s"$base/ck2",
      evalDir = Some(s"$base/eval")).awaitTermination(120000)
    val viaDir = spark.read.parquet(s"$base/out2")
      .select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaDir == want, s"evalDir gate: $viaDir")
  }

  test("curationStream: a CHURNING eval set gains a gram mid-stream and gates the next batch, replay-safe") {
    import spark.implicits._
    val base = tmp()
    val textA = (1 to 120).map(i => s"alpha$i word").mkString(" ")
    val textC = (1 to 120).map(i => s"gamma$i item").mkString(" ")
    // one buried 8-gram shared with eval set X resp. Y, otherwise unique
    def withGram(tag: String, ev: String) =
      (1 to 60).map(i => s"$tag$i tok").mkString(" ") + " " +
        (1 to 4).map(i => s"$ev$i mark").mkString(" ") + " " +
        (61 to 120).map(i => s"$tag$i tok").mkString(" ")
    val evalX = Seq((9000L, (1 to 60).map(i => s"zeta$i mark").mkString(" ")))
      .toDF("doc_id", "text")
    val evalY = Seq((9001L, (1 to 60).map(i => s"yps$i mark").mkString(" ")))
      .toDF("doc_id", "text")
    // both versions published BEFORE start: version 0 is active from
    // batch 0, version 2 only from batch 2 — the active gram set
    // CHANGES across triggers of one uninterrupted run, which is the
    // churn contract (no restart, no gate rebuild)
    val nX = StreamingOps.publishEvalGrams(evalX, "text", s"$base/eval", version = 0L)
    val nY = StreamingOps.publishEvalGrams(evalY, "text", s"$base/eval", version = 2L)
    assert(nX > 0 && nY > 0)
    // published versions are IMMUTABLE: re-publishing is a converged
    // no-op (a crashed-and-retried publisher), never an overwrite that
    // could race an in-flight gate reader
    assert(StreamingOps.publishEvalGrams(evalY, "text", s"$base/eval", 2L) == nY)
    // an UNMARKED version directory (a publish that crashed before its
    // marker) is invisible to the gate — plant one whose gram would
    // contaminate doc 22's text and assert it never fires
    Seq((9002L, textC)).toDF("doc_id", "text")
      .select(explode(graft.functions.shingles.wordShingles(col("text"), 8)).as("_g"))
      .select(graft.operators.Dedup.hash48(col("_g")).as("_h")).distinct()
      .write.parquet(s"$base/eval/version=1")
    val batches = Seq(
      // batch 0: X-gram doc contaminated (v0 active); Y-gram doc KEPT
      // (v2 not active yet)
      Seq((1L, textA), (2L, withGram("delta", "zeta")), (3L, withGram("beta", "yps"))),
      // batch 1: still before v2 — another fresh Y-gram doc stays kept
      Seq((10L, withGram("kappa", "yps"))),
      // batch 2: v2 active — a THIRD distinct Y-gram doc is now
      // contaminated; X remains active (versions accumulate)
      Seq((20L, withGram("omega", "yps")), (21L, withGram("sigma", "zeta")),
        (22L, textC)))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      Files.createDirectories(Paths.get(s"$base/in"))
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/staging-$i")
      val part = new java.io.File(s"$base/staging-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$base/in/b$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (5 - i) * 60000L))
    }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = StreamingOps.curationStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      "doc_id", "text", qualityMin = 0.25,
      s"$base/state", s"$base/out", s"$base/ck",
      evalDir = Some(s"$base/eval"))
    start().awaitTermination(120000)
    val want = Map(
      1L -> "kept", 2L -> "contaminated", 3L -> "kept",
      10L -> "kept",
      20L -> "contaminated", 21L -> "contaminated", 22L -> "kept")
    def dispositions() = spark.read.parquet(s"$base/out")
      .select("doc_id", "disposition")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dispositions() == want, s"got ${dispositions()}")
    // docs 3/10 were ACCEPTED before v2 existed: their band keys are
    // history — the churn gate is prospective, never retroactive.
    // Doc 22 (textC) being kept ALSO proves the planted unmarked
    // version=1 directory stayed invisible (its gram would have
    // contaminated 22 at batches 1+ were it trusted).
    val bandIds = spark.read.parquet(s"$base/state/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(bandIds == Set(1L, 3L, 10L, 22L), s"accepted-only history, got $bandIds")
    // replay batch 2: version <= batchId re-selects exactly {v0, v2};
    // dispositions and counts must be identical post-replay
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/2")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.2.crc"))
    start().awaitTermination(120000)
    assert(dispositions() == want, s"post-replay: ${dispositions()}")
    assert(spark.read.parquet(s"$base/out").count() == 7,
      "batchId-keyed overwrite must not duplicate rows")
  }

  test("screenAndMaintain: each batch dedups against all earlier batches in one query") {
    import spark.implicits._
    val base = tmp()
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different historical content about spark engines here"
    val novel = "entirely novel text with no counterpart anywhere in the corpus"
    // three single-file batches: {1,2}, {10=dup of 1}, {20=dup, 21=novel}
    val now = System.currentTimeMillis()
    Seq(Seq((1L, dup), (2L, other)), Seq((10L, dup)), Seq((20L, dup), (21L, novel)))
      .zipWithIndex.foreach { case (rows, i) =>
        Files.createDirectories(Paths.get(s"$base/in"))
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$base/staging-$i")
        val part = new java.io.File(s"$base/staging-$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$base/in/b$i.parquet")
        Files.copy(part.toPath, dst.toPath)
        assert(dst.setLastModified(now - (5 - i) * 60000L))
      }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = StreamingOps.screenAndMaintain(stream, "doc_id", "text",
      s"$base/bands", s"$base/pairs", s"$base/ck")
    q.awaitTermination(120000)
    val pairs = spark.read.parquet(s"$base/pairs")
      .select("new_id", "hist_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 1: no history -> none; batch 2: 10 collides with 1;
    // batch 3: 20 collides with BOTH 1 and 10; the novel doc never does
    assert(pairs == Set((10L, 1L), (20L, 1L), (20L, 10L)),
      s"wrong incremental collision set: $pairs")
    // the maintained table holds every batch's keys
    val tableIds = spark.read.parquet(s"$base/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(tableIds == Set(1L, 2L, 10L, 20L, 21L))
  }

  test("incremental near-dup: streamed duplicate collides with the historical band table") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = tmp()
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different historical content about spark engines here"))
      .toDF("doc_id", "text")
    // batch-built band table, as a pipeline would materialize it
    val bands = Dedup.lshBands(
      Dedup.prepareHashedShingles(hist, "doc_id", Dedup.wordShingles("text")),
      "doc_id")

    // stateless per-row band keys must equal the batch path's exactly
    val rowKeys = StreamingOps.textBandKeys(hist, "doc_id", "text", 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batchKeys = bands.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rowKeys == batchKeys, s"stream/batch band keys diverge:\n$rowKeys\nvs\n$batchKeys")

    // stream a duplicate of doc 1 + a fresh doc through a file stream
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "entirely novel text with no historical counterpart whatsoever ok"))
      .toDF("doc_id", "text")
    newDocs.write.mode("overwrite").parquet(s"$base/new-in")
    val stream = spark.readStream.schema(newDocs.schema).parquet(s"$base/new-in")
    // per the operator contract: pair dedup happens PER BATCH inside
    // foreachBatch — a streaming-level distinct would be a stateful
    // Deduplicate with no watermark bound (unbounded state)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = StreamingOps.nearDupAgainstHistory(stream, bands, "doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.distinct().collect().foreach(r => sink.add((r.getLong(0), r.getLong(1))))
        ()
      }
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(sink.asScala.toSet == Set((10L, 1L)),
      s"expected only the duplicate to collide, got ${sink.asScala.toSet}")
    // and the streaming query itself must hold NO state store operators
    val stateOps = Option(q.lastProgress).map(_.stateOperators.length).getOrElse(0)
    assert(stateOps == 0, s"stream side must be stateless, found $stateOps state operators")
  }

  test("sessionize assigns gap-based session indices with deterministic tie order") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, 7L, ts(0)), (2L, 7L, ts(10)),   // session 1 (gap 10 <= 30)
      (3L, 7L, ts(50)), (4L, 7L, ts(61)),  // session 2 (gap 40 > 30)
      (5L, 8L, ts(0)), (6L, 8L, ts(0)))    // other user, equal ts -> one session
      .toDF("event_id", "user_id", "ts")
    val got = graft.operators.Funnel.sessionize(events,
        col("user_id"), col("ts"), col("event_id"), gapSec = 1800L)
      .select(col("event_id"), col("session_idx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 1L), got.toString)
  }

  test("vector near-dup screen: streamed embeddings collide with history statelessly, matching the batch path") {
    import spark.implicits._
    val base = tmp()
    val e = Tables.load(spark, sfDir, "embeddings")
    val hist = e.filter(col("vec_id") < 400)
    val fresh = e.filter(col("vec_id") >= 400)
    // batch-built history band table (the bandedAnnPairs key space)
    val bands = graft.operators.Similarity.vectorBands(hist, "vec_id", "embedding")
      .withColumnRenamed("vec_id", "hist_id")
    // batch reference: same operator on a batch frame
    val want = StreamingOps.vectorNearDupAgainstHistory(fresh, bands,
        "vec_id", "embedding", histIdCol = "hist_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must produce at least one collision")
    // streaming run of the SAME operator
    fresh.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(fresh.schema).parquet(s"$base/in")
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = StreamingOps.vectorNearDupAgainstHistory(stream, bands,
        "vec_id", "embedding", histIdCol = "hist_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.distinct().collect().foreach(r => sink.add((r.getLong(0), r.getLong(1))))
        ()
      }
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(sink.asScala.toSet == want,
      s"stream screen must equal batch screen (${want.size} pairs), got ${sink.asScala.toSet.size}")
    val stateOps = Option(q.lastProgress).map(_.stateOperators.length).getOrElse(0)
    assert(stateOps == 0, s"stream side must be stateless, found $stateOps state operators")
  }

  test("band-table compaction preserves rows, partitions and the incremental screen") {
    import spark.implicits._
    val base = tmp()
    // accrete a 3-batch table via the maintenance stream
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different historical content about spark engines here"),
      (3L, "third document with its own entirely distinct wording here today"))
      .toDF("doc_id", "text")
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") === i + 1).write.mode("overwrite")
        .parquet(s"$base/stage-$i")
      val part = new java.io.File(s"$base/stage-$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(s"$base/in"))
      val dst = new java.io.File(s"$base/in/f$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(System.currentTimeMillis() - (5 - i) * 60000L))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    StreamingOps.maintainBandTable(stream, "doc_id", "text",
      s"$base/bands", s"$base/ck").awaitTermination(120000)
    val before = spark.read.parquet(s"$base/bands")
    val beforeRows = before.collect().map(_.toSeq).toSet
    val n = StreamingOps.compactBandTable(spark, s"$base/bands", s"$base/compact")
    val after = spark.read.parquet(s"$base/compact")
    assert(n == beforeRows.size.toLong)
    assert(after.collect().map(_.toSeq).toSet == beforeRows,
      "compaction changed table contents")
    // batchId partition column survives, so the replay filter still works
    assert(after.filter(col("batchId") < 2).select("doc_id").distinct()
      .as[Long].collect().toSet == Set(1L, 2L))
    // and the screen runs identically against the compacted copy
    val dup = Seq((10L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val pairs = StreamingOps.nearDupAgainstHistory(dup,
        after.select("doc_id", "band_key"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 1L)))
  }

  test("stateless curation metrics run unchanged on a document stream") {
    // quality scoring / lang-ID / unigram-free signals are narrow
    // projections, so the SAME operator code runs on a stream with no
    // state store — the per-batch scoring step of a continuously-fed
    // curation pipeline
    val base = tmp()
    val docs = Tables.load(spark, sfDir, "documents")
    docs.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$base/in")
    val scored = graft.operators.TextAnalysis.qualityScore(stream, "text")
    val q = scored.writeStream.outputMode("append").format("memory")
      .queryName("quality_stream")
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("quality_stream")
    val want = graft.operators.TextAnalysis.qualityScore(docs, "text")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty, "streamed quality scores diverged from batch")
    val stateOps = Option(q.lastProgress).map(_.stateOperators.length).getOrElse(0)
    assert(stateOps == 0, s"quality scoring must be stateless, found $stateOps")
  }

  test("complete-mode aggregation: the full updated result table re-emits per trigger") {
    // append mode (everywhere else in this suite) only emits closed
    // windows; complete mode re-emits the WHOLE aggregate each
    // trigger — the dashboard-sink mode. The final table must equal
    // the batch aggregation exactly, including windows a watermark
    // would still hold open under append.
    val base = tmp()
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val agg = StreamingOps.tumblingAgg(stream, "ts", "1 hour", col("event_type"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("complete_out")
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("complete_out")
    val want = StreamingOps.tumblingAgg(events, "ts", "1 hour", col("event_type"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "complete-mode table diverged from the batch aggregation")
  }

  test("streaming dedup within watermark") {
    val base = tmp()
    val events = Tables.events(spark, sfDir).select("ts", "user_id", "event_type")
    events.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val deduped = StreamingOps.dedup(stream, Seq("user_id", "event_type"), Some(("ts", "1 hour")))
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$base/ck").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_out").select("user_id", "event_type").distinct().count()
    val want = events.select("user_id", "event_type").distinct().count()
    assert(got == want)
  }
}
