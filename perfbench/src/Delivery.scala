package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.envelope.Envelope
import graft.operators.FirehoseTransform
import graft.streaming.FirehoseDelivery

/** The delivery workloads: seeded CWL envelopes through
  * `FirehoseDelivery.start` into the four file sinks.
  *
  *  - delivery_churn: closed loop over a pre-written backlog in large
  *    micro-batches (maxFilesPerTrigger), with sizeCap at `capFrac` of a
  *    batch's governed bytes, so the governor drops rows and the
  *    re-ingest loop writes them back into the input directory.
  *  - delivery_paced: open loop; [[LoadGen]] moves small files into the
  *    input directory at a fixed rate, no drops. The rate sits well below
  *    what the pipeline sustains, so the backlog stays bounded. Triggers
  *    fire on a fixed 2 s buffer interval, longer than a trigger takes on
  *    four cores, so every trigger carries the same share of the schedule
  *    and a slow trigger does not enlarge the next one. The first
  *    `leadInS` seconds of the schedule warm the JVM and the query and
  *    are not measured.
  */
object Delivery {
  final case class Shape(perFile: Int, files: Int, filesPerTrigger: Option[Int],
      triggerMs: Long, capFrac: Option[Double], ratePerS: Option[Double], leadInS: Double = 0)

  val shapes: Map[String, Shape] = Map(
    "delivery_churn" -> Shape(perFile = 200, files = 12, filesPerTrigger = Some(4),
      triggerMs = 50, capFrac = Some(0.7), ratePerS = None),
    "delivery_paced" -> Shape(perFile = 8, files = 0, filesPerTrigger = None,
      triggerMs = 2000, capFrac = None, ratePerS = Some(40.0), leadInS = 12))

  val NoCap: Long = 256L * 1024 * 1024

  /** `startMs` is where the measured part begins: the round start, or on
    * paced the end of the lead-in; `leadInMs` is the time from starting
    * the query to there. `triggerMs` are the measured part's trigger durations.
    */
  final case class Round(startMs: Double, endMs: Double, recordsPerS: Double,
      latMs: Array[Double], out: Check.Outcome, lateMs: Array[Double],
      filesEnd: Int, runId: String, leadInMs: Double, triggerMs: Array[Double]) {
    def wallMs: Double = endMs - startMs
  }

  /** Records, their wire lines, and the files they are cut into. */
  final class Input(val recs: Array[Inputs.Rec], val lines: Array[String], val shape: Shape) {
    /** One size cap for every batch: capFrac of a full batch's governed bytes. */
    val sizeCap: Long = shape.capFrac.fold(NoCap) { f =>
      val perBatch = shape.perFile * shape.filesPerTrigger.get
      (recs.map(_.governedSize).sum.toDouble / recs.length * perBatch * f).toLong
    }
  }

  /** Records in a measured round: the backlog, or the lead-in plus `seconds` of the schedule. */
  def recordCount(shape: Shape, seconds: Int): Int =
    shape.ratePerS.fold(shape.perFile * shape.files)(r => (r * (shape.leadInS + seconds)).toInt)

  /** Records in a warm-up round of the backlog workload: half a trigger's worth. */
  def warmCount(shape: Shape): Int = shape.perFile * shape.filesPerTrigger.get / 2

  /** Generate `n` records and encode them; `frameMs` receives the time `frameRecords` took. */
  def prepare(spark: SparkSession, shape: Shape, seed: Long, n: Int,
      frameMs: Double => Unit): Input = {
    val recs = shape.ratePerS match {
      case None => Inputs.generate(seed, n, i => s"d$i")
      case Some(rate) =>
        // due offset of the record's file, in microseconds from the schedule start
        val periodUs = shape.perFile * 1e6 / rate
        Inputs.generate(seed, n, i => s"p$i@${((i / shape.perFile) * periodUs).toLong}")
    }
    val t0 = Clock.nowMs
    val lines = Inputs.frame(spark, recs)
    frameMs(Clock.nowMs - t0)
    new Input(recs, lines, shape)
  }

  private def conf(dir: Path, in: Input) = FirehoseDelivery.Config(
    inputDir = dir.resolve("input").toString,
    outputDir = dir.resolve("output").toString,
    checkpointDir = dir.resolve("checkpoint").toString,
    triggerMs = in.shape.triggerMs,
    sizeCap = in.sizeCap,
    maxFilesPerTrigger = in.shape.filesPerTrigger)

  private def commitTimes(checkpoint: Path): Map[Long, Double] =
    Files.list(checkpoint.resolve("commits")).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong ->
        Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0)
      .toMap

  private def pct(xs: Array[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  def p50(xs: Array[Double]): Double = pct(xs, 0.5)
  def p99(xs: Array[Double]): Double = pct(xs, 0.99)

  /** Due offset of a paced record from the schedule start, in ms. */
  private def dueMs(r: Inputs.Rec): Double = r.id.split('@')(1).toLong / 1000.0

  /** One round in a fresh directory: start the query on the input, let it
    * drain (and, paced, let the generator finish its schedule), stop it,
    * then check every output. On paced, only records due after the
    * lead-in count in the latencies and the rate.
    */
  def round(spark: SparkSession, in: Input, backlog: Seq[Path], dir: Path): Round = {
    val c = conf(dir, in)
    val input = dir.resolve("input")
    Files.createDirectories(input)
    val staged = in.shape.ratePerS.map { _ =>
      Inputs.writeFiles(dir.resolve("staging"), in.lines, in.shape.perFile,
        System.currentTimeMillis() - 3600000L)
    }
    if (staged.isEmpty) backlog.foreach(f => Files.createLink(input.resolve(f.getFileName), f))
    val t0 = Clock.nowMs
    val q = FirehoseDelivery.start(spark, c)
    val (start, late, genEnd, progress) = try {
      val (start, late, genEnd) = staged match {
        case None =>
          q.processAllAvailable()
          (t0, Array.empty[Double], 0.0)
        case Some(files) =>
          // the first, empty trigger has planned the query before the schedule starts
          val ready = System.nanoTime() + 30e9.toLong
          while (q.lastProgress == null && System.nanoTime() < ready) Thread.sleep(10)
          // ProcessingTime triggers fire on multiples of the interval since
          // the epoch: start the schedule just after one, so that in every
          // run the files meet the triggers at the same phase
          val period = in.shape.triggerMs
          val now = System.currentTimeMillis()
          Thread.sleep(now / period * period + period + period / 20 - now)
          val gen = new LoadGen(files, input, in.shape.perFile * 1000.0 / in.shape.ratePerS.get)
          val s = gen.start()
          val late = gen.join()
          val end = Clock.nowMs
          q.processAllAvailable()
          (s, late, end)
      }
      (start, late, genEnd, q.recentProgress)
    } finally q.stop()
    q.exception.foreach(e => throw e)
    val commits = commitTimes(dir.resolve("checkpoint"))
    val out = Check.run(in.recs, dir.resolve("output"), input)
    val end = if (commits.isEmpty) start else commits.values.max
    val leadIn = in.shape.leadInS * 1000.0
    val measured = if (staged.isEmpty) in.recs else in.recs.filter(dueMs(_) >= leadIn)
    val lat = measured.flatMap { r =>
      out.landed.get(r.id).map { b =>
        val due = if (staged.isEmpty) start else start + dueMs(r)
        commits(b) - due
      }
    }
    // files the generator had moved but the pipeline had not committed when the schedule ended
    val filesEnd = if (staged.isEmpty) 0 else in.recs.grouped(in.shape.perFile).count { file =>
      file.flatMap(r => out.landed.get(r.id)).exists(b => commits(b) > genEnd)
    }
    val from = start + leadIn
    val triggers = progress.filter(p => p.numInputRows > 0 &&
      java.time.Instant.parse(p.timestamp).toEpochMilli >= from)
      .map(_.durationMs.get("triggerExecution").toDouble)
    Round(from, end, measured.count(r => out.landed.contains(r.id)) / ((end - from) / 1000.0), lat,
      out, late, filesEnd, q.runId.toString, from - t0, triggers)
  }

  /** Direct calls on one fixed batch (the first trigger's worth of
    * files): transform, governor over the cached transform output, and
    * processBatch into a scratch directory. Returns (transform ms,
    * governor ms, processBatch ms).
    */
  def direct(spark: SparkSession, in: Input, backlog: Seq[Path], dir: Path,
      tracer: Tracer, parent: Int): (Double, Double, Double) = {
    val n = in.shape.filesPerTrigger.getOrElse(8)
    val batch = spark.read.schema(Envelope.RECORD_SCHEMA)
      .json(backlog.take(n).map(_.toString): _*).persist()
    batch.write.mode("overwrite").format("noop").save()
    val transformed = FirehoseTransform.transform(batch).persist()
    try {
      val (_, t) = tracer.span("transform", "operators.FirehoseTransform", parent) { _ =>
        transformed.write.mode("overwrite").format("noop").save()
      }
      val (_, g) = tracer.span("sizeGovernor", "operators.FirehoseTransform", parent) { _ =>
        FirehoseTransform.sizeGovernor(transformed, in.sizeCap)
          .write.mode("overwrite").format("noop").save()
      }
      val (_, p) = tracer.span("processBatch", "streaming.FirehoseDelivery", parent) { _ =>
        FirehoseDelivery.processBatch(batch, 0L, conf(dir, in))
      }
      (t.dur, g.dur, p.dur)
    } finally { transformed.unpersist(); batch.unpersist() }
  }
}
