package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}

/** One run of one workload. Prints a `perfbench-info` line with the
  * figures behind the metrics (sample counts, rounds, host contention,
  * problems found), then the result object as the last line:
  * with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
  * metrics of a traced round.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: Path, data: Path, baseline1: Double)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt, Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("data")).toAbsolutePath, m.getOrElse("baseline-1core", "0").toDouble)
  }

  final class Result {
    var attempted, failed = 0L
    val problems = ArrayBuffer[String]()
    val metrics = ArrayBuffer[(String, Double, String)]()
    val info = ArrayBuffer[(String, Double)]()
    val layer = scala.collection.mutable.Map[String, Double]()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    rmrf(a.work)
    Files.createDirectories(a.work)
    val tracer = new Tracer
    val heap = new HeapPeak
    // every span of the run sits under one span for the workload
    val root = tracer.newId()
    val t0 = Clock.nowMs
    val (spark, session) = tracer.span("session", "setup", root) { _ =>
      SparkSession.builder().master(s"local[${a.cores}]")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Result
    try {
      if (a.workload == "corpus_batch") corpus(spark, a, tracer, heap, session, r)
      else delivery(spark, a, tracer, heap, session, r)
    } finally spark.stop()
    rmrf(a.work)
    if (a.trace) {
      tracer.add(Span(root, 0, a.workload, "bench", t0, Clock.nowMs))
      finishTrace(a, tracer, r)
    }
    val info = r.info.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" } ++
      Seq(s""""problems":[${r.problems.take(20).map(p => "\"" + Json.esc(p) + "\"").mkString(",")}]""")
    println(s"perfbench-info ${a.workload} seed=${a.seed} {${info.mkString(",")}}")
    val metrics =
      if (a.trace) Layers.metrics.map { case (n, u, _) => (n, r.layer.getOrElse(n, 0.0), u) }
      else r.metrics.toSeq
    val body = metrics.map { case (n, v, u) =>
      s""""${Json.esc(n)}":{"value":${Json.num(v)},"unit":"${Json.esc(u)}"}"""
    }
    val correct = r.failed == 0 && r.problems.isEmpty && r.attempted > 0
    println(s"""{"correct":$correct,"attempted":${math.max(1L, r.attempted)},""" +
      s""""failed":${r.failed},"metrics":{${body.mkString(",")}}}""")
  }

  /** setup_s: session start, the median input preparation, the warm pass,
    * and on paced the measured round's query start and lead-in.
    */
  private def setup(r: Result, session: Span, prepareMs: Double, warm: Span, leadInMs: Double = 0): Unit = {
    r.metrics += (("setup_s", (session.dur + prepareMs + warm.dur + leadInMs) / 1000.0, "s"))
    r.info ++= Seq("setup.session_s" -> session.dur / 1000.0, "setup.prepare_s" -> prepareMs / 1000.0,
      "setup.warm_s" -> warm.dur / 1000.0, "setup.lead_in_s" -> leadInMs / 1000.0)
  }

  /** Whether one more round, as long as the mean so far, ends within the window. */
  private def fits(t0: Double, done: Int, seconds: Int): Boolean =
    (Clock.nowMs - t0) * (done + 1) / done <= seconds * 1000.0

  /** Host contention and peak heap over one measured phase, recorded
    * beside the phase's figures.
    */
  private def window[A](heap: HeapPeak, r: Result)(body: => A): A = {
    val host = new HostWindow
    heap.start()
    val out = body
    val mb = heap.stopMb()
    val (load1, other, steal) = host.close()
    val m = Seq("host.load1" -> load1, "host.other_cpu_s" -> other, "host.steal_s" -> steal,
      "heap.peak_mb" -> mb)
    r.info ++= m
    r.layer ++= m
    out
  }

  /** Run `body` with the engine probe attached; returns once the
    * probe's records are complete.
    */
  private def withProbe[A](spark: SparkSession)(body: => A): (A, EngineProbe) = {
    val probe = new EngineProbe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    try (body, probe)
    finally {
      // listener events arrive asynchronously, in order within each
      // queue: wait until a marker job and every earlier job has ended
      val deadline = System.nanoTime() + 10e9.toLong
      val before = probe.jobs.size
      spark.sparkContext.parallelize(Seq(1), 1).count()
      while ((probe.openJobs > 0 || probe.jobs.size <= before) && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
      spark.streams.removeListener(probe.streams)
      spark.sparkContext.removeSparkListener(probe)
    }
  }

  private def finishTrace(a: Args, tracer: Tracer, r: Result): Unit = {
    val spans = tracer.all
    val self = Tracer.selfTimes(spans)
    val over = Tracer.overCommitted(spans, self)
    if (over.nonEmpty) r.problems += s"${over.size} spans whose children's self time exceeds them"
    r.layer("trace.spans") = spans.size.toDouble
    val dir = a.work.getParent.getParent.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload}-seed${a.seed}.json")
    Files.writeString(f, Tracer.toJson(spans, self))
    System.err.println(s"perfbench: wrote ${spans.size} spans to $f")
  }

  // ---------------------------------------------------------------- delivery

  def delivery(spark: SparkSession, a: Args, tracer: Tracer, heap: HeapPeak,
      session: Span, r: Result): Unit = {
    val shape = Delivery.shapes(a.workload)
    // set-up, repeated for a steadier median: seeded generation + framing
    val frames = ArrayBuffer[Double]()
    val preps = (1 to 3).map { _ =>
      tracer.span("prepare", "loadgen", session.parent) { _ =>
        Delivery.prepare(spark, shape, a.seed, Delivery.recordCount(shape, a.seconds), frames += _)
      }
    }
    val in = preps.last._1
    val backlogStart = Clock.nowMs
    val backlog = Inputs.writeFiles(a.work.resolve("backlog"), in.lines, shape.perFile,
      System.currentTimeMillis() - 3600000L)
    val backlogMs = Clock.nowMs - backlogStart
    // untimed warm pass on the backlog workload: two small rounds of another
    // seed's input with the same shape, since its first rounds still speed up.
    // The paced round warms up in its own lead-in instead.
    val (_, warm) = tracer.span("warm", "setup", session.parent) { _ =>
      if (shape.ratePerS.isEmpty) {
        val wIn = Delivery.prepare(spark, shape, a.seed ^ 0x5eedL, Delivery.warmCount(shape), _ => ())
        val wBacklog = Inputs.writeFiles(a.work.resolve("warm-backlog"), wIn.lines, shape.perFile,
          System.currentTimeMillis() - 3600000L)
        (1 to 2).foreach(i => Delivery.round(spark, wIn, wBacklog, a.work.resolve(s"warm$i")))
      }
    }
    val prepareMs = median(preps.map(_._2.dur)) + backlogMs
    r.layer("frame.ms") = median(frames.toSeq)

    def phase(name: String, maxRounds: Int): Seq[(Delivery.Round, Span)] = window(heap, r) {
      val t0 = Clock.nowMs
      val rounds = ArrayBuffer[(Delivery.Round, Span)]()
      while (rounds.isEmpty || (rounds.size < maxRounds && fits(t0, rounds.size, a.seconds))) {
        val dir = a.work.resolve(s"$name${rounds.size}")
        val (rd, s) = tracer.span(s"$name ${rounds.size}", "streaming.FirehoseDelivery", session.parent) { _ =>
          Delivery.round(spark, in, backlog, dir)
        }
        rmrf(dir)
        rounds += ((rd, s))
      }
      rounds.foreach { case (rd, _) =>
        r.attempted += rd.out.attempted
        r.failed += rd.out.failed
        r.problems ++= rd.out.problems
      }
      rounds.toSeq
    }

    if (!a.trace) {
      // the paced round's schedule already fills the window
      val rounds = phase("round", if (shape.ratePerS.isDefined) 1 else Int.MaxValue)
      val lat = rounds.flatMap(_._1.latMs).toArray
      setup(r, session, prepareMs, warm, median(rounds.map(_._1.leadInMs)))
      r.metrics += (("records_per_s", median(rounds.map(_._1.recordsPerS)), "rec/s"))
      r.metrics += (("latency_p50_ms", Delivery.p50(lat), "ms"))
      r.metrics += (("latency_p99_ms", Delivery.p99(lat), "ms"))
      r.info ++= Seq("rounds" -> rounds.size.toDouble, "latency_samples" -> lat.length.toDouble,
        "records_per_round" -> in.recs.length.toDouble, "size_cap" -> in.sizeCap.toDouble,
        "triggers" -> rounds.map(_._1.triggerMs.length).sum.toDouble,
        "trigger_ms_p50" -> median(rounds.flatMap(_._1.triggerMs.toSeq)))
      rounds.map(_._1).find(_.lateMs.nonEmpty).foreach { rd =>
        r.info ++= Seq("gen.late_p99_ms" -> Delivery.p99(rd.lateMs),
          "backlog.files_end" -> rd.filesEnd.toDouble)
      }
    } else {
      // one untraced round, then one traced round: the difference in
      // wall time is the tracing overhead
      val plain = phase("plain", 1)
      val ((traced, d), probe) = withProbe(spark) {
        val out = phase("traced", 1)
        // direct calls on one fixed batch (the first trigger's worth of files)
        val fixed = if (shape.ratePerS.isEmpty) backlog
          else Inputs.writeFiles(a.work.resolve("fixed"), in.lines.take(8 * shape.perFile),
            shape.perFile, System.currentTimeMillis() - 3600000L)
        val (d, _) = tracer.span("direct", "bench", session.parent) { id =>
          Delivery.direct(spark, in, fixed, a.work.resolve("direct"), tracer, id)
        }
        (out, d)
      }
      Layers.attach(tracer, probe, traced.map { case (rd, s) => (s, rd.runId) })
      val (rd, s) = traced.head
      val spans = tracer.all
      r.layer ++= Layers.delivery(spans, s, rd.startMs)
      r.layer ++= Layers.engine(spans, s, a.cores)
      r.layer("transform.exec_cpu_ms") = spans.filter(_.name == "transform")
        .map(t => Layers.jobsUnder(spans, t).map(_.attrs("cpu_ms")).sum).sum
      r.layer ++= Map(
        "sink.primary_bytes" -> rd.out.primaryBytes.toDouble,
        "sink.primary_files" -> rd.out.primaryFiles.toDouble,
        "sink.backup_bytes" -> rd.out.backupBytes.toDouble,
        "reingest.rows" -> rd.out.reingestRows.toDouble,
        "reingest.rounds" -> rd.out.reingestDepth.toDouble,
        "records.ok" -> rd.out.ok.toDouble, "records.dropped" -> rd.out.dropped.toDouble,
        "records.failed" -> rd.out.failedRecs.toDouble,
        "delivery.records_per_s_1core" -> a.baseline1,
        "transform.ms" -> d._1, "governor.ms" -> d._2, "delivery.process_batch_ms" -> d._3,
        "trace.overhead_frac" -> (rd.wallMs - plain.head._1.wallMs) / plain.head._1.wallMs)
      if (rd.lateMs.nonEmpty) r.layer ++= Map(
        "gen.late_p99_ms" -> Delivery.p99(rd.lateMs), "backlog.files_end" -> rd.filesEnd.toDouble)
    }
  }

  // ------------------------------------------------------------------ corpus

  def corpus(spark: SparkSession, a: Args, tracer: Tracer, heap: HeapPeak,
      session: Span, r: Result): Unit = {
    val want = Corpus.expected(a.data)
    // set-up, repeated for a steadier median: the input row counts
    val preps = (1 to 3).map(_ =>
      tracer.span("prepare", "setup", session.parent)(_ => Corpus.inputRows(spark, a.data)))
    val rows = preps.last._1
    val (_, warm) = tracer.span("warm", "setup", session.parent)(_ => Corpus.warm(spark, a.data))
    setup(r, session, median(preps.map(_._2.dur)), warm)

    def check(run: Corpus.Run): Unit = {
      r.attempted += 1
      System.err.println(s"perfbench-corpus ${run.name}\t${run.rows}\t${run.hash}")
      if (!want.get(run.name).contains((run.rows, run.hash))) {
        r.failed += 1
        r.problems += s"${run.name}: rows=${run.rows} hash=${run.hash}, expected ${want.get(run.name)}"
      }
    }
    def phase(maxRounds: Int): Seq[(Seq[Corpus.Run], Span)] = window(heap, r) {
      val t0 = Clock.nowMs
      val rounds = ArrayBuffer[(Seq[Corpus.Run], Span)]()
      while (rounds.isEmpty || (rounds.size < maxRounds && fits(t0, rounds.size, a.seconds))) {
        rounds += tracer.span(s"round ${rounds.size}", "bench", session.parent) { id =>
          Corpus.order(a.seed, rounds.size).map(q => Corpus.run(spark, q, a.data, tracer, id))
        }
      }
      rounds.foreach(_._1.foreach(check))
      rounds.toSeq
    }
    def families(runs: Seq[Corpus.Run]): Seq[(String, Double)] = {
      val fam = Corpus.queries.toMap
      ("batch_total_s" -> runs.map(_.ms).sum / 1000.0) +:
        Corpus.families.map(f => s"${f}_s" -> runs.filter(q => fam(q.name) == f).map(_.ms).sum / 1000.0)
    }

    if (!a.trace) {
      val rounds = phase(Int.MaxValue)
      val ms = rounds.flatMap(_._1.map(_.ms)).toArray
      r.metrics += (("records_per_s",
        median(rounds.map { case (runs, _) => runs.map(q => rows(q.name)).sum / (runs.map(_.ms).sum / 1000.0) }),
        "rec/s"))
      r.metrics += (("latency_p50_ms", Delivery.p50(ms), "ms"))
      r.metrics += (("latency_p99_ms", Delivery.p99(ms), "ms"))
      r.info ++= Seq("rounds" -> rounds.size.toDouble, "latency_samples" -> ms.length.toDouble)
      // per-family medians over rounds
      val fams = rounds.map(x => families(x._1).toMap)
      fams.head.keys.toSeq.sorted.foreach(k => r.info += (k -> median(fams.map(_(k)))))
    } else {
      val plain = phase(1)
      val (traced, probe) = withProbe(spark)(phase(1))
      Layers.attach(tracer, probe, Nil)
      val spans = tracer.all
      val (runs, s) = traced.head
      r.layer ++= families(runs)
      spans.filter(_.parent == s.id).foreach(q => r.layer ++= Layers.query(spans, q))
      r.layer ++= Layers.engine(spans, s, a.cores)
      r.layer("trace.overhead_frac") = (s.dur - plain.head._2.dur) / plain.head._2.dur
    }
  }
}
