package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced round, from the benchmark's own spans
  * and the engine's job and progress records.
  */
object Layers {
  /** (name, unit, better) of every per-layer metric, in report order. */
  val metrics: Seq[(String, String, String)] = {
    val q = Corpus.queries.map(_._1).flatMap { n => Seq(
      (s"$n.s", "s", "lower"), (s"$n.driver_gap_ms", "ms", "lower"), (s"$n.jobs", "count", "lower"),
      (s"$n.exec_cpu_ms", "ms", "lower"), (s"$n.shuffle.bytes", "bytes", "lower"),
      (s"$n.spill.bytes", "bytes", "lower"))
    }
    Seq(
      ("transform.ms", "ms", "lower"), ("governor.ms", "ms", "lower"), ("frame.ms", "ms", "lower"),
      ("transform.exec_cpu_ms", "ms", "lower"), ("delivery.process_batch_ms", "ms", "lower"),
      ("delivery.triggers", "count", "lower"), ("delivery.trigger_ms.p50", "ms", "lower"),
      ("delivery.trigger_ms.max", "ms", "lower"), ("delivery.source_list_ms", "ms", "lower"),
      ("delivery.planning_ms", "ms", "lower"), ("delivery.commit_ms", "ms", "lower"),
      ("delivery.driver_gap_ms", "ms", "lower"),
      ("sink.probe_ms", "ms", "lower"), ("sink.primary_ms", "ms", "lower"),
      ("sink.backup_ms", "ms", "lower"), ("sink.failed_ms", "ms", "lower"),
      ("sink.reingest_ms", "ms", "lower"), ("sink.primary_bytes", "bytes", "lower"),
      ("sink.primary_files", "count", "lower"), ("sink.backup_bytes", "bytes", "lower"),
      ("reingest.rows", "count", "lower"), ("reingest.rounds", "count", "lower"),
      ("records.ok", "count", "higher"), ("records.dropped", "count", "lower"),
      ("records.failed", "count", "lower"),
      ("exec.run_ms", "ms", "lower"), ("exec.cpu_ms", "ms", "lower"), ("exec.gc_ms", "ms", "lower"),
      ("exec.busy_frac", "ratio", "higher"), ("shuffle.bytes", "bytes", "lower"),
      ("spill.bytes", "bytes", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
      ("delivery.records_per_s_1core", "rec/s", "higher")) ++ q ++ Seq(
      ("batch_total_s", "s", "lower"), ("spine_s", "s", "lower"), ("dedup_s", "s", "lower"),
      ("multimodal_s", "s", "lower"), ("text_s", "s", "lower"),
      ("gen.late_p99_ms", "ms", "lower"), ("backlog.files_end", "count", "lower"),
      ("host.load1", "load", "lower"), ("host.other_cpu_s", "s", "lower"),
      ("host.steal_s", "s", "lower"), ("heap.peak_mb", "MB", "lower"),
      ("trace.overhead_frac", "ratio", "lower"), ("trace.spans", "count", "lower"))
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var started = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > reach) { total += b - a; reach = b; started = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  private def clip(s: Span, p: Span): (Double, Double) =
    (math.max(s.start, p.start), math.min(s.end, p.end))

  private val BatchRe = "(?s).*runId = (\\S+)\\s+batch = (\\d+).*".r

  /** Turn the engine's progress events and jobs into spans under the
    * benchmark's spans: each trigger of a traced round becomes a child
    * of that round, and each job a child of its trigger (from the job
    * description the stream sets) or else of the innermost benchmark
    * span that encloses its start.
    */
  def attach(tracer: Tracer, probe: EngineProbe, rounds: Seq[(Span, String)]): Unit = {
    val triggers = probe.progress.iterator().asScala.toSeq.flatMap { p =>
      rounds.find(_._2 == p.runId.toString).filter(_ => p.numInputRows > 0).map { case (r, _) =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
        (p.runId.toString, p.batchId) ->
          Span(tracer.newId(), r.id, s"trigger ${p.batchId}", "streaming.FirehoseDelivery",
            start, start + d.getOrElse("triggerExecution", 0.0),
            d + ("rows" -> p.numInputRows.toDouble))
      }
    }.toMap
    triggers.values.foreach(tracer.add)
    val frames = tracer.all.filter(_.layer != "spark")
    probe.jobs.values().asScala.toSeq.filter(_.end >= 0).foreach { j =>
      val parent = j.desc match {
        case BatchRe(run, b) => triggers.get((run, b.toLong))
        case _ => None
      }
      val t = j.start.toDouble
      // a job outside every span (the probe's own flush job) is left out
      val enclosing = parent.orElse(frames.filter(s => s.start <= t && t < s.end).sortBy(_.dur).headOption)
      enclosing.foreach { p =>
        val label = Option(probe.writes.get(j.execId)).map(sinkOf).getOrElse("probe")
        tracer.add(Span(tracer.newId(), p.id, s"job ${j.id} $label", "spark",
          j.start.toDouble, math.max(j.start, j.end).toDouble, Map(
            "run_ms" -> j.runMs.toDouble, "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs.toDouble,
            "shuffle_bytes" -> j.shuffleBytes.toDouble, "spill_bytes" -> j.spillBytes.toDouble,
            "tasks" -> j.tasks.toDouble, "sql_execution" -> j.execId.toDouble)))
      }
    }
  }

  def sinkOf(path: String): String =
    if (path.contains("/primary/")) "primary"
    else if (path.contains("/backup/")) "backup"
    else if (path.contains("/processing-failed/")) "failed"
    else if (path.contains("reingest-batch-")) "reingest"
    else "other"

  def jobsUnder(spans: Seq[Span], root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c => c +: walk(c))
    walk(root).filter(_.layer == "spark")
  }

  /** Engine totals of the jobs under `root`; busy_frac is executor run
    * time over the root's wall time times the core count.
    */
  def engine(spans: Seq[Span], root: Span, cores: Int): Map[String, Double] = {
    val js = jobsUnder(spans, root)
    def sum(k: String) = js.map(_.attrs.getOrElse(k, 0.0)).sum
    Map("exec.run_ms" -> sum("run_ms"), "exec.cpu_ms" -> sum("cpu_ms"),
      "exec.gc_ms" -> sum("gc_ms"), "exec.busy_frac" -> sum("run_ms") / (root.dur * cores),
      "shuffle.bytes" -> sum("shuffle_bytes"), "spill.bytes" -> sum("spill_bytes"),
      "jobs" -> js.size.toDouble, "tasks" -> sum("tasks"))
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Trigger-loop and sink metrics of one traced delivery round, over its
    * triggers from `fromMs` on (after a paced round's lead-in).
    */
  def delivery(spans: Seq[Span], round: Span, fromMs: Double): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val trig = kids.getOrElse(round.id, Nil).filter(t => t.name.startsWith("trigger ") && t.start >= fromMs)
    def d(t: Span, k: String) = t.attrs.getOrElse(k, 0.0)
    val durs = trig.map(_.dur).toArray
    def sinkMs(label: String) = mean(trig.map { t =>
      union(kids.getOrElse(t.id, Nil).filter(_.name.endsWith(s" $label")).map(clip(_, t)))
    })
    Map(
      "delivery.triggers" -> trig.size.toDouble,
      "delivery.trigger_ms.p50" -> Delivery.p50(durs),
      "delivery.trigger_ms.max" -> (if (durs.isEmpty) 0.0 else durs.max),
      "delivery.source_list_ms" -> mean(trig.map(t => d(t, "latestOffset") + d(t, "getBatch"))),
      "delivery.planning_ms" -> mean(trig.map(d(_, "queryPlanning"))),
      "delivery.commit_ms" -> mean(trig.map(t => d(t, "walCommit") + d(t, "commitOffsets"))),
      "delivery.driver_gap_ms" -> mean(trig.map { t =>
        math.max(0.0, d(t, "addBatch") - union(kids.getOrElse(t.id, Nil).map(clip(_, t))))
      }),
      "sink.probe_ms" -> sinkMs("probe"), "sink.primary_ms" -> sinkMs("primary"),
      "sink.backup_ms" -> sinkMs("backup"), "sink.failed_ms" -> sinkMs("failed"),
      "sink.reingest_ms" -> sinkMs("reingest"))
  }

  /** Per-query metrics of one traced corpus round. */
  def query(spans: Seq[Span], q: Span): Map[String, Double] = {
    val js = jobsUnder(spans, q)
    def sum(k: String) = js.map(_.attrs.getOrElse(k, 0.0)).sum
    Map(s"${q.name}.s" -> q.dur / 1000.0,
      s"${q.name}.driver_gap_ms" -> (q.dur - union(js.map(clip(_, q)))),
      s"${q.name}.jobs" -> js.size.toDouble, s"${q.name}.exec_cpu_ms" -> sum("cpu_ms"),
      s"${q.name}.shuffle.bytes" -> sum("shuffle_bytes"),
      s"${q.name}.spill.bytes" -> sum("spill_bytes"))
  }
}
