package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

import graft.operators.CorpusOps.BinFold

/** Arbitrary-state exemplar (SURVEY.md §2 B36): the size-governor
  * semantics of lambda/main.py:137-151 generalized to CROSS-batch
  * state per key — a running byte budget that marks records Dropped
  * once a key's cumulative size exceeds its quota.
  *
  * The reference never needs this (its governor is batch-local by
  * construction), but a 100 TB pipeline enforcing per-tenant quotas
  * does; state lives in the streaming state store, partitioned by key,
  * checkpointed with the query.
  */
object StatefulOps {

  case class Keyed(key: String, size: Long)
  case class QuotaResult(key: String, accepted: Long, dropped: Long, used: Long)

  /** mapGroupsWithState update function: fold this batch's sizes into
    * the running total, accepting until the quota is exhausted.
    */
  def updateQuota(quota: Long)(
      key: String, values: Iterator[Keyed], state: GroupState[Long]): QuotaResult = {
    var used = state.getOption.getOrElse(0L)
    var accepted = 0L
    var dropped = 0L
    values.foreach { v =>
      if (used + v.size <= quota) { used += v.size; accepted += 1 }
      else dropped += 1
    }
    state.update(used)
    QuotaResult(key, accepted, dropped, used)
  }

  /** Wire the quota governor over a stream of (key, size) records. */
  def quotaGovernor(records: Dataset[Keyed], quota: Long): Dataset[QuotaResult] = {
    import records.sparkSession.implicits._
    records.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateQuota(quota))
  }

  case class Decision(key: String, size: Long, accepted: Boolean, usedAfter: Long)

  /** flatMapGroupsWithState variant: emit one PER-RECORD admission
    * decision instead of a per-key batch summary (the shape needed when
    * downstream routing must act on individual records, like the
    * reference's per-record Dropped marking).
    */
  def quotaDecisions(records: Dataset[Keyed], quota: Long): Dataset[Decision] = {
    import records.sparkSession.implicits._
    records.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, values: Iterator[Keyed], state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = values.map { v =>
            val ok = used + v.size <= quota
            if (ok) used += v.size
            Decision(key, v.size, ok, used)
          }.toVector
          state.update(used)
          out.iterator
      }
  }

  case class SessEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessState(start: Long, last: Long, n: Long) // epoch micros
  case class Session(user_id: Long, sess_start: Long, sess_end: Long, n_events: Long)

  /** Streaming sessionization with an EVENT-TIME state timeout — the
    * arbitrary-state sibling of the built-in session_window aggregate
    * (q33) and the batch row-level sessionize (q135): per user, an
    * open session accumulates across micro-batches; a gap within a
    * batch closes and emits immediately, and the final open session
    * closes when the WATERMARK passes last_event + gap (the
    * EventTimeTimeout — state cannot outlive the data that could
    * still extend it, which is the unbounded-state guard every
    * stateful 100 TB stream needs). Timestamps stay integer epoch
    * micros inside the state; events inside one batch are sorted
    * before folding so intra-batch order never depends on shuffle
    * arrival.
    *
    * Apply AFTER `withWatermark` is set by this operator (`delay`
    * param) — EventTimeTimeout requires one. Also correct on a batch
    * Dataset (timeouts never fire; every session emits from the final
    * fold — StatefulSpec asserts batch/stream agreement).
    *
    * Cross-batch late data: a within-watermark event from a LATER
    * micro-batch that is older than the open session's last event
    * merges into that session (the gap test is signed, so a negative
    * difference always merges) and the fold takes min into sess_start
    * — the merged session's bounds cover the late event. What late
    * data CANNOT do is re-open a session already closed and emitted in
    * an earlier trigger (append-mode output is immutable); events
    * whose true session was emitted before they arrived attach to the
    * current open session instead. Exact batch agreement under
    * arbitrary cross-batch reordering therefore requires the watermark
    * delay to cover the disorder (the same contract as the built-in
    * session_window).
    */
  case class ValEvent(key: Long, ts_us: Long, tie: Long, v: Long)
  case class AnomalyHit(key: Long, ts_us: Long, tie: Long, v: Long,
    dev2: Long, nvar: Long)
  case class RollWindow(values: Seq[Long])

  /** Streaming rolling-z anomaly detection — the stateful face of
    * [[graft.operators.Temporal.rollingAnomalies]]: per key, the last
    * `n` values ride the state store across micro-batches, and every
    * arriving sample with a full window is integer-tested
    * ((n*x - sum)^2 > k^2 (n*sumsq - sum^2), the batch operator's
    * exact rule) ONE TRIGGER after it lands — the live sensor/fraud
    * monitor the batch pass can only do overnight. Flagged samples
    * emit with their integer evidence; the window then advances.
    *
    * State is BOUNDED at n longs per key by construction (no timeout
    * needed for state growth — the deque trims itself; add a timeout
    * only to garbage-collect keys that go silent forever). Events
    * inside one batch fold in (ts_us, tie) order, so intra-batch
    * arrival order never matters; like [[sessionizeStream]], exact
    * stream==batch agreement assumes cross-batch arrival respects
    * event-time order (a sample older than one already folded would
    * need the watermark-delay contract). Also correct on a batch
    * Dataset — the same fold runs once (StatefulSpec asserts
    * agreement with the window-frame batch operator).
    */
  def anomalyStream(events: Dataset[ValEvent], n: Int, k: Int): Dataset[AnomalyHit] = {
    require(n >= 2 && k >= 1, s"need n >= 2, k >= 1; got ($n, $k)")
    import events.sparkSession.implicits._
    val k2 = k.toLong * k
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ValEvent], state: GroupState[RollWindow]) =>
          var win = state.getOption.map(_.values.toVector).getOrElse(Vector.empty[Long])
          val out = Vector.newBuilder[AnomalyHit]
          rows.toVector.sortBy(e => (e.ts_us, e.tie)).foreach { e =>
            if (win.size == n) {
              val sum = win.sum
              val ssq = win.map(x => x * x).sum
              val dev = n * e.v - sum
              val nvar = n * ssq - sum * sum
              if (dev * dev > k2 * nvar)
                out += AnomalyHit(key, e.ts_us, e.tie, e.v, dev * dev, nvar)
            }
            win = (win :+ e.v).takeRight(n)
          }
          state.update(RollWindow(win))
          out.result().iterator
      }
  }

  case class PackDoc(shard: String, doc_id: Long, n_tok: Long)
  case class PackAssign(shard: String, doc_id: Long, n_tok: Long,
      bin_idx: Long, fill_after: Long)
  /** Open-bin state: a [[graft.operators.CorpusOps.BinFold]]'s
    * (bin_idx, fill) pairs OLDEST FIRST + its next bin id — maxOpen
    * pairs of longs per shard, checkpointed with the query.
    */
  case class PackBins(open: List[(Long, Long)], nextBin: Long)

  /** STREAMING sequence packing (round 18) — the ingest-time face of
    * the corpus packer: documents arrive as a stream of
    * (shard, doc_id, n_tok) and each is assigned a training bin the
    * moment it arrives, with the open-bin fill state carried ACROSS
    * micro-batches per shard.
    *
    * Semantics: FIRST-FIT, not FFD — a stream cannot sort the
    * future, so the batch operator's global n_tok-descending pass
    * (the "decreasing" that buys FFD its packing bound) is
    * structurally unavailable at ingest time; this is the same
    * honest adaptation distance as next-fit vs FFD in the batch
    * family, stated rather than hidden. Each trigger rebuilds the
    * shard's [[graft.operators.CorpusOps.BinFold]] from its
    * [[PackBins]] state, folds the trigger's docs in doc_id order (an
    * iterator order is not a replay contract) and writes the fold
    * back; across triggers, arrival order. A closed bin never accepts
    * again, so packed shards ship in bin order.
    *
    * Scale: state is maxOpen (bin, fill) pairs + one counter per
    * shard — constant; the only shuffle is the shard groupBy, and
    * shards are the unit of parallelism exactly as in the batch
    * packer. Also correct on a batch Dataset (the fold runs once).
    */
  def packStream(docs: Dataset[PackDoc], budget: Long,
      maxOpen: Int): Dataset[PackAssign] = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(maxOpen >= 1, s"maxOpen must be >= 1, got $maxOpen")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: String, rows: Iterator[PackDoc], state: GroupState[PackBins]) =>
          val st = state.getOption.getOrElse(PackBins(Nil, 0L))
          val fold = new BinFold(budget, maxOpen, st.open, st.nextBin)
          val out = rows.toVector.sortBy(_.doc_id).map { d =>
            val (b, fill) = fold.place(shard, d.doc_id, d.n_tok)
            PackAssign(shard, d.doc_id, d.n_tok, b, fill)
          }
          state.update(PackBins(fold.openBins, fold.nextBin))
          out.iterator
      }
  }

  /** [[packStream]] wired to a replay-safe manifest sink: each
    * trigger's bin assignments land under `outDir/batchId=N`
    * ([[StreamingOps.batchKeyedSink]]), so a replayed batch — whose
    * state store restores to the pre-batch version from the checkpoint
    * — rewrites exactly the rows its first attempt produced instead of
    * appending duplicates. Downstream shard builders read the manifest
    * by batchId partition and ship (shard, bin_idx) groups.
    */
  def packStreamSink(docs: Dataset[PackDoc], budget: Long, maxOpen: Int,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamingOps.batchKeyedSink(packStream(docs, budget, maxOpen).toDF(), checkpointDir,
      trigger)(StreamingOps.writeBatch(_, outDir, _))

  def sessionizeStream(events: Dataset[SessEvent], gapSec: Long,
      delay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    // capture as a plain boolean: referencing the Dataset inside the
    // state closure would ship the (driver-only) plan to executors
    val streaming = events.isStreaming
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val watermarked =
      if (streaming) events.withWatermark("ts", delay) else events
    watermarked.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.last, s.n))
          } else {
            val ts = rows.map(e => micros(e.ts)).toVector.sorted
            var closed = Vector.empty[Session]
            var open = state.getOption
            ts.foreach { t =>
              open = open match {
                case Some(s) if t - s.last <= gapUs =>
                  // min into start: a cross-batch late event older than
                  // the open session's first event must widen the session,
                  // not silently inherit a later start
                  Some(SessState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed :+= Session(user, s.start, s.last, s.n)
                  Some(SessState(t, t, 1L))
                case None => Some(SessState(t, t, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              if (streaming)
                state.setTimeoutTimestamp(s.last / 1000L + gapSec * 1000L)
            }
            // on a BATCH dataset there is no later trigger: emit the
            // open session too (stream emits it via the timeout)
            val tail =
              if (streaming) Vector.empty
              else { state.remove(); open.map(s => Session(user, s.start, s.last, s.n)).toVector }
            (closed ++ tail).iterator
          }
      }
  }
}
