package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.Keyed

/** B36 arbitrary state + B45 UDF surface. */
class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("sessionizeStream: intra-batch gaps emit immediately; the open session closes via event-time timeout") {
    import graft.streaming.StatefulOps.{SessEvent, Session}
    val base = tmpDir("graft-sess")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def us(min: Long) = ts(min).getTime * 1000L
    val now = System.currentTimeMillis()
    def writeSlice(idx: Int, rows: Seq[SessEvent]): Unit = {
      rows.toDS().coalesce(1).write.json(s"$base/in/f$idx")
      new java.io.File(s"$base/in/f$idx").listFiles().foreach(f =>
        assert(f.setLastModified(now - (5 - idx) * 60000L)))
    }
    // slice 1: user 1 — two events 10 min apart (one session), then a
    // 90-min gap (intra-batch split: the first session emits at once)
    writeSlice(1, Seq(SessEvent(1L, ts(0)), SessEvent(1L, ts(10)), SessEvent(1L, ts(100))))
    // slices 2-3: watermark-advancing events 3 days on (timeout fires
    // in the batch AFTER the advance)
    writeSlice(2, Seq(SessEvent(99L, ts(3 * 24 * 60))))
    writeSlice(3, Seq(SessEvent(99L, ts(3 * 24 * 60 + 60))))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .json(s"$base/in")
      .as[SessEvent]
    val q = StatefulOps.sessionizeStream(stream, gapSec = 1800L, delay = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out").as[Session].collect().toSet
    val user1 = got.filter(_.user_id == 1L)
    // the gap-split session AND the timeout-closed open session
    assert(user1 == Set(
      Session(1L, us(0), us(10), 2L),
      Session(1L, us(100), us(100), 1L)), s"user 1 sessions wrong: $user1")
    // batch run of the SAME operator agrees on everything the stream
    // has emitted (the stream's unemitted sessions are still open)
    val all = Seq(SessEvent(1L, ts(0)), SessEvent(1L, ts(10)), SessEvent(1L, ts(100)),
      SessEvent(99L, ts(3 * 24 * 60)), SessEvent(99L, ts(3 * 24 * 60 + 60)))
    val batch = StatefulOps.sessionizeStream(all.toDS(), gapSec = 1800L, delay = "1 hour")
      .collect().toSet
    assert(got.subsetOf(batch), s"stream emitted a session batch disagrees with:\n$got\nvs\n$batch")
    assert(batch.count(_.user_id == 99L) == 2, s"batch must close both user-99 sessions: $batch")
  }

  test("sessionizeStream RocksDB soak: 24 triggers, state plateaus under the event-time timeout") {
    // Long-horizon run of the EventTimeTimeout operator on the
    // scale-grade state backend: 24 chronological slices of the events
    // table arrive as 24 micro-batches. The timeout must close open
    // sessions as the watermark advances, so state row count plateaus
    // at the open horizon (users active within gap+delay) instead of
    // growing with stream lifetime — the property a 100 TB deployment
    // relies on, asserted over 3x the trigger count of the 2-3-batch
    // semantics specs.
    import graft.streaming.StatefulOps.{SessEvent, Session}
    import org.apache.spark.sql.functions.{col, min => smin, max => smax, unix_timestamp}
    val base = tmpDir("graft-sess-soak")
    val events = Tables.events(spark, sfDir).select(
      col("user_id").cast("long").as("user_id"), col("ts")).as[SessEvent]
    val (tsMin, tsMax) = {
      val r = events.toDF().agg(smin(unix_timestamp(col("ts"))), smax(unix_timestamp(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val nSlices = 24
    val step = math.max(1L, (tsMax - tsMin) / nSlices + 1)
    val now = System.currentTimeMillis()
    (0 until nSlices).foreach { i =>
      val lo = tsMin + i * step
      events.toDF().filter(
          unix_timestamp(col("ts")) >= lo && unix_timestamp(col("ts")) < lo + step)
        .coalesce(1).write.json(s"$base/in/f$i")
      new java.io.File(s"$base/in/f$i").listFiles().foreach(f =>
        assert(f.setLastModified(now - (nSlices - i) * 60000L)))
    }
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the plateau is asserted through DeliveryMetrics — the SAME
    // listener path production monitoring reads — so the bounded-state
    // claim is a continuously-collected series, not a one-time
    // recentProgress scrape (VERDICT r10 task 8)
    val metrics = graft.streaming.DeliveryMetrics.attach(spark)
    try {
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .json(s"$base/in")
        .as[SessEvent]
      val q = StatefulOps.sessionizeStream(stream, gapSec = 4 * 3600L, delay = "6 hours")
        .writeStream.outputMode("append").format("memory").queryName("sess_soak")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(300000)
      assert(!q.isActive)
      // listener events post asynchronously — wait for the terminate
      // marker's worth of batches to drain before reading the series
      val deadline = System.currentTimeMillis() + 30000
      def mine = metrics.stateSnapshots.filter(_.queryId == q.id)
      while (mine.count(_.numRowsUpdated > 0) < 20 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val stateOps = mine
      // the guarantee is about DATA-BEARING triggers (matching the
      // wait predicate): zero-update flush batches must not pad a
      // soak whose source batching collapsed below 20 real triggers
      assert(stateOps.count(_.numRowsUpdated > 0) >= 20,
        s"soak needs >= 20 data-bearing listener-observed triggers, got " +
          s"${stateOps.count(_.numRowsUpdated > 0)} of ${stateOps.length}")
      val held = stateOps.map(_.numRowsTotal)
      val removed = stateOps.map(_.numRowsRemoved).sum
      val memPerKey = stateOps.filter(_.numRowsTotal > 0)
        .map(s => s.memoryUsedBytes.toDouble / s.numRowsTotal)
      // recorded for SCALE.md: per-trigger state held + bytes/key
      println(s"[soak] sessionize held=${held.mkString(",")} removed=$removed " +
        f"memPerKeyBytes=${memPerKey.sum / memPerKey.length}%.0f")
      // eviction fired, and the plateau holds: the final third of the
      // run carries no more state than the middle third (no monotonic
      // growth), and held state never approaches total session count
      assert(removed > 0, "event-time timeout never evicted session state")
      val mid = held.slice(held.length / 3, 2 * held.length / 3).max
      val fin = held.drop(2 * held.length / 3).max
      assert(fin <= 2 * mid,
        s"state grew through the run: middle-third max $mid, final-third max $fin")
      // batch comparison reads the SAME json slices the stream read:
      // the json writer serializes timestamps at millisecond precision,
      // so sessionizing the original (microsecond) events would diverge
      val replayed = spark.read.schema("user_id LONG, ts TIMESTAMP")
        .option("recursiveFileLookup", "true").json(s"$base/in").as[SessEvent]
      val batch = StatefulOps.sessionizeStream(replayed, gapSec = 4 * 3600L, delay = "6 hours")
      val nBatch = batch.count()
      assert(held.max < nBatch / 2,
        s"state held ${held.max} rows vs $nBatch total sessions — not bounded by the open horizon")
      // everything emitted agrees with the batch run of the same operator
      val got = spark.table("sess_soak").as[Session]
      val joined = got.toDF().join(batch.toDF()
          .withColumnRenamed("n_events", "n_batch"),
        Seq("user_id", "sess_start", "sess_end"))
      assert(got.count() > 0 && joined.count() == got.count(),
        "stream emitted sessions absent from the batch run")
      assert(joined.filter(col("n_events") =!= col("n_batch")).count() == 0)
    } finally {
      graft.streaming.DeliveryMetrics.detach(spark, metrics)
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionizeStream: a within-watermark late event older than the open session's start widens sess_start") {
    import graft.streaming.StatefulOps.{SessEvent, Session}
    val base = tmpDir("graft-sess-late")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def us(min: Long) = ts(min).getTime * 1000L
    val now = System.currentTimeMillis()
    def writeSlice(idx: Int, rows: Seq[SessEvent]): Unit = {
      rows.toDS().coalesce(1).write.json(s"$base/in/f$idx")
      new java.io.File(s"$base/in/f$idx").listFiles().foreach(f =>
        assert(f.setLastModified(now - (6 - idx) * 60000L)))
    }
    // slice 1 opens user 1's session at min 10; slice 2 delivers a LATE
    // event at min 5 (within the 1 h watermark delay, older than the
    // open session's start); slices 3-4 advance the watermark 3 days to
    // fire the timeout
    writeSlice(1, Seq(SessEvent(1L, ts(10))))
    writeSlice(2, Seq(SessEvent(1L, ts(5))))
    writeSlice(3, Seq(SessEvent(99L, ts(3 * 24 * 60))))
    writeSlice(4, Seq(SessEvent(99L, ts(3 * 24 * 60 + 60))))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .json(s"$base/in")
      .as[SessEvent]
    val q = StatefulOps.sessionizeStream(stream, gapSec = 1800L, delay = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sess_late_out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val user1 = spark.table("sess_late_out").as[Session].collect()
      .filter(_.user_id == 1L).toSet
    assert(user1 == Set(Session(1L, us(5), us(10), 2L)),
      s"late event must widen the session to [5, 10]: $user1")
  }

  test("anomalyStream: per-key window state crosses micro-batches; stream == batch operator") {
    import graft.streaming.StatefulOps.{ValEvent, AnomalyHit}
    val base = tmpDir("graft-anom")
    val now = System.currentTimeMillis()
    def writeSlice(idx: Int, rows: Seq[ValEvent]): Unit = {
      rows.toDS().coalesce(1).write.json(s"$base/in/f$idx")
      new java.io.File(s"$base/in/f$idx").listFiles().foreach(f =>
        assert(f.setLastModified(now - (5 - idx) * 60000L)))
    }
    // key 1: steady 10s, then a 40 spike that arrives in a LATER
    // micro-batch than the window that scores it (n=2, k=1):
    // window {10,10} -> (2*40-20)^2=3600 > 0 -> flagged. The spike's
    // successor (10, window {10,40}) scores 900 > 900 = false.
    writeSlice(1, Seq(ValEvent(1L, 1000L, 1L, 10L), ValEvent(1L, 2000L, 2L, 10L)))
    writeSlice(2, Seq(ValEvent(1L, 3000L, 3L, 40L), ValEvent(1L, 4000L, 4L, 10L)))
    writeSlice(3, Seq(ValEvent(2L, 1000L, 5L, 7L)))
    val stream = spark.readStream
      .schema("key LONG, ts_us LONG, tie LONG, v LONG")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .json(s"$base/in")
      .as[ValEvent]
    val q = StatefulOps.anomalyStream(stream, n = 2, k = 1)
      .writeStream.outputMode("append").format("memory").queryName("anom_out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("anom_out").as[AnomalyHit].collect().toSet
    assert(got == Set(AnomalyHit(1L, 3000L, 3L, 40L, 3600L, 0L)),
      s"wrong stream flags: $got")
    // the window-frame BATCH operator on the same data agrees exactly
    val all = Seq(ValEvent(1L, 1000L, 1L, 10L), ValEvent(1L, 2000L, 2L, 10L),
      ValEvent(1L, 3000L, 3L, 40L), ValEvent(1L, 4000L, 4L, 10L),
      ValEvent(2L, 1000L, 5L, 7L))
    val batch = graft.operators.Temporal.rollingAnomalies(
        all.toDF("key", "ts_us", "tie", "v"), "key", "ts_us", "v", "tie", n = 2, k = 1)
      .selectExpr("key", "ts_us", "tie", "v", "dev2", "nvar")
      .as[AnomalyHit].collect().toSet
    assert(got == batch, s"stream disagrees with batch:\n$got\nvs\n$batch")
    // and the stateful fold itself run in BATCH mode agrees too
    val foldBatch = StatefulOps.anomalyStream(all.toDS(), n = 2, k = 1).collect().toSet
    assert(foldBatch == batch, s"batch fold disagrees: $foldBatch vs $batch")
  }

  test("quota governor keeps per-key running state across micro-batches") {
    val base = tmpDir("graft-state")
    // two files -> maxFilesPerTrigger=1 forces two micro-batches
    Seq(Keyed("a", 40L), Keyed("a", 40L), Keyed("b", 10L)).toDS()
      .coalesce(1).write.json(s"$base/in/f1")
    Seq(Keyed("a", 40L), Keyed("b", 10L)).toDS()
      .coalesce(1).write.json(s"$base/in/f2")
    val stream = spark.readStream
      .schema("key STRING, size LONG")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .json(s"$base/in")
      .as[Keyed]
    val q = StatefulOps.quotaGovernor(stream, quota = 100L)
      .writeStream.outputMode("update").format("memory").queryName("quota_out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("quota_out")
      .as[StatefulOps.QuotaResult].collect().groupBy(_.key)
    // key a: batch1 accepts 40+40=80; batch2's 40 would exceed 100 -> dropped
    val aFinal = rows("a").maxBy(_.used)
    assert(aFinal.used == 80L && rows("a").map(_.dropped).sum == 1L)
    // key b: 10+10=20, nothing dropped
    val bFinal = rows("b").maxBy(_.used)
    assert(bFinal.used == 20L && rows("b").map(_.dropped).sum == 0L)
  }

  test("packStream: open-bin state crosses micro-batches; first-fit + oldest-evicted cap; per-shard bins; stream == batch fold") {
    import StatefulOps.{PackAssign, PackDoc}
    val base = tmpDir("graft-pack")
    Seq(PackDoc("a", 1L, 6L), PackDoc("a", 2L, 3L), PackDoc("a", 3L, 5L),
        PackDoc("b", 100L, 9L)).toDS()
      .coalesce(1).write.json(s"$base/in/f1")
    Seq(PackDoc("a", 4L, 1L), PackDoc("a", 5L, 6L), PackDoc("a", 6L, 4L),
        PackDoc("b", 101L, 2L)).toDS()
      .coalesce(1).write.json(s"$base/in/f2")
    val stream = spark.readStream
      .schema("shard STRING, doc_id LONG, n_tok LONG")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .json(s"$base/in")
      .as[PackDoc]
    val q = StatefulOps.packStream(stream, budget = 10L, maxOpen = 2)
      .writeStream.outputMode("append").format("memory").queryName("pack_out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("pack_out").as[PackAssign].collect()
      .map(a => a.doc_id -> ((a.bin_idx, a.fill_after))).toMap
    // shard a, trigger 0: 6 -> bin0(6); 3 -> bin0(9); 5 no fit -> bin1(5)
    // trigger 1 (state carried): 1 -> bin0(10); 6 no fit anywhere -> NEW
    // bin2 evicts OLDEST bin0 at the maxOpen=2 cap; 4 -> bin1(9)
    assert(got == Map(
      1L -> ((0L, 6L)), 2L -> ((0L, 9L)), 3L -> ((1L, 5L)),
      4L -> ((0L, 10L)), 5L -> ((2L, 6L)), 6L -> ((1L, 9L)),
      // shard b runs its OWN bin counter: 9 -> bin0; 2 can't fit -> bin1
      100L -> ((0L, 9L)), 101L -> ((1L, 2L))), s"assignments: $got")
    // the same fold on a BATCH dataset (arrival order == doc_id order
    // here) reproduces the streamed assignments exactly
    val batchGot = StatefulOps.packStream(
        Seq(PackDoc("a", 1L, 6L), PackDoc("a", 2L, 3L), PackDoc("a", 3L, 5L),
          PackDoc("a", 4L, 1L), PackDoc("a", 5L, 6L), PackDoc("a", 6L, 4L),
          PackDoc("b", 100L, 9L), PackDoc("b", 101L, 2L)).toDS(),
        budget = 10L, maxOpen = 2)
      .collect().map(a => a.doc_id -> ((a.bin_idx, a.fill_after))).toMap
    assert(batchGot == got, s"stream $got vs batch $batchGot")
  }

  test("packStreamSink: batchId-keyed manifests; a replayed batch rewrites its first attempt's rows exactly, no duplicates") {
    import StatefulOps.PackDoc
    val base = tmpDir("graft-packsink")
    Seq(PackDoc("a", 1L, 6L), PackDoc("a", 2L, 3L), PackDoc("a", 3L, 5L)).toDS()
      .coalesce(1).write.json(s"$base/in/f1")
    Seq(PackDoc("a", 4L, 1L), PackDoc("a", 5L, 6L), PackDoc("a", 6L, 4L)).toDS()
      .coalesce(1).write.json(s"$base/in/f2")
    def start() = StatefulOps.packStreamSink(
      spark.readStream
        .schema("shard STRING, doc_id LONG, n_tok LONG")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .json(s"$base/in").as[PackDoc],
      budget = 10L, maxOpen = 2, s"$base/out", s"$base/ck")
    start().awaitTermination(120000)
    val all = spark.read.parquet(s"$base/out")
    assert(all.count() == 6L)
    // manifests are batch-partitioned: trigger 1's docs under batchId=1
    val b1 = spark.read.parquet(s"$base/out/batchId=1")
      .collect().map(_.toString).sorted.toSeq
    assert(b1.size == 3)
    // the cross-batch state is in the manifest: doc 5 opened bin 2
    // (bin counter carried from trigger 0)
    import org.apache.spark.sql.functions.{col => fcol}
    assert(all.filter(fcol("doc_id") === 5L).head().getAs[Long]("bin_idx") == 2L)
    // REPLAY: drop batch 1's commit and restart — the state store
    // restores to the pre-batch version, and the batchId-keyed
    // overwrite rewrites the same rows instead of appending
    assert(Files.deleteIfExists(Paths.get(s"$base/ck/commits/1")))
    Files.deleteIfExists(Paths.get(s"$base/ck/commits/.1.crc"))
    start().awaitTermination(120000)
    val after = spark.read.parquet(s"$base/out/batchId=1")
      .collect().map(_.toString).sorted.toSeq
    assert(after == b1, "a replayed batch must reproduce its manifest exactly")
    assert(spark.read.parquet(s"$base/out").count() == 6L, "no duplicate rows")
  }

  test("scala UDF registration surface (B45)") {
    spark.udf.register("graft_token_count", (s: String) => s.split(" ").length)
    val n = spark.sql("SELECT graft_token_count('a b c') AS n").head().getInt(0)
    assert(n == 3)
  }
}
