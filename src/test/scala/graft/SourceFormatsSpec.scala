package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet+json-lines (B1-B4): the
  * same frame must survive a write/read roundtrip byte-identically in
  * every bundled format — CSV (quoting/escaping on free text), ORC
  * (the other columnar), JSON-lines, and text. At 100 TB the engine
  * ingests whatever the upstream producers emit; a format that
  * silently mangles a corner (CSV quotes, nulls, unicode) corrupts
  * the corpus at the first hop.
  */
class SourceFormatsSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    (1L, "plain words", "en"),
    (2L, "comma, quote \" and 'single'", "de"),
    (3L, "newline\\n-escape and\ttab", "fr"),
    (4L, null.asInstanceOf[String], "zh"),
    (5L, "unicode é世界 ok", "es"))
    .toDF("id", "text", "lang")

  private def roundtrip(fmt: String, opts: Map[String, String]): Unit = {
    val base = tmpDir(s"graft-fmt-$fmt")
    fixture.write.options(opts).format(fmt).save(s"$base/out")
    val back = spark.read.options(opts).schema(fixture.schema).format(fmt)
      .load(s"$base/out")
    val a = fixture.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$fmt roundtrip mangled rows:\n$a\nvs\n$b")
  }

  /** The payload lines delivered under `primaryDir`, read from the
    * `batchId=N` directories that exist by their explicit paths. A
    * `batchId=*` glob read logs a FileNotFoundException trace (the sink
    * metadata probe stats the literal glob path), and a read before the
    * first batch fails outright; no directory yet reads as no lines.
    */
  private def primaryLines(primaryDir: String): Array[String] = {
    val dirs = Option(new java.io.File(primaryDir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("batchId="))
      .map(_.getPath)
    if (dirs.isEmpty) Array.empty else spark.read.textFile(dirs: _*).collect()
  }

  test("csv roundtrip preserves quotes, commas, tabs, nulls and unicode") {
    roundtrip("csv", Map("header" -> "true", "escape" -> "\""))
  }

  test("orc roundtrip is byte-identical") {
    roundtrip("orc", Map.empty)
  }

  test("json-lines roundtrip is byte-identical") {
    roundtrip("json", Map.empty)
  }

  test("documents table survives a csv re-materialization (free-text at fixture scale)") {
    val base = tmpDir("graft-fmt-docs")
    val docs = Tables.load(spark, sfDir, "documents")
    docs.write.option("header", "true").option("escape", "\"").csv(s"$base/csv")
    val back = spark.read.option("header", "true").option("escape", "\"")
      .schema(docs.schema).csv(s"$base/csv")
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      "csv re-materialization changed the corpus")
  }

  test("SocketIngest.fromLines: each line gains the (recordId, data) wire contract") {
    val lines = Seq(
      ("payload-a", java.sql.Timestamp.valueOf("2026-08-14 00:00:00.000001")),
      ("payload-b", java.sql.Timestamp.valueOf("2026-08-14 00:00:00.000001")),
      ("payload-a", java.sql.Timestamp.valueOf("2026-08-14 00:00:00.000002")))
      .toDF("value", "timestamp")
    val recs = graft.streaming.SocketIngest.fromLines(lines).collect()
    assert(recs.length == 3)
    recs.foreach(r => assert(r.getString(0).matches("sock-[0-9a-f]{32}"), r.getString(0)))
    assert(recs.map(_.getString(1)).toSeq == Seq("payload-a", "payload-b", "payload-a"))
    // same payload at different arrival instants -> different ids
    assert(recs.map(_.getString(0)).distinct.length == 3)
    // without the socket source's timestamp column the contract still holds
    val bare = graft.streaming.SocketIngest.fromLines(Seq("x").toDF("value")).collect()
    assert(bare.head.getString(1) == "x" && bare.head.getString(0).startsWith("sock-"))
  }

  test("KafkaIngest.fromKafka: replay-stable ids from the offset coordinate, value bytes to data") {
    val rows = Seq(
      (Array[Byte](1), "w1".getBytes("UTF-8"), "events", 0, 41L),
      (Array[Byte](2), "w2".getBytes("UTF-8"), "events", 0, 42L),
      (Array[Byte](3), "w2".getBytes("UTF-8"), "events", 1, 41L))
      .toDF("key", "value", "topic", "partition", "offset")
    val recs = graft.streaming.KafkaIngest.fromKafka(rows)
      .as[(String, String)].collect().toSeq
    assert(recs == Seq(("events-0-41", "w1"), ("events-0-42", "w2"), ("events-1-41", "w2")))
    // REPLAY STABILITY: identical payloads at different offsets get
    // different ids; the same offset re-presented gets the SAME id
    // (no arrival time in the id — the seen-registry depends on it)
    val again = graft.streaming.KafkaIngest.fromKafka(rows)
      .as[(String, String)].collect().toSeq
    assert(again == recs)
    // a null coordinate must FAIL loudly, not alias ids (concat_ws
    // would skip it: (t,0,null) and (t,null,0) -> the same "t-0")
    val malformed = spark.sql(
      "SELECT binary('x') AS value, 't' AS topic, 0 AS partition, CAST(NULL AS BIGINT) AS offset")
    val e = intercept[Exception] {
      graft.streaming.KafkaIngest.fromKafka(malformed).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("null replay coordinate") ||
        e.getCause != null && e.getCause.getMessage.contains("null replay coordinate")),
      s"expected the loud coordinate guard, got: $e")
  }

  test("Kafka-shaped ingest: wire-format messages through the full delivery pipeline (MemoryStream, broker-less)") {
    // the production network leg's MAPPING proven end to end: a
    // memory stream carrying the exact spark-sql-kafka source schema
    // feeds KafkaIngest.fromKafka -> startFromRecords; transform +
    // governor + multi-sink are byte-identical to the file/socket
    // paths. Only the format("kafka") reader itself needs a broker.
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val messages = (0 until 5).map(i => s"Hello kafka $i")
    val wire = Fixtures.wireEncode(Fixtures.envelopeJson("DATA_MESSAGE", messages))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long)]
    val kafkaShaped = ms.toDF()
      .toDF("key", "value", "topic", "partition", "offset")
    val base = tmpDir("graft-kafka")
    val conf = graft.streaming.FirehoseDelivery.Config(
      inputDir = s"$base/in", outputDir = s"$base/out",
      checkpointDir = s"$base/ck", triggerMs = 200L)
    val q = graft.streaming.FirehoseDelivery.startFromRecords(
      graft.streaming.KafkaIngest.fromKafka(kafkaShaped), conf)
    try {
      (0 until 3).foreach { off =>
        ms.addData((Array[Byte](0), wire.getBytes("UTF-8"), "cwl", 0, off.toLong))
      }
      q.processAllAvailable()
      val got = primaryLines(conf.primaryDir)
      // 3 records x 5 events = 15 transformed payload lines
      assert(got.length == 15, s"expected 15 delivered payload lines, got ${got.length}")
      assert(got.forall(_.contains("Hell Yeah kafka")), got.take(2).mkString("|"))
    } finally q.stop()
  }

  test("KafkaIngest.records: LIVE broker e2e with kill/restart replay (env-gated)") {
    // The one codepath the broker-less MemoryStream e2e above cannot
    // reach: the real format("kafka") reader. Needs the
    // spark-sql-kafka-0-10 connector (+ its kafka-clients dependency)
    // on the test classpath AND a reachable broker named by
    // GRAFT_KAFKA_BOOTSTRAP — neither resolvable in this offline
    // sandbox (attempted coordinates + failure recorded in ROADMAP.md
    // round-13 notes), so this self-cancels exactly like the ffmpeg
    // e2e. On an equipped host it proves the full production leg:
    // produce wire-format messages -> format("kafka") ->
    // KafkaIngest.records -> delivery pipeline -> STOP the query ->
    // produce more -> restart from the same checkpoint, asserting the
    // restart delivers exactly the new records once (replay-stable
    // topic-partition-offset ids + checkpointed offsets = the
    // effectively-once guarantee across a real consumer restart).
    val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.nonEmpty, "GRAFT_KAFKA_BOOTSTRAP unset — no live broker")
    assume(
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
      catch { case _: ClassNotFoundException => false },
      "spark-sql-kafka-0-10 connector not on the classpath")

    // kafka-clients rides the connector's dependency tree; produce via
    // reflection so this spec COMPILES with no kafka dependency at all
    def produce(topic: String, msgs: Seq[String]): Unit = {
      val props = new java.util.Properties()
      props.put("bootstrap.servers", bootstrap.get)
      props.put("key.serializer",
        "org.apache.kafka.common.serialization.StringSerializer")
      props.put("value.serializer",
        "org.apache.kafka.common.serialization.StringSerializer")
      val pCls = Class.forName("org.apache.kafka.clients.producer.KafkaProducer")
      val rCls = Class.forName("org.apache.kafka.clients.producer.ProducerRecord")
      val producer = pCls.getConstructor(classOf[java.util.Properties])
        .newInstance(props)
      try {
        val send = pCls.getMethod("send", rCls)
        val mkRec = rCls.getConstructor(classOf[String], classOf[Object], classOf[Object])
        msgs.foreach { m =>
          send.invoke(producer, mkRec.newInstance(topic, null, m)
            .asInstanceOf[Object])
            .asInstanceOf[java.util.concurrent.Future[_]]
            .get(30, java.util.concurrent.TimeUnit.SECONDS)
        }
      } finally pCls.getMethod("close").invoke(producer)
    }

    val topic = s"graft-e2e-${java.util.UUID.randomUUID().toString.take(8)}"
    val messages = (0 until 5).map(i => s"Hello kafka $i")
    val wire = Fixtures.wireEncode(Fixtures.envelopeJson("DATA_MESSAGE", messages))
    produce(topic, Seq.fill(3)(wire))

    val base = tmpDir("graft-kafka-live")
    val conf = graft.streaming.FirehoseDelivery.Config(
      inputDir = s"$base/in", outputDir = s"$base/out",
      checkpointDir = s"$base/ck", triggerMs = 200L)
    def delivered(): Array[String] = primaryLines(conf.primaryDir)

    // leg 1: consume the first 3 records, then KILL the query
    val q1 = graft.streaming.FirehoseDelivery.startFromRecords(
      graft.streaming.KafkaIngest.records(spark, bootstrap.get, topic), conf)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(delivered().length == 15,
      s"leg 1: expected 3 records x 5 events, got ${delivered().length}")

    // leg 2: new records arrive while down; restart from the SAME
    // checkpoint — exactly the new ones deliver, none of the old replay
    produce(topic, Seq.fill(2)(wire))
    val q2 = graft.streaming.FirehoseDelivery.startFromRecords(
      graft.streaming.KafkaIngest.records(spark, bootstrap.get, topic), conf)
    try { q2.processAllAvailable() } finally q2.stop()
    val got = delivered()
    assert(got.length == 25,
      s"restart must deliver exactly the 2 new records once, got ${got.length} lines")
    assert(got.forall(_.contains("Hell Yeah kafka")), got.take(2).mkString("|"))
  }

  test("network-attached ingest: wire-format lines over a TCP socket run the full delivery pipeline") {
    // the CWL -> Firehose service hop over an ACTUAL network leg:
    // a local producer writes gzip+base64 envelope lines to a TCP
    // socket; SocketIngest adapts lines -> records; the delivery
    // query (transform + governor + multi-sink) is byte-identical to
    // the file-source path. Socket source = dev/test realism (no
    // offsets); production swaps a Kafka reader onto the same
    // startFromRecords seam.
    import java.util.Base64
    val messages = (0 until 5).map(i => s"Hello socket $i")
    val wire = Fixtures.wireEncode(Fixtures.envelopeJson("DATA_MESSAGE", messages))
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port = server.getLocalPort
    val producer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      (0 until 3).foreach(_ => out.println(wire))
      out.flush()
      // keep the connection open until the test finishes reading —
      // the socket source drops everything on disconnect
      Thread.sleep(30000)
      sock.close()
    })
    producer.setDaemon(true)
    producer.start()
    val base = tmpDir("graft-socket")
    val conf = graft.streaming.FirehoseDelivery.Config(
      inputDir = s"$base/in", outputDir = s"$base/out",
      checkpointDir = s"$base/ck", triggerMs = 200L)
    val q = graft.streaming.FirehoseDelivery.startFromRecords(
      graft.streaming.SocketIngest.records(spark, "127.0.0.1", port), conf)
    try {
      // poll the primary sink: 3 records x 5 events = 15 payload lines
      val deadline = System.currentTimeMillis() + 60000
      def primary(): Array[String] =
        try primaryLines(conf.primaryDir)
        catch { case _: org.apache.spark.sql.AnalysisException => Array.empty }
      while (primary().length < 15 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      val got = primary()
      assert(got.length == 15, s"expected 15 delivered payload lines, got ${got.length}")
      // the payload is the transformed event stream: Hello -> Hell Yeah
      assert(got.forall(_.contains("Hell Yeah socket")), got.take(2).mkString("|"))
      assert(!got.exists(_.contains("Hello socket")), "transform must have replaced Hello")
    } finally {
      q.stop()
      server.close()
    }
  }
}
