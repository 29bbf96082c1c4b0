package graft

import java.util.Base64

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.envelope.Envelope
import graft.functions.CodecUtil
import graft.operators.FirehoseTransform

/** Fixture builders mirroring FIXTURES.md §1 (wire format from
  * reference lambda/main.py:30,74: base64(gzip(JSON bytes))).
  */
object Fixtures {
  def envelopeJson(messageType: String, messages: Seq[String],
      logGroup: String = "/ex-aws-firehose"): String = {
    val events = messages.zipWithIndex.map { case (m, i) =>
      s"""{"id":"${"%056d".format(i)}","timestamp":${1754982000000L + i},"message":${jsonStr(m)}}"""
    }.mkString("[", ",", "]")
    s"""{"messageType":"$messageType","owner":"123456789012","logGroup":"$logGroup","logStream":"test","subscriptionFilters":["ex-aws-firehose"],"logEvents":$events}"""
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  def wireEncode(json: String): String =
    Base64.getEncoder.encodeToString(CodecUtil.gzip(json.getBytes("UTF-8")))

  def record(recordId: String, json: String): (String, String) =
    (recordId, wireEncode(json))
}

class FirehoseTransformSpec extends SparkSpec {
  import Fixtures._
  import spark.implicits._

  private def run(records: Seq[(String, String)]): Map[String, Row] =
    FirehoseTransform.transform(records.toDF("recordId", "data"))
      .collect().map(r => r.getString(0) -> r).toMap

  test("smoke: Hello -> Hell Yeah with newline (main.py:67-69)") {
    val out = run(Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello Firehose! 2026-08-12")))))
    val r = out("r1")
    assert(r.getString(1) == "Ok")
    val payload = new String(Base64.getDecoder.decode(r.getString(2)), "UTF-8")
    assert(payload == "Hell Yeah Firehose! 2026-08-12\n")
  }

  test("control message -> ProcessingFailed, no data (main.py:86-90)") {
    val out = run(Seq(record("r1", envelopeJson("CONTROL_MESSAGE", Seq()))))
    assert(out("r1").getString(1) == "ProcessingFailed")
    assert(out("r1").isNullAt(2))
  }

  test("re-ingested bare string -> pass-through Ok (main.py:80-85)") {
    val bare = "\"SGVsbG8gRmlyZWhvc2Uh\""
    val out = run(Seq(record("r1", bare)))
    assert(out("r1").getString(1) == "Ok")
    assert(out("r1").getString(2) == "SGVsbG8gRmlyZWhvc2Uh")
  }

  test("multi-event: order-preserving concatenation (main.py:92)") {
    val out = run(Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("a", "b", "c")))))
    val payload = new String(Base64.getDecoder.decode(out("r1").getString(2)), "UTF-8")
    assert(payload == "a\nb\nc\n")
  }

  test("Hello appearing twice: both replaced (Python str.replace semantics)") {
    val out = run(Seq(record("r1", envelopeJson("DATA_MESSAGE", Seq("Hello and Hello again")))))
    val payload = new String(Base64.getDecoder.decode(out("r1").getString(2)), "UTF-8")
    assert(payload == "Hell Yeah and Hell Yeah again\n")
  }

  test("corrupt gzip routed to ProcessingFailed in permissive mode") {
    val out = run(Seq(("r1", Base64.getEncoder.encodeToString("not gzip".getBytes))))
    assert(out("r1").getString(1) == "ProcessingFailed")
    assert(out("r1").isNullAt(2))
  }

  test("corrupt json routed to ProcessingFailed in permissive mode") {
    val out = run(Seq(record("r1", "{not json at all")))
    assert(out("r1").getString(1) == "ProcessingFailed")
  }

  test("quote-prefixed but malformed bare string -> ProcessingFailed, not Ok-with-null") {
    val out = run(Seq(record("r1", "\"truncated")))
    assert(out("r1").getString(1) == "ProcessingFailed")
    assert(out("r1").isNullAt(2))
  }

  test("payload ending in an empty event keeps both trailing newlines through the sink strip") {
    // transform yields "a\n\n"; sink strips exactly ONE \n (the one the
    // text writer re-adds) — \n$ would eat two (Java $ matches before a
    // final line terminator)
    val payload = "a\n\n"
    val stripped = payload.replaceAll("\\n\\z", "")
    assert(stripped == "a\n")
  }

  test("size governor: records past 4MB cumulative marked Dropped, payload queued (main.py:137-151)") {
    val big = "x" * 900000
    val records = (1 to 6).map(i => record(s"r$i", envelopeJson("DATA_MESSAGE", Seq(big))))
    val transformed = FirehoseTransform.transform(records.toDF("recordId", "data"))
    val governed = FirehoseTransform.sizeGovernor(transformed).collect()
      .map(r => r.getString(0) -> r).toMap
    // each output record is ~1.2MB of base64; cumulative crosses 4e6 at the 4th
    val dropped = governed.values.filter(_.getString(1) == "Dropped")
    val kept = governed.values.filter(_.getString(1) == "Ok")
    assert(dropped.nonEmpty && kept.nonEmpty)
    // kept prefix total <= cap
    val keptSize = kept.map(r => r.getString(2).length.toLong + r.getString(0).length).sum
    assert(keptSize <= 4000000L)
    // dropped records keep payload in reingest_data and lose data
    dropped.foreach { r => assert(r.isNullAt(2) && !r.isNullAt(3)) }
    kept.foreach { r => assert(r.isNullAt(3)) }
    // order semantics: all kept records precede all dropped ones
    val firstDropIdx = governed.keys.filter(k => governed(k).getString(1) == "Dropped")
      .map(_.drop(1).toInt).min
    governed.foreach { case (k, r) =>
      val i = k.drop(1).toInt
      if (i < firstDropIdx) assert(r.getString(1) == "Ok")
      else assert(r.getString(1) == "Dropped")
    }
  }

  test("ProcessingFailed records do not count toward size cap (main.py:141-142)") {
    val records = Seq(
      record("r1", envelopeJson("CONTROL_MESSAGE", Seq())),
      record("r2", envelopeJson("DATA_MESSAGE", Seq("Hello"))))
    val governed = FirehoseTransform.sizeGovernor(
      FirehoseTransform.transform(records.toDF("recordId", "data"))).collect()
    assert(governed.count(_.getString(1) == "Ok") == 1)
    assert(governed.count(_.getString(1) == "ProcessingFailed") == 1)
  }

  test("size governor rejects a streaming frame eagerly (batch-local contract)") {
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .selectExpr("cast(value as string) as recordId", "'Ok' as result", "'x' as data")
    val e = intercept[IllegalArgumentException] {
      FirehoseTransform.sizeGovernor(stream)
    }
    assert(e.getMessage.contains("foreachBatch"))
  }

  test("size governor fails fast when the batch exceeds maxBatchRows") {
    val records = (1 to 10).map(i => (s"r$i", "Ok", "payload"))
      .toDF("recordId", "result", "data")
    val e = intercept[Exception] {
      FirehoseTransform.sizeGovernor(records, maxBatchRows = 5L).collect()
    }
    assert(e.getMessage.contains("maxBatchRows"))
  }

  test("frameRecords round-trips through transform") {
    val df = Seq(("id1", "Hello roundtrip")).toDF("rid", "msg")
    val framed = FirehoseTransform.frameRecords(
      df,
      col("rid"),
      struct(
        lit("DATA_MESSAGE").as("messageType"), lit("123456789012").as("owner"),
        lit("/g").as("logGroup"), lit("s").as("logStream"),
        array(lit("f")).as("subscriptionFilters"),
        array(struct(lit("0").as("id"), lit(1L).as("timestamp"), col("msg").as("message"))).as("logEvents")))
    val out = FirehoseTransform.transform(framed).collect().head
    assert(out.getString(1) == "Ok")
    val payload = new String(Base64.getDecoder.decode(out.getString(2)), "UTF-8")
    assert(payload == "Hell Yeah roundtrip\n")
  }
}

class CodecSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.codecs

  test("gzip . gunzip = id (property over random byte arrays)") {
    val rnd = new scala.util.Random(42)
    (0 until 50).foreach { i =>
      val bytes = Array.fill(rnd.nextInt(10000))(rnd.nextInt().toByte)
      assert(CodecUtil.gunzip(CodecUtil.gzip(bytes)).sameElements(bytes))
    }
  }

  test("gzip/gunzip expressions work in a plan and in SQL") {
    codecs.register(spark)
    val df = Seq("hello world", "", "unicode: é中文").toDF("s")
    val out = df.select(
      codecs.gunzip(codecs.gzip(encode($"s", "UTF-8"))).cast("string").as("roundtrip"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("hello world", "", "unicode: é中文"))
    val sqlOut = spark.sql("SELECT cast(gunzip(gzip(encode('via sql', 'UTF-8'))) as string) AS s")
      .collect().head.getString(0)
    assert(sqlOut == "via sql")
  }

  test("lenient gunzip yields null on garbage; strict throws") {
    val df = Seq(Array[Byte](1, 2, 3)).toDF("b")
    assert(df.select(codecs.gunzip($"b", lenient = true)).collect().head.isNullAt(0))
    intercept[Exception] {
      df.select(codecs.gunzip($"b")).collect()
    }
  }
}
