package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.FirehoseTransform

/** Seeded producer side of the delivery workloads: CloudWatch Logs
  * subscription envelopes, framed for Firehose by the engine's own
  * `frameRecords`, plus the payload each record must deliver, computed
  * here without the engine.
  */
object Inputs {
  val EventsMin = 90
  val EventsMax = 110 // about 100 events per envelope
  val ControlShare = 0.01

  /** One producer record. Every message starts with `<id>:<k> `, so a
    * delivered line names its record and event.
    */
  final case class Rec(id: String, control: Boolean, messages: Array[String]) {
    /** What primary/ must hold for this record: every message with
      * each `Hello` replaced by `Hell Yeah`, joined by newline in event order.
      */
    def expected: String = messages.map(_.replace("Hello", "Hell Yeah")).mkString("\n")
    /** Bytes the size governor charges for this record once transformed:
      * the base64 payload (each event newline-terminated) plus the id.
      */
    def governedSize: Long =
      if (control) 0L
      else 4L * ((expected.getBytes(UTF_8).length + 1 + 2) / 3) + id.length
  }

  private val vocab = Array("Hello", "firehose", "delivery", "stream", "bucket",
    "HelloHello", "lambda", "größe", "record", "batch", "Hello,", "shard", "latency",
    "buffer", "s3", "héllo", "retry", "backup", "gzip", "base64")

  def hash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0xf00d) & 0xffffffffL)

  def generate(seed: Long, n: Int, idOf: Int => String): Array[Rec] = {
    val r = new java.util.SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val id = idOf(i)
      if (r.nextDouble() < ControlShare)
        Rec(id, control = true, Array("CWL CONTROL MESSAGE: Checking health of destination Firehose."))
      else Rec(id, control = false, Array.tabulate(EventsMin + r.nextInt(EventsMax - EventsMin + 1)) { k =>
        val words = Array.fill(3 + r.nextInt(6))(vocab(r.nextInt(vocab.length)))
        s"$id:$k ${words.mkString(" ")}"
      })
    }
  }

  private val schema = StructType(Seq(StructField("recordId", StringType),
    StructField("messageType", StringType), StructField("messages", ArrayType(StringType))))

  /** Firehose wire lines `{"recordId":..,"data":base64(gzip(envelope))}`
    * in record order, encoded by `FirehoseTransform.frameRecords`.
    */
  def frame(spark: SparkSession, recs: Array[Rec]): Array[String] = {
    val rows = recs.toSeq.map(r =>
      Row(r.id, if (r.control) "CONTROL_MESSAGE" else "DATA_MESSAGE", r.messages.toSeq))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val envelope = struct(col("messageType"), lit("123456789012").as("owner"),
      lit("/ex-aws-firehose").as("logGroup"), lit("perfbench").as("logStream"),
      array(lit("ex-aws-firehose")).as("subscriptionFilters"),
      transform(col("messages"), (m, k) => struct(lpad(k.cast("string"), 56, "0").as("id"),
        (lit(1754982000000L) + k).as("timestamp"), m.as("message"))).as("logEvents"))
    val data = FirehoseTransform.frameRecords(df, col("recordId"), envelope)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    recs.map(r => s"""{"recordId":"${r.id}","data":"${data(r.id)}"}""")
  }

  /** Write `lines` into consecutive JSON-lines files of `perFile` lines.
    * Modification times are spaced one second apart in file order, so
    * the file source takes them in that order.
    */
  def writeFiles(dir: Path, lines: Array[String], perFile: Int, mtimeBaseMs: Long): Seq[Path] = {
    Files.createDirectories(dir)
    lines.grouped(perFile).zipWithIndex.map { case (chunk, i) =>
      val p = dir.resolve(f"f$i%05d.json")
      Files.write(p, chunk.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeBaseMs + i * 1000L))
      p
    }.toSeq
  }
}
