package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{BinaryType, DataType}

/** JVM-side codec helpers, shared between interpreted eval and generated
  * code. Kept as static-shaped methods so `doGenCode` can call them and
  * the expression stays inside whole-stage codegen.
  */
object CodecUtil {
  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 16)
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    val out = new ByteArrayOutputStream(bytes.length * 3 + 16)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) out.write(buf, 0, n)
      n = in.read(buf)
    }
    in.close()
    out.toByteArray
  }

  /** Permissive variant: null on malformed input instead of throwing
    * (SURVEY.md §1.3 — the reference fails the whole batch on corrupt
    * payloads; we route them to the error side-channel instead).
    */
  def gunzipOrNull(bytes: Array[Byte]): Array[Byte] =
    try gunzip(bytes) catch { case _: java.io.IOException => null }

  /** Base64 decode with the MIME decoder, as Spark's `unbase64` does
    * (characters outside the alphabet are skipped); null on malformed
    * input, such as a final unit of one character.
    */
  def unbase64OrNull(utf8: org.apache.spark.unsafe.types.UTF8String): Array[Byte] =
    try java.util.Base64.getMimeDecoder.decode(utf8.getBytes)
    catch { case _: IllegalArgumentException => null }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 48 bits of md5 as a positive long — numerically identical
    * to parsing the first 12 hex chars of the md5 digest (big-endian),
    * i.e. `conv(substr(md5(s), 1, 12), 16, 10)`, without materializing
    * the hex string.
    */
  def hash48(utf8: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md5Digest.get()
    d.reset()
    val bytes = d.digest(utf8.getBytes)
    ((bytes(0) & 0xffL) << 40) | ((bytes(1) & 0xffL) << 32) |
      ((bytes(2) & 0xffL) << 24) | ((bytes(3) & 0xffL) << 16) |
      ((bytes(4) & 0xffL) << 8) | (bytes(5) & 0xffL)
  }
}

/** 48-bit md5 prefix of a STRING column as a positive long — the
  * engine-portable string hash used by MinHash/SimHash/fingerprints
  * (DuckDB replicates it as hex-substring parsing; see
  * Dedup.hash48 scaladoc). Native because it sits in the innermost
  * loop of dedup: one call per shingle.
  */
case class Hash48(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hash48"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    CodecUtil.hash48(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CodecUtil.hash48($c)")
  override protected def withNewChildInternal(c: Expression): Hash48 = copy(child = c)
}

/** Base for binary->binary codec expressions. Null-intolerant (null in,
  * null out), codegen'd via a single static call — the whole-stage
  * codegen span is not broken (SURVEY.md §2 B31; the reference does
  * `gzip.decompress` at lambda/main.py:74).
  */
abstract class BinaryCodecExpression extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")

  /** Name of the CodecUtil method implementing this codec. */
  protected def codecMethod: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CodecUtil.$codecMethod($c)")
}

/** gzip-compress a BINARY column (inverse of [[Gunzip]]; needed for
  * fixture generation and the re-ingest loop).
  */
case class Gzip(child: Expression) extends BinaryCodecExpression {
  override def prettyName: String = "gzip"
  override protected def codecMethod: String = "gzip"
  override def nullSafeEval(v: Any): Any = CodecUtil.gzip(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Gzip = copy(child = c)
}

/** gzip-decompress a BINARY column (reference: `gzip.decompress(...)`,
  * lambda/main.py:74). With `lenient = true`, malformed input yields
  * null instead of failing the task (ProcessingFailed routing).
  */
case class Gunzip(child: Expression, lenient: Boolean = false) extends BinaryCodecExpression {
  override def prettyName: String = "gunzip"
  override protected def codecMethod: String = if (lenient) "gunzipOrNull" else "gunzip"
  override def nullable: Boolean = lenient || super.nullable
  override def nullSafeEval(v: Any): Any =
    if (lenient) CodecUtil.gunzipOrNull(v.asInstanceOf[Array[Byte]])
    else CodecUtil.gunzip(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!lenient) super.doGenCode(ctx, ev)
    else nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CodecUtil.gunzipOrNull($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(c: Expression): Gunzip = copy(child = c)
}

/** Base64-decode a STRING column to BINARY ([[CodecUtil.unbase64OrNull]]),
  * the one decoder of the delivery path: the transform's wire data and
  * the delivered Ok payloads. Malformed input yields null instead of
  * failing the task, so the decode is also the validity test.
  */
private[graft] case class Unbase64(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unbase64"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    CodecUtil.unbase64OrNull(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CodecUtil.unbase64OrNull($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(c: Expression): Unbase64 = copy(child = c)
}

/** Unchunked RFC-4648 base64 of a BINARY column, returned as STRING.
  * Spark's built-in `base64` emits MIME-chunked output (76-char lines)
  * when spark.sql.chunkBase64String.enabled is true; the reference's
  * Python `base64.b64encode` (lambda/main.py:93) never chunks. Using
  * our own expression makes the pipeline independent of session conf.
  */
case class Base64Unchunked(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "base64_unchunked"
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")
  // base64 output is ASCII: its bytes are the UTF-8 string, no String round trip
  override def nullSafeEval(v: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromBytes(
      java.util.Base64.getEncoder.encode(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromBytes(java.util.Base64.getEncoder().encode($c))")
  override protected def withNewChildInternal(c: Expression): Base64Unchunked = copy(child = c)
}

/** Column-level API + SQL registration for the codec expressions. */
object codecs {
  def gzip(c: Column): Column =
    shims.column(Gzip(shims.expression(c)))

  def gunzip(c: Column, lenient: Boolean = false): Column =
    shims.column(Gunzip(shims.expression(c), lenient))

  private[graft] def unbase64(c: Column): Column =
    shims.column(Unbase64(shims.expression(c)))

  def base64Unchunked(c: Column): Column =
    shims.column(Base64Unchunked(shims.expression(c)))

  def hash48(c: Column): Column =
    shims.column(Hash48(shims.expression(c)))

  /** Register `gzip`/`gunzip` for use from SQL text. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("gzip", es => Gzip(es.head), "built-in")
    registry.createOrReplaceTempFunction("gunzip", es => Gunzip(es.head), "built-in")
  }
}
