package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The k seeded MinHash lanes of a hash array, in one pass: lane i is
  * the minimum over the non-null hashes h of `(a(i) * h + b(i)) mod p`.
  * Null when the array is null or holds no hash, so a doc with no
  * shingles has no signature.
  *
  * Native because the lanes sit in the per-shingle loop. The column
  * form, k `array_min(transform(hs, h -> ...))` lanes, makes k
  * interpreted passes (Spark's higher-order functions do not codegen)
  * and measured slower than an explode + groupBy(min) shuffle on
  * char-12 shingles; this loop reads each hash once (SCALE.md).
  */
private[graft] case class MinHashLanes(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val as = a.toArray
  @transient private lazy val bs = b.toArray
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_lanes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<BIGINT> input, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val k = as.length
    val lanes = Array.fill(k)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < hs.numElements()) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        var i = 0
        while (i < k) {
          val x = (as(i) * h + bs(i)) % p
          if (x < lanes(i)) lanes(i) = x
          i += 1
        }
        seen = true
      }
      j += 1
    }
    if (seen) new GenericArrayData(lanes) else null
  }
  override protected def withNewChildInternal(c: Expression): MinHashLanes = copy(child = c)
}

private[graft] object minhash {
  def lanes(hs: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    shims.column(MinHashLanes(shims.expression(hs), a, b, p))
}
