package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash, the Spark-native equivalent of Impala's `fnv_hash`
  * builtin (`be/src/exprs/utility-functions.cc`, `be/src/util/hash-util.h` —
  * FNV over the value's slot bytes). Numerics hash their little-endian
  * fixed-width encoding (matching the reference's in-memory tuple slots,
  * `be/src/runtime/tuple.h:31-47`); strings/binary hash their bytes.
  *
  * Implemented as a Catalyst `Expression` with `doGenCode` so it stays inside
  * whole-stage codegen — usable as a cheap deterministic partitioner/salt at
  * 100 TB scale (the hot path is a static JVM call, no boxing beyond the
  * codegen'd null check).
  */
object FnvHash {
  final val Prime = 1099511628211L
  final val Basis = -3750763034362895579L // 14695981039346656037 as signed

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Basis
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  def hashUtf8(s: UTF8String): Long = hashBytes(s.getBytes)

  def hashLong(v: Long, width: Int): Long = {
    var h = Basis
    var i = 0
    while (i < width) {
      h = (h ^ ((v >>> (8 * i)) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  def hashDouble(v: Double): Long = hashLong(java.lang.Double.doubleToLongBits(v), 8)
  def hashFloat(v: Float): Long = hashLong(java.lang.Float.floatToIntBits(v).toLong & 0xffffffffL, 4)

  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      FnvHashExpression(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}

/** fnv_hash(x) → bigint. A class of its own, not a [[GraftFunctions.kernel]]:
  * it picks the hash method from the resolved input type (12 SQL types),
  * and it is SQL-visible as `fnv_hash`. */
case class FnvHashExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | BinaryType | TimestampType |
           TimestampNTZType | DateType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"fnv_hash does not support type $other")
    }

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case StringType => FnvHash.hashUtf8(v.asInstanceOf[UTF8String])
    case BinaryType => FnvHash.hashBytes(v.asInstanceOf[Array[Byte]])
    case BooleanType => FnvHash.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L, 1)
    case ByteType => FnvHash.hashLong(v.asInstanceOf[Byte].toLong, 1)
    case ShortType => FnvHash.hashLong(v.asInstanceOf[Short].toLong, 2)
    case IntegerType | DateType => FnvHash.hashLong(v.asInstanceOf[Int].toLong, 4)
    case LongType | TimestampType | TimestampNTZType => FnvHash.hashLong(v.asInstanceOf[Long], 8)
    case FloatType => FnvHash.hashFloat(v.asInstanceOf[Float])
    case DoubleType => FnvHash.hashDouble(v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = "graft.functions.FnvHash"
    child.dataType match {
      case StringType => defineCodeGen(ctx, ev, c => s"$f.hashUtf8($c)")
      case BinaryType => defineCodeGen(ctx, ev, c => s"$f.hashBytes($c)")
      case BooleanType => defineCodeGen(ctx, ev, c => s"$f.hashLong($c ? 1L : 0L, 1)")
      case ByteType => defineCodeGen(ctx, ev, c => s"$f.hashLong((long) $c, 1)")
      case ShortType => defineCodeGen(ctx, ev, c => s"$f.hashLong((long) $c, 2)")
      case IntegerType | DateType => defineCodeGen(ctx, ev, c => s"$f.hashLong((long) $c, 4)")
      case LongType | TimestampType | TimestampNTZType =>
        defineCodeGen(ctx, ev, c => s"$f.hashLong($c, 8)")
      case FloatType => defineCodeGen(ctx, ev, c => s"$f.hashFloat($c)")
      case DoubleType => defineCodeGen(ctx, ev, c => s"$f.hashDouble($c)")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): FnvHashExpression =
    copy(child = newChild)

  override def prettyName: String = "fnv_hash"
}
