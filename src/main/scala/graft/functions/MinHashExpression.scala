package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 64-permutation MinHash signature over an array<string> of shingles,
  * in ONE pass: each shingle is hashed once (xxHash64) and the 64
  * permutations are affine maps a_i·h + b_i of that base hash — the
  * textbook trick that replaces 64 full string hashes per shingle with
  * 1 hash + 64 multiply-adds. Returns array<long>[64].
  *
  * CodegenFallback: the per-row work is a tight compiled-Scala loop;
  * codegen would only remove one virtual call per row.
  */
case class MinHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"minhash64 needs array<string>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(MinHash64.NumPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = MinHash64.baseHash(s)
      var p = 0
      while (p < MinHash64.NumPerms) {
        // affine permutation over Z/2^64; compare as unsigned
        val v2 = MinHash64.A(p) * h + MinHash64.B(p)
        if (java.lang.Long.compareUnsigned(v2, mins(p)) < 0) mins(p) = v2
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash64 {
  final val NumPerms = 64

  def baseHash(s: UTF8String): Long =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42).toLong * 0x9E3779B97F4A7C15L ^
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 1337).toLong

  // splitmix64-derived odd multipliers + offsets (deterministic).
  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  val A: Array[Long] = Array.tabulate(NumPerms)(i => splitmix(2L * i) | 1L)
  val B: Array[Long] = Array.tabulate(NumPerms)(i => splitmix(2L * i + 1))
}
