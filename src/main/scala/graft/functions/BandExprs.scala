package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform

/** Every LSH band hash of a MinHash signature as one JITed static call:
  * element `bi` is `xxhash64(concat_ws(",", slice(sig, bi * rows + 1, rows)))`
  * bit for bit, so band hashes persisted by the Column shape stay valid.
  * That shape is a struct of `bands` hash/concat/slice/cast trees per row:
  * one banding stage generated 60-66 KB of Java.
  *
  * The Column shape's edges are kept: null signature elements are skipped
  * (concat_ws skips nulls), a band past the signature's end hashes the
  * empty string, and a null signature hashes the empty string in every
  * band. */
case class BandHashes(child: Expression, bands: Int, rows: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bands > 0 && rows > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"band_hashes needs bands > 0 and rows > 0, got $bands x $rows")
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_hashes expects array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_hashes"

  override def eval(input: InternalRow): Any =
    BandHashes.compute(child.eval(input).asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.functions.BandHashes.compute(
        ${c.isNull} ? null : ${c.value}, $bands, $rows);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

object BandHashes {
  /** Spark's `xxhash64` seed. */
  private val Seed = 42L

  /** Static so generated code can call it. */
  def compute(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    // 20 digits and a sign at most per element, one comma between
    val buf = new Array[Byte](rows * 21)
    val out = new Array[Long](bands)
    var bi = 0
    while (bi < bands) {
      var len = 0
      var i = bi * rows
      val end = math.min(i + rows, n)
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = ','; len += 1 }
          len = appendDecimal(buf, len, sig.getLong(i))
        }
        i += 1
      }
      out(bi) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
      bi += 1
    }
    new GenericArrayData(out)
  }

  /** `v`'s `Long.toString` as ASCII at `buf(at)`; returns the end. */
  private def appendDecimal(buf: Array[Byte], at: Int, v: Long): Int = {
    val digits = java.lang.Long.toString(v)
    var j = 0
    while (j < digits.length) { buf(at + j) = digits.charAt(j).toByte; j += 1 }
    at + digits.length
  }

  def apply(sig: Column, bands: Int, rows: Int): Column =
    graftbridge.toColumn(BandHashes(graftbridge.toExpression(sig), bands, rows))
}

/** The positions among the first `numHashes` where two MinHash signatures
  * hold the same non-null value: the integer numerator of the Jaccard
  * estimate, as one JITed static call. Equals the unrolled Column sum
  * `sum_i when(element_at(a, i) === element_at(b, i), 1).otherwise(0)`,
  * which generated a 164 KB verify stage at 64 hashes: a null array or a
  * null element never matches, and the count is never null. A position past
  * either array's end counts as no match (the unrolled `element_at` raised
  * under ANSI there; signatures of one index all have `numHashes`
  * elements). */
case class SigMatchCount(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sig_match_count expects array<bigint> x array<bigint>, got " +
        s"${l.catalogString} x ${r.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sig_match_count"

  override def eval(input: InternalRow): Any =
    SigMatchCount.compute(left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (l, r) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      long ${ev.value} = graft.functions.SigMatchCount.compute(
        ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value}, $numHashes);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

object SigMatchCount {
  /** Static so generated code can call it. */
  def compute(a: ArrayData, b: ArrayData, numHashes: Int): Long =
    if (a == null || b == null) 0L
    else {
      val n = math.min(numHashes, math.min(a.numElements(), b.numElements()))
      var matches = 0L
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) matches += 1
        i += 1
      }
      matches
    }

  def apply(a: Column, b: Column, numHashes: Int): Column =
    graftbridge.toColumn(
      SigMatchCount(graftbridge.toExpression(a), graftbridge.toExpression(b), numHashes))
}
