package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** argmax over `dot(emb, centroid_c)` — the IVF cell assignment, as one JITed
  * static call. The Column shape (`array_max(zip_with(typedlit(centroids),
  * sequence(...), struct(dot, idx)))`) is CodegenFallback with interpreted
  * per-element lambdas; this expression keeps the full-corpus assignment scan
  * (the one pass ivfBuildIndexWith makes over 10^9 vectors) inside whole-stage
  * codegen.
  *
  * Semantics are bit-identical to the Column version (the q_ann_ivf oracle
  * depends on it): dot accumulates left-to-right in double precision; ties
  * take the LARGER cell index (struct-max comparison order). */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double|float>, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  // dataType is only known once the child is RESOLVED — never touch it at
  // construction time (analysis builds the expression on unresolved children)
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.compute(v.asInstanceOf[ArrayData], matrix, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", matrix, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NearestCentroid.compute($c, $m, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** Static so generated code can call it. */
  def compute(emb: ArrayData, centroids: Array[Array[Double]], isFloat: Boolean): Int = {
    val n = emb.numElements()
    var best = 0
    var bestD = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val dim = math.min(n, cent.length)
      var d = 0.0
      var i = 0
      while (i < dim) {
        val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        d += x * cent(i)
        i += 1
      }
      if (d >= bestD) { bestD = d; best = c } // ties: larger idx (struct-max parity)
      c += 1
    }
    best
  }

  def apply(c: Column, centroids: Seq[Seq[Double]]): Column =
    graftbridge.toColumn(NearestCentroid(graftbridge.toExpression(c), centroids))
}

/** The `nprobe` nearest cells of a query vector, ranked by dot(centroid,
  * unit(query)) descending with ties to the SMALLER cell index — exactly
  * [[graft.ops.Similarity.probeCells]] (which sorts (-dot, idx) ascending;
  * the comparator here mirrors java.lang.Double.compare on the negated dots,
  * so even -0.0/0.0 edge dots rank identically), but as a JITed per-row
  * expression: the distributed k-NN join explodes this over a corpus-sized
  * query side instead of collecting queries to the driver. */
case class ProbeCells(child: Expression, centroids: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"probe_cells expects array<double|float>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "probe_cells"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    ProbeCells.compute(v.asInstanceOf[ArrayData], matrix, isFloat, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", matrix, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ProbeCells.compute($c, $m, $isFloat, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeCells =
    copy(child = newChild)
}

object ProbeCells {
  /** Static so generated code can call it. Selection is O(nprobe x cells) —
    * nprobe is small by construction, and this runs once per row inside the
    * codegen'd projection. */
  def compute(emb: ArrayData, centroids: Array[Array[Double]],
      isFloat: Boolean, nprobe: Int): ArrayData = {
    val n = emb.numElements()
    // unit-normalize the query exactly like Similarity.unit: x / norm,
    // sequential-accumulated norm; a zero vector stays as-is
    val q = new Array[Double](n)
    var i = 0
    var ss = 0.0
    while (i < n) {
      val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      q(i) = x
      ss += x * x
      i += 1
    }
    val nrm = math.sqrt(ss)
    if (nrm > 0) { i = 0; while (i < n) { q(i) /= nrm; i += 1 } }
    val dots = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val dim = math.min(n, cent.length)
      var d = 0.0
      i = 0
      while (i < dim) { d += cent(i) * q(i); i += 1 }
      dots(c) = d
      c += 1
    }
    val take = math.min(nprobe, centroids.length)
    val out = new Array[Int](take)
    val used = new Array[Boolean](centroids.length)
    var r = 0
    while (r < take) {
      var best = -1
      c = 0
      while (c < centroids.length) {
        if (!used(c) && (best < 0 || {
          // probeCells ranks (-dot, idx) ascending; c beats best when its
          // negated dot compares smaller, ties to the smaller index (c >
          // best always here, so strict-less only)
          java.lang.Double.compare(-dots(c), -dots(best)) < 0
        })) best = c
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def apply(c: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    graftbridge.toColumn(ProbeCells(graftbridge.toExpression(c), centroids, nprobe))
}
