package graft.expressions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Native top-`nProbe`-nearest-centroids over a driver-side centroid
  * matrix — the hot loop of IVF-style cell assignment/probing
  * (Cosine.ivfProbes for IvfIndex/IvfPq, KMeansLloyd.transform/
  * probeCells, KnnImpute.imputeAnn, ClusterQuality).
  *
  * Why a custom Expression: the Column composition (an
  * array<struct> of per-centroid distance subtrees, argmin'd or
  * array_sort'd) hits BOTH Catalyst lambda hazards at realistic cell
  * counts — analysis/codegen goes super-linear in k when each centroid
  * is its own subtree, and even the matrix form pays interpreted
  * higher-order-function eval with per-element allocations (measured
  * at k=233 over 54k rows by a stage probe since deleted and kept in git
  * history — `graft.tools.Profile impute_lineitem_knn_ann` profiles the
  * query today: ~6-9 s of planning per
  * action in subtree form, ~6 s per pass in HOF form; this expression
  * runs the same pass in well under a second — one virtual call per
  * row into a primitive loop, k·dim flops, zero allocation until the
  * nProbe-sized output).
  *
  * The centroid matrix lives in this one object, never as plan
  * literals: it ships inside the task binary, which Spark broadcasts
  * once per stage, so no size gate is needed as nlist grows.
  * `flatArguments` keeps it out of plan strings (the
  * [[RbmReconstruct]] precedent), so a plan prints the same at any
  * nlist.
  *
  * Arithmetic contract: per centroid d = Σ_j (q_j − c_j)² accumulated
  * LEFT-TO-RIGHT in IEEE double over the input converted to double —
  * `array<bigint>` (the k-means family's micro-unit integer grid,
  * exact in double) or `array<double>` (IVF's raw vectors); selection
  * orders by (d, centroid id) — the same total order as a (d, i)
  * struct sort. Returns `array<struct<d, i>>` of the nProbe nearest,
  * nearest first; null for a null input, a null element or a
  * wrong-dimension input (a dimension mismatch is a data bug — a
  * silent prefix distance would mis-assign plausibly).
  */
case class CentroidTopK(child: Expression, centroids: Seq[Seq[Double]],
                        nProbe: Int)
    extends UnaryExpression with CodegenFallback {

  require(centroids.nonEmpty && nProbe >= 1)

  @transient private lazy val k = centroids.length
  @transient private lazy val dim = centroids.head.length
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](k * dim)
    var i = 0
    while (i < k) {
      val c = centroids(i)
      var j = 0
      while (j < dim) { a(i * dim + j) = c(j); j += 1 }
      i += 1
    }
    a
  }
  @transient private lazy val nP = math.min(nProbe, k)

  @transient private lazy val doubleInput = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_centroid_topk requires array<bigint> or array<double>, got ${dt.simpleString}")
  }

  // the centroid matrix stays out of plan strings
  override protected def flatArguments: Iterator[Any] = Iterator(child, nProbe)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("d", DoubleType, nullable = false),
      StructField("i", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    if (q.numElements() != dim) return null
    val qd = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (q.isNullAt(j)) return null
      qd(j) = if (doubleInput) q.getDouble(j) else q.getLong(j).toDouble
      j += 1
    }
    val d = new Array[Double](k)
    var i = 0
    while (i < k) {
      var s = 0.0
      var j2 = 0
      val base = i * dim
      while (j2 < dim) {
        val e = qd(j2) - flat(base + j2)
        s += e * e
        j2 += 1
      }
      d(i) = s
      i += 1
    }
    // nP selection passes by (d, id): strict < scanning ids ascending
    // makes the lowest id win ties — the struct-sort order
    val used = new Array[Boolean](k)
    val out = new Array[Any](nP)
    var p = 0
    while (p < nP) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        if (!used(c) && (best < 0 || d(c) < bestD)) { best = c; bestD = d(c) }
        c += 1
      }
      used(best) = true
      out(p) = new GenericInternalRow(Array[Any](bestD, best.toLong))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidTopK =
    copy(child = newChild)
}

object CentroidTopK {
  /** The `array<struct<d, i>>` of the `nProbe` centroids nearest to `q`,
    * as a Column. */
  def column(q: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    GraftColumnBridge.column(CentroidTopK(GraftColumnBridge.expression(q),
      centroids.map(_.toSeq).toSeq, nProbe))
}
