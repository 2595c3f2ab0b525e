package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The centroid table of a Lloyd assignment pass, riding the plan as a
  * reference object (the QuantModel / BpeRanks closure-model pattern).
  *
  * Why this exists: the Column formulation of nearest-centroid —
  * `pts.crossJoin(broadcast(centroids))` + an
  * `aggregate(zip_with((x−y)²))` HOF distance + a `min(struct)` keyed
  * re-aggregate — materializes n×k rows and evaluates the distance
  * INTERPRETED (higher-order functions don't codegen), which was
  * measured as the whole cost of SemDeDup at sf10: 42 s single tasks
  * inside kmeansAssign while the actual pair join stayed balanced
  * (SURVEY.md §17 "The NearestCentroid kernel"). This kernel
  * computes the argmin across all k centroids in ONE codegen'd
  * narrow map — no join, no n×k row blowup, no re-aggregate, and the
  * per-element arithmetic is the IDENTICAL IEEE sequence the HOF ran
  * (ascending dims, acc = acc + d·d), so distances are bit-equal to the
  * old plan's and `min(struct(dist, cluster))` tie semantics (smaller
  * cluster index wins) are preserved by the strict `<` scan order.
  */
final class CentroidModel(val cents: Array[Array[Double]]) extends Serializable {
  require(cents.nonEmpty, "empty centroid table")
  require(cents.length.toLong * cents(0).length <= (1L << 22),
    s"centroid model ${cents.length}x${cents(0).length} exceeds the " +
      "4M-double reference-object bound — reduce k or dim")

  /** (argmin cluster asc-tie, min squared L2) over all centroids. */
  def nearest(vec: ArrayData): InternalRow = {
    val dim = cents(0).length
    require(vec.numElements() == dim,
      s"vector has ${vec.numElements()} dims, centroids have $dim")
    var bestC = 0L
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        // a null slot would read 0.0 silently — reject loudly (the HOF
        // path produced an unusable null distance; clean inputs only)
        require(!vec.isNullAt(i), s"null embedding element at dim $i")
        val d = vec.getDouble(i) - ct(i)
        acc = acc + d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; bestC = c.toLong }
      c += 1
    }
    InternalRow(bestC, bestD)
  }
}

/** `nearest_centroid(vec)` → struct(cluster long, dist double): the
  * codegen'd one-pass Lloyd assignment kernel (see [[CentroidModel]]).
  */
final case class NearestCentroid(child: Expression, model: CentroidModel)
  extends UnaryExpression {

  override def dataType: DataType = NearestCentroid.schema
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    model.nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef =
      ctx.addReferenceObj("centroidModel", model, classOf[CentroidModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.nearest($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}

object NearestCentroid {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  val schema: StructType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  def apply(vec: Column, model: CentroidModel): Column =
    CatalystBridge.column(NearestCentroid(CatalystBridge.expression(vec), model))
}
