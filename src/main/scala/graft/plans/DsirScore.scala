package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ONE token→bucket hash of the DSIR kernels — Dedup.h60(tok) %
  * buckets without materializing hex strings: the first 15 hex digits
  * of md5 are the digest's top 60 bits, i.e. the big-endian
  * first-8-bytes value >>> 4 (pinned against the conv(substring(md5))
  * formulation by ImportanceSpec). MessageDigest is not thread-safe
  * and this object is shared across an executor's tasks, so digests
  * are per-thread.
  */
private[plans] object DsirHash {
  private val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def bucket(tok: String, buckets: Int): Int = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var be = 0L
    var i = 0
    while (i < 8) { be = (be << 8) | (d(i) & 0xffL); i += 1 }
    ((be >>> 4) % buckets).toInt
  }
}

/** Bucket-model holder for [[DsirScore]]: the per-bucket micro-nat
  * log-ratios as a flat array indexed by bucket id.
  */
final class DsirModel(val lrf: Array[Long]) extends Serializable {
  private def bucket(tok: String): Int = DsirHash.bucket(tok, lrf.length)

  /** (n_toks, Σ lrf[bucket(tok)]) over the single-space token split —
    * integer sum, order-free.
    */
  def score(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    var n = 0L
    var ws = 0L
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        ws += lrf(bucket(s.substring(start, i)))
        n += 1
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, ws))
  }
}

/** `dsir_score(text)`: the DSIR scoring pass as ONE narrow kernel —
  * per document, hash each token into the bucket model and sum the
  * micro-nat log-ratios. Replaces explode → broadcast-join → groupBy
  * (a corpus-sized shuffle of (doc_id, bucket) longs) with a pure
  * map: at 100 TB the scoring pass becomes shuffle-free.
  */
final case class DsirScore(child: Expression, model: DsirModel)
  extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("ws", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dsir_score expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("dsirModel", model, classOf[DsirModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.score($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScore =
    copy(child = newChild)

  override def prettyName: String = "dsir_score"
}

object DsirScore {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: DsirModel): Column =
    CatalystBridge.column(DsirScore(CatalystBridge.expression(text), model))
}

/** `dsir_bucket_counts(text)`: the model-BUILD pass as one partial
  * aggregate — per document, hash each token ([[DsirHash]], the same
  * split-on-space convention as [[DsirModel.score]]: empty string is
  * one empty token, doubled spaces yield empty tokens) into a dense
  * buckets-long counter; merge is elementwise add. Replaces
  * explode(split(text)) → groupBy(side, bucket) — which materializes a
  * corpus-sized token-row stream through the hash aggregate — with
  * counter arrays: each map task ships ONE buckets-long array per
  * group (measured at sf0.1: the q93 model job was 365 ms of the 469 ms
  * wall, ~40% of it explode-row overhead; SURVEY.md §21 "Bench gate
  * defended" records q93 0.47 → 0.24 s with this kernel).
  */
final case class DsirBucketCounts(
    child: Expression,
    buckets: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  require(buckets > 0 && buckets <= (1 << 16), s"bad bucket count $buckets")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dsir_bucket_counts expects string, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](buckets)

  override def update(
      buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      var start = 0
      var i = 0
      while (i <= s.length) {
        if (i == s.length || s.charAt(i) == ' ') {
          buf(DsirHash.bucket(s.substring(start, i), buckets)) += 1
          start = i + 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buckets) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(buckets)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DsirBucketCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DsirBucketCounts =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DsirBucketCounts =
    copy(child = newChildren(0))

  override def prettyName: String = "dsir_bucket_counts"
}

object DsirBucketCounts {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, buckets: Int): Column =
    CatalystBridge.column(
      DsirBucketCounts(CatalystBridge.expression(text), buckets)
        .toAggregateExpression())
}
