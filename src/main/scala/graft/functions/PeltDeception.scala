package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import graft.kernels.Pelt

/** K2/K3 as a native Catalyst aggregate function (SURVEY.md §7.4 stretch
  * goal): `pelt_deception(value, order, tie)` collects the group's
  * series in a typed aggregate buffer, orders it explicitly by
  * (order, tie), and evaluates the PELT change point + deception score
  * (reference `src/metrics/deception.py:18-117`).
  *
  * Versus the `groupByKey.mapGroups` form (queries/Kernels.scala): the
  * aggregate participates in normal hash aggregation — partial buffers
  * build map-side, merge at the exchange like any agg (the buffer is the
  * whole series, so the shuffle volume is the same; what's gained is
  * composability: it runs inside a plain `groupBy.agg` next to other
  * aggregates, in SQL via the registered function, and needs no
  * Dataset/encoder hop). Buffers serialize as a flat binary triple list.
  * It is the pipeline's PELT path: `domain.Scoring` runs it beside a
  * `max_by` last-frame pick in one aggregate per play.
  */
case class PeltDeception(
    valueExpr: Expression, orderExpr: Expression, tieExpr: Expression,
    penalty: Double = Pelt.DefaultPenalty,
    maxPoints: Int = Pelt.MaxSeriesPoints,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, Long, Double)]] {

  /** Bound the per-key buffer (Pelt.MaxSeriesPoints contract): whenever
    * a buffer doubles past the cap, keep only the `maxPoints` smallest
    * by (order, tie). Keeping the local smallest preserves exactly the
    * global "first maxPoints points" — any point in the global first
    * `maxPoints` is in its partial buffer's first `maxPoints` — so
    * partial compaction + merge + final truncation equals truncating
    * the fully-merged series; amortized O(log maxPoints) per row. */
  private def compact(buf: ArrayBuffer[(Long, Long, Double)]): ArrayBuffer[(Long, Long, Double)] =
    if (buf.length <= 2 * maxPoints) buf
    else buf.sortBy(x => (x._1, x._2)).take(maxPoints)

  override def children: Seq[Expression] = Seq(valueExpr, orderExpr, tieExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    if (valueExpr.dataType == DoubleType && orderExpr.dataType == LongType &&
      tieExpr.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pelt_deception expects (double, bigint, bigint), got " +
        s"(${valueExpr.dataType.simpleString}, ${orderExpr.dataType.simpleString}, " +
        s"${tieExpr.dataType.simpleString})")
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_points", IntegerType, nullable = false),
    StructField("change_point", IntegerType, nullable = false),
    StructField("deception_score", DoubleType, nullable = false)))

  override def createAggregationBuffer(): ArrayBuffer[(Long, Long, Double)] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[(Long, Long, Double)],
                      input: InternalRow): ArrayBuffer[(Long, Long, Double)] = {
    val v = valueExpr.eval(input)
    val o = orderExpr.eval(input)
    val t = tieExpr.eval(input)
    if (v != null && o != null && t != null)
      buf += ((o.asInstanceOf[Long], t.asInstanceOf[Long], v.asInstanceOf[Double]))
    compact(buf)
  }

  override def merge(b1: ArrayBuffer[(Long, Long, Double)],
                     b2: ArrayBuffer[(Long, Long, Double)]): ArrayBuffer[(Long, Long, Double)] = {
    b1 ++= b2; compact(b1)
  }

  override def eval(buf: ArrayBuffer[(Long, Long, Double)]): Any = {
    // explicit total order — merge order of partial buffers is arbitrary;
    // final truncation enforces the series cap exactly (see compact)
    val signal = buf.sortBy(x => (x._1, x._2)).take(maxPoints).map(_._3).toArray
    val (cp, score) = Pelt.changePointAndScore(signal, penalty)
    InternalRow(signal.length, cp, score)
  }

  override def serialize(buf: ArrayBuffer[(Long, Long, Double)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(16 + 24 * buf.length)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (o, t, v) => out.writeLong(o); out.writeLong(t); out.writeDouble(v) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Long, Double)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[(Long, Long, Double)](n)
    var i = 0
    while (i < n) { buf += ((in.readLong(), in.readLong(), in.readDouble())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PeltDeception =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PeltDeception =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PeltDeception =
    copy(valueExpr = newChildren(0), orderExpr = newChildren(1), tieExpr = newChildren(2))
  override def prettyName: String = "pelt_deception"
}

object PeltDeception {
  /** `pelt_deception(value, order, tie)` as an aggregate Column, built
    * without the function registry: it works in a session that does
    * not register [[GraftExtensions]]. */
  def column(value: Column, order: Column, tie: Column): Column =
    ColumnBridge.column(PeltDeception(ColumnBridge.expression(value),
      ColumnBridge.expression(order), ColumnBridge.expression(tie)).toAggregateExpression())

  /** FunctionRegistry descriptor for SparkSessionExtensions.injectFunction. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pelt_deception"),
    new ExpressionInfo(classOf[PeltDeception].getName, "pelt_deception"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "pelt_deception(value, order, tie) takes 3 arguments")
      PeltDeception(children(0), children(1), children(2))
    })
}

/** Engine extensions, registered the production way:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `withExtensions`) at session build — after which
  * `pelt_deception(value, order, tie)` is callable from SQL and via
  * `functions.call_function`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(PeltDeception.descriptor)
    ext.injectFunction(VecDot.descriptor)
    ext.injectFunction(VecLshBucket.descriptor)
    ext.injectFunction(VecEqCount.descriptor)
    ext.injectFunction(SimHash64.descriptor)
    ext.injectFunction(MinHashSigs.descriptor)
    ext.injectFunction(ShingleHashes.descriptor)
    ext.injectFunction(TfVector.descriptor)
    ext.injectFunction(Sq8Codes.descriptor)
    ext.injectFunction(ZOrderKey.descriptor)
  }
}
