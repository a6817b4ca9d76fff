package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Native dot product over two double arrays.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b, _*_))`)
  * allocates a lambda frame per element and is interpreted; this expression
  * whole-stage-codegens to a tight scalar loop, which is what makes
  * exhaustive cosine passes (12.5M pairs x 64 dims at sf0.1) tractable and
  * is the per-pair kernel any 100 TB ANN/near-dup job sits on. Summation is
  * sequential left-to-right — byte-identical to the HOF it replaces.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => DataType.equalsStructurally(e.dataType,
        ArrayType(DoubleType), ignoreNullability = true)))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extensions registering graft's native functions; enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * and call as `expr("graft_dot(a, b)")`.
  */
/** Spark's `BloomFilterAggregate` sized exactly as asked. Spark clamps the
  * item count and bit size to the session's runtime-filter caps (sized for
  * optimizer-injected filters), which would silently degrade an explicit
  * index build over a large history to a near-100% false-positive rate;
  * raising the caps would mean writing the shared session's conf. Same
  * filter, same updates and the same serialized form otherwise, so
  * `BloomFilterMightContain` probes it unchanged.
  */
case class GraftBloomAgg(child: Expression, numItems: Long, numBits: Long,
                         mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_agg expects a bigint hash, got ${child.dataType.simpleString}")
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom_agg"
  override def createAggregationBuffer(): BloomFilter = BloomFilter.create(numItems, numBits)
  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putLong(v.asInstanceOf[Long])
    buffer
  }
  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter =
    buffer.mergeInPlace(other)
  // no bit set = no non-null input: null, like Spark's aggregate
  override def eval(buffer: BloomFilter): Any =
    if (buffer.cardinality() == 0) null else serialize(buffer)
  override def serialize(buffer: BloomFilter): Array[Byte] = BloomFilterAggregate.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): BloomFilter = BloomFilterAggregate.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): GraftBloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GraftBloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): GraftBloomAgg = copy(child = c)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_osa"),
      new ExpressionInfo(classOf[OsaDistance].getName, "graft_osa"),
      (children: Seq[Expression]) => OsaDistance(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sloppy"),
      new ExpressionInfo(classOf[SloppyMatch].getName, "graft_sloppy"),
      // (field, terms, slop, in_order, prefix[, gaps[, filter_mode,
      // filter_terms]]) — the ES DSL always hands the trailing args as
      // literals, so they fold into the expression instance (gaps defaults
      // false for 5-arg callers; the filter pair defaults to none)
      (children: Seq[Expression]) => SloppyMatch(
        children.head,
        children(1).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
        children(2).eval(null).asInstanceOf[Int],
        children(3).eval(null).asInstanceOf[Boolean],
        children(4).eval(null).asInstanceOf[Boolean],
        children.length > 5 && children(5).eval(null).asInstanceOf[Boolean],
        if (children.length > 7)
          children(6).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        else "",
        if (children.length > 7)
          children(7).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        else "")))
    // Spark's runtime-filter bloom expressions are codegen'd and
    // deterministic (seedless XxHash64 probes) but not exposed in the
    // public FunctionRegistry — surface them under graft names for the
    // bloom-prefilter dedup path (the aggregate without the size clamp).
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[GraftBloomAgg].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        GraftBloomAgg(children.head, children(1).eval().asInstanceOf[Number].longValue,
          children(2).eval().asInstanceOf[Number].longValue)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))))
    ext.injectPlannerStrategy(_ => new graft.plans.AsofJoinStrategy)
  }
}

object VectorFunctions {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions._

  /** Dot product: the codegen'd native expression when [[GraftExtensions]]
    * is installed in the session, else the (identical-result, slower)
    * higher-order-function formulation.
    */
  def dot(s: SparkSession, a: Column, b: Column): Column =
    if (s.catalog.functionExists("graft_dot")) call_function("graft_dot", a, b)
    else aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
}
