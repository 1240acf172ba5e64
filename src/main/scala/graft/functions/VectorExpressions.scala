package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product.
  *
  * The builtin route (`aggregate(zip_with(a, b, ...))`) runs interpreted —
  * higher-order functions have no `doGenCode` — and allocates a zipped
  * array per row. This expression stays inside WholeStageCodegen as a
  * tight primitive loop over the two `ArrayData`, no allocation, which is
  * what a 100 TB embedding scan needs.
  *
  * Semantics: IEEE double sum over pairwise products in index order
  * (identical result order to `aggregate`'s left fold, so swapping one
  * for the other never changes values); null or length-mismatched inputs
  * follow SQL semantics (null if either side is null; extra elements of
  * the longer vector are ignored). Null *elements* are treated as 0.0.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** Engine extensions, installed via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (wired in
  * [[graft.io.Sessions]]). Registers the native SQL functions so plans
  * can use them from both the DataFrame API (`expr("dot_f(a, b)")`) and
  * plain SQL, the as-of join strategy, and [[CaseMappingRule]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      (children: Seq[Expression]) => DotProductF(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (children: Seq[Expression]) => Shingles(
        children(0), children(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[Shingles].getName, "ngrams"),
      (children: Seq[Expression]) => Shingles(
        children(0), children(1).eval().asInstanceOf[Number].intValue(),
        distinct = false)))
    ext.injectFunction((
      new FunctionIdentifier("mask_sids"),
      new ExpressionInfo(classOf[MaskSids].getName, "mask_sids"),
      (children: Seq[Expression]) => MaskSids(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("ngram_stats"),
      new ExpressionInfo(classOf[NGramStats].getName, "ngram_stats"),
      (children: Seq[Expression]) => NGramStats(
        children(0), children(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("dot_dec"),
      new ExpressionInfo(classOf[DecimalDot].getName, "dot_dec"),
      (children: Seq[Expression]) => DecimalDot(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("plane_sums"),
      new ExpressionInfo(classOf[PlaneSums].getName, "plane_sums"),
      // validated/coercing builder shared with GraftRuntime (ADVICE r13)
      PlaneSums.build _))
    ext.injectFunction((
      new FunctionIdentifier("plane_cell"),
      new ExpressionInfo(classOf[PlaneCell].getName, "plane_cell"),
      PlaneCell.build _))
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      MinHashBands.build _))
    ext.injectFunction((
      new FunctionIdentifier("simhash_block_keys"),
      new ExpressionInfo(classOf[SimhashBlockKeys].getName, "simhash_block_keys"),
      SimhashBlockKeys.build _))
    ext.injectFunction((
      new FunctionIdentifier("canonical_block_mask"),
      new ExpressionInfo(classOf[CanonicalBlockMask].getName, "canonical_block_mask"),
      SimhashBlockKeys.buildCanonical _))
    ext.injectFunction((
      new FunctionIdentifier("line_fps"),
      new ExpressionInfo(classOf[LineFps].getName, "line_fps"),
      LineFpsHelper.build _))
    ext.injectFunction((
      new FunctionIdentifier("pq_codes"),
      new ExpressionInfo(classOf[PqCodes].getName, "pq_codes"),
      PqCodes.build _))
    ext.injectFunction((
      new FunctionIdentifier("ivfadc_encode"),
      new ExpressionInfo(classOf[IvfAdcEncode].getName, "ivfadc_encode"),
      IvfAdcEncode.build _))
    ext.injectFunction((
      new FunctionIdentifier("bloom_hits"),
      new ExpressionInfo(classOf[BloomHits].getName, "bloom_hits"),
      BloomHits.build _))
    ext.injectFunction((
      new FunctionIdentifier("hashed_score"),
      new ExpressionInfo(classOf[HashedScore].getName, "hashed_score"),
      HashedScore.build _))
    ext.injectFunction((
      new FunctionIdentifier("dsir_score"),
      new ExpressionInfo(classOf[DsirScore].getName, "dsir_score"),
      DsirScore.build _))
    ext.injectFunction((
      new FunctionIdentifier("langid_score"),
      new ExpressionInfo(classOf[LangIdScore].getName, "langid_score"),
      LangIdScore.build _))
    ext.injectFunction((
      new FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[Expression]) => SimHashAgg(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (children: Seq[Expression]) => MinHashAgg(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("gram_agg"),
      new ExpressionInfo(classOf[GramAgg].getName, "gram_agg"),
      (children: Seq[Expression]) => GramAgg(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("mg_agg"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "mg_agg"),
      (children: Seq[Expression]) => MisraGriesAgg(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("marker_scores"),
      new ExpressionInfo(classOf[MarkerScores].getName, "marker_scores"),
      (children: Seq[Expression]) => MarkerScores(
        children.head,
        children.tail.map { e =>
          // guard BEFORE eval: a non-foldable column or a null literal
          // would otherwise die in the analyzer with a raw NPE /
          // unbound-attribute error instead of a usable message
          if (!e.foldable ||
            e.dataType != org.apache.spark.sql.types.StringType ||
            e.eval() == null)
            throw new IllegalArgumentException(
              "marker_scores word sets must be non-null string literals " +
                s"('w1,w2,...'), got ${e.sql}")
          e.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .toString.split(",").toSeq
        })))
    ext.injectFunction((
      new FunctionIdentifier("dec_cast"),
      new ExpressionInfo(classOf[FastDecimalCast].getName, "dec_cast"),
      (children: Seq[Expression]) => FastDecimalCast(
        children(0),
        children(1).eval().asInstanceOf[Number].intValue(),
        children(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("zordern"),
      new ExpressionInfo(classOf[ZOrderN].getName, "zordern"),
      (children: Seq[Expression]) => ZOrderN(children)))
    ext.injectFunction((
      new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (children: Seq[Expression]) => ZOrder2(children(0), children(1))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPostHocResolutionRule(_ => CaseMappingRule)
  }
}
