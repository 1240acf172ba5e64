package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.plans.AsOfJoinStrategy

/** Runtime installation of the engine's extensions onto an EXISTING
  * session. `spark.sql.extensions=graft.functions.GraftExtensions` at
  * session build is the preferred path (what [[graft.io.Sessions]]
  * does), but a host application may hand us its own session — this
  * makes every entry point self-healing there: the native functions go
  * into the session function registry and the as-of strategy into
  * `spark.experimental.extraStrategies`, and the ASCII case-mapping
  * rewrite ([[CaseMappingRule]]) into `spark.experimental.extraOptimizations`
  * (all public, runtime-safe, idempotent). Also flips the
  * nanos-timestamp legacy flag the harness events table needs.
  */
object GraftRuntime {

  def ensure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the engine's cross-engine determinism contract is UTC wall-clock
    // arithmetic (docs/determinism.md); a host session left on a local
    // timezone would silently shift every instant↔NTZ cast
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_f",
      (children: Seq[Expression]) => DotProductF(children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingles",
      (children: Seq[Expression]) => Shingles(
        children(0), children(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ngrams",
      (children: Seq[Expression]) => Shingles(
        children(0), children(1).eval().asInstanceOf[Number].intValue(),
        distinct = false),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mask_sids",
      (children: Seq[Expression]) => MaskSids(children.head),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ngram_stats",
      (children: Seq[Expression]) => NGramStats(
        children(0), children(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "line_fps", LineFpsHelper.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_dec",
      (children: Seq[Expression]) => DecimalDot(children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "plane_sums", PlaneSums.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands", MinHashBands.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_block_keys", SimhashBlockKeys.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "canonical_block_mask", SimhashBlockKeys.buildCanonical, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hashed_score", HashedScore.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "langid_score", LangIdScore.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dsir_score", DsirScore.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "plane_cell", PlaneCell.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_codes", PqCodes.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ivfadc_encode", IvfAdcEncode.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_hits", BloomHits.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_agg",
      (children: Seq[Expression]) => SimHashAgg(children.head),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_agg",
      (children: Seq[Expression]) => MinHashAgg(children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "marker_scores",
      (children: Seq[Expression]) => MarkerScores(
        children.head,
        children.tail.map { e =>
          if (!e.foldable ||
            e.dataType != org.apache.spark.sql.types.StringType ||
            e.eval() == null)
            throw new IllegalArgumentException(
              "marker_scores word sets must be non-null string literals " +
                s"('w1,w2,...'), got ${e.sql}")
          e.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .toString.split(",").toSeq
        }),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_agg",
      (children: Seq[Expression]) => GramAgg(children(0), children(1), children(2)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mg_agg",
      (children: Seq[Expression]) => MisraGriesAgg(children(0), children(1)),
      "built-in")
    // Spark's own runtime-filter bloom expressions (public catalyst
    // classes, not exposed as SQL functions by default): bloom_agg
    // builds a BinaryType bloom from a BIGINT stream; might_contain
    // probes it. The bloom side of might_contain must be a constant or
    // scalar subquery (Spark's check), i.e. `(SELECT b FROM bf)`.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_agg",
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "might_contain",
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dec_cast",
      (children: Seq[Expression]) => FastDecimalCast(
        children(0),
        children(1).eval().asInstanceOf[Number].intValue(),
        children(2).eval().asInstanceOf[Number].intValue()),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "zorder2",
      (children: Seq[Expression]) => ZOrder2(children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "zordern",
      (children: Seq[Expression]) => ZOrderN(children),
      "built-in")
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(CaseMappingRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CaseMappingRule
  }
}
