package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Lower, UnsafeProjection, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{col, expr, lit, lower, upper}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.AsciiFastCase

/** The ASCII case-mapping fast path ([[graft.functions.CaseMappingRule]])
  * against Spark's own `Lower`/`Upper` with ICU case mappings on: the
  * same bytes for every input, interpreted and codegen'd, and the
  * rewrite present exactly where it is allowed. */
class CaseMappingSpec extends SparkSpec {

  private val inputs: Seq[Array[Byte]] = Seq(
    "hello", "Hello World 42", "MiXeD-CaSe_ID", "", "ΟΔΟΣ", "İstanbul",
    "straße", "ǅemal", "ქართული ᲥᲐᲠᲗᲣᲚᲘ", "smile 😀 OK",
    // Vithkuqi (Unicode 14): ICU case-maps it, JDK 17's tables do not, so
    // the non-ICU (JVM String) path would return it unchanged
    "\uD801\uDD70\uD801\uDD97 Vithkuqi"
  ).map(_.getBytes("UTF-8")) ++ Seq(
    Array(0xC3, 0x28).map(_.toByte), // invalid UTF-8: truncated 2-byte sequence
    Array(0x41, 0xFF, 0x62).map(_.toByte),
    null)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** Spark's own expression, bound and projected without the analyzer
    * (so the rewrite cannot touch it), under the current factory mode. */
  private def reference(mk: Expression => Expression): Seq[String] = {
    val proj = UnsafeProjection.create(Seq(mk(BoundReference(0, StringType, nullable = true))))
    inputs.map { b =>
      val row = proj(InternalRow(if (b == null) null else UTF8String.fromBytes(b)))
      if (row.isNullAt(0)) null else row.getUTF8String(0).toString
    }
  }

  private def sparkCase(s: String, upper: Boolean): String =
    (if (upper) Upper(Literal(s)) else Lower(Literal(s))).eval().toString

  // a repartition keeps the projection out of ConvertToLocalRelation, so
  // it runs in the physical plan rather than being folded on the driver
  private def table: DataFrame = {
    import spark.implicits._
    inputs.zipWithIndex.toDF("b", "i").repartition(2)
      .select(col("i"), col("b").cast("string").as("x"))
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().sortBy(_.getInt(0)).map(r => r.getString(1)).toSeq

  private def cased(p: LogicalPlan): Seq[Expression] =
    p.collectWithSubqueries { case n => n.expressions.flatMap(_.collect {
      case e @ (_: Lower | _: Upper | _: AsciiFastCase) => e
    }) }.flatten

  for ((mode, conf) <- modes) {
    test(s"fast path equals Spark's ICU lower/upper on every input ($mode)") {
      withConf(conf: _*) {
        val refLower = reference(Lower(_))
        val refUpper = reference(Upper(_))
        assert(refUpper(inputs.indexWhere(b => b != null && new String(b, "UTF-8") == "straße"))
          == "STRASSE")
        assert(refLower(4) == "\u03bf\u03b4\u03bf\u03c2", "final sigma")
        val df = table
        assert(collectSorted(df.select(col("i"), lower(col("x")))) == refLower)
        assert(collectSorted(df.select(col("i"), upper(col("x")))) == refUpper)
        assert(collectSorted(df.selectExpr("i", "lcase(x)")) == refLower)
        // Spark simplifies upper(lower(x)) to upper(x) before it runs
        assert(collectSorted(df.select(col("i"), upper(lower(col("x"))))) == refUpper)
        assert(collectSorted(df.select(col("i"), lower(upper(col("x"))))) == refLower)
        val plan = df.select(lower(col("x")), upper(col("x"))).queryExecution.sparkPlan
        assert(plan.collect { case p => p.expressions.flatMap(_.collect {
          case e: AsciiFastCase => e }) }.flatten.size == 2, plan.toString)
      }
    }

    test(s"constant folding goes through the fast path ($mode)") {
      withConf(conf: _*) {
        val refLower = reference(Lower(_))
        val refUpper = reference(Upper(_))
        inputs.indices.filter(inputs(_) != null).foreach { i =>
          val s = new String(inputs(i), "UTF-8")
          if (s.getBytes("UTF-8").sameElements(inputs(i))) {
            val r = spark.range(1).select(lower(lit(s)), upper(lit(s))).head()
            assert((r.getString(0), r.getString(1)) == ((refLower(i), refUpper(i))), s)
          }
        }
      }
    }
  }

  test("rewrite reaches HOF lambda bodies") {
    val df = spark.range(1).select(expr("transform(array('AbC', 'İx'), x -> lower(x))").as("a"))
    val found = cased(df.queryExecution.analyzed)
    assert(found.nonEmpty && found.forall(_.isInstanceOf[AsciiFastCase]), found)
    assert(df.head().getSeq[String](0) == Seq("abc", sparkCase("İx", upper = false)))
  }

  test("rewrite reaches streaming micro-batch plans") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val q = mem.toDF().select(lower(col("value")).as("l"), upper(col("value")).as("u"))
      .writeStream.format("memory").queryName("case_mapping_stream").start()
    try {
      val strings = inputs.filter(_ != null).map(new String(_, "UTF-8"))
      mem.addData(strings: _*)
      q.processAllAvailable()
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      val found = cased(last.optimizedPlan)
      assert(found.nonEmpty && found.forall(_.isInstanceOf[AsciiFastCase]), found)
      val got = spark.table("case_mapping_stream").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = strings.map(s => (sparkCase(s, upper = false), sparkCase(s, upper = true))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("no rewrite for a collated string or with ICU case mappings off") {
    val collated = spark.range(1).select(expr("lower(collate('ABC', 'UTF8_LCASE'))"))
    assert(cased(collated.queryExecution.analyzed).map(_.getClass) == Seq(classOf[Lower]))
    withConf("spark.sql.icu.caseMappings.enabled" -> "false") {
      val df = table.select(lower(col("x")), upper(col("x")))
      assert(cased(df.queryExecution.analyzed).map(_.getClass).toSet ==
        Set(classOf[Lower], classOf[Upper]))
    }
  }

  test("output names, SQL text and plan text are those of lower/upper") {
    val df = table.select(lower(col("x")), upper(col("x")), expr("lcase('A')"), expr("UCASE(x)"))
    assert(df.columns.toSeq == Seq("lower(x)", "upper(x)", "lcase(A)", "ucase(x)"))
    val exprs = cased(df.queryExecution.analyzed)
    assert(exprs.forall(_.isInstanceOf[AsciiFastCase]))
    assert(exprs.map(_.sql).toSet == Set("lower(x)", "upper(x)", "lcase('A')", "ucase(x)"))
    val explained = df.queryExecution.executedPlan.toString
    assert(explained.contains("lower(x#") && !explained.contains("AsciiFastCase"), explained)
  }
}
