package graft

import org.apache.spark.sql.functions._

import graft.functions.Aggregators

/** TopK Aggregator: equivalence with the window row_number formulation
  * and bounded-state semantics; partitioning-mode adapter behavior. */
class AggregatorSpec extends SparkSpec {

  test("TopK aggregator matches window row_number top-3 per customer") {
    import spark.implicits._
    val orders = graft.io.Tables(spark, sf(), "orders")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))

    val viaAgg = orders
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, p, k) => (p, k) }
      .agg(new Aggregators.TopK(3).toColumn)
      .collect()
      .map { case (ck, top) => ck -> top.map(_._2).toList }
      .toMap

    val viaWindow = orders
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (ck, rows) =>
        ck -> rows.sortBy(_.getInt(3)).map(_.getLong(2)).toList
      }

    assert(viaAgg == viaWindow)
  }

  test("partitioning=hashcode co-locates equal rows; random round-robins") {
    val in = graft.adapters.Adapters.input("hadoopParquet")
    def load(mode: String) = in.load(
      spark, s"file:${sf()}/nation.parquet", "n", 3,
      graft.adapters.AdapterConf(in.meta, Map("partitioning" -> mode)))("n")

    // hashcode: deterministic assignment — same distribution on re-load
    val h1 = load("hashcode").rdd.glom().collect().map(_.length).toSeq
    val h2 = load("hashcode").rdd.glom().collect().map(_.length).toSeq
    assert(h1 == h2)
    assert(h1.sum == 25 && h1.length == 3)

    // random: round-robin -> near-even split
    val r = load("random").rdd.glom().collect().map(_.length).toSeq
    assert(r.sum == 25 && r.max - r.min <= 1)

    assertThrows[IllegalArgumentException](load("bogus"))
  }
}
