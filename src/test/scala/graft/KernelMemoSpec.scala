package graft

import org.apache.spark.sql.functions._

import graft.io.KernelMemo
import graft.queries.Dedup

/** The durable-checkpoint kernel memo (KernelMemo): shared pair kernels
  * are built once per suite by their designated builder query and
  * reused by composition consumers. The memo must be (1) content-
  * transparent — a reused frame is row-identical to a fresh build,
  * (2) order-proof — a consumer on a cold memo builds and registers
  * the kernel itself, and (3) refreshable — rebuild replaces the
  * stored frame. */
class KernelMemoSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("reuse returns the builder's frame, content-identical to a fresh build") {
    KernelMemo.invalidate(spark)
    val built = Dedup.minhashPairs(spark, sf(), rebuildMemo = true)
    val reused = Dedup.minhashPairs(spark, sf(), rebuildMemo = false)
    // the reused frame is the SAME checkpointed plan (no recompute)...
    assert(reused eq built)
    // ...and its content matches the raw (unmemoized) pipeline
    val fresh = rows(Dedup.minhashPairs(spark, sf(), rebuildMemo = true))
    assert(rows(reused) == fresh)
    assert(fresh.nonEmpty, "corpus must contain minhash near-dup pairs")
  }

  test("a consumer on a cold memo builds and registers the kernel") {
    KernelMemo.invalidate(spark)
    val first = KernelMemo.reuse(spark, sf(), "spec_kernel") {
      spark.range(5).toDF("id")
    }
    val second = KernelMemo.reuse(spark, sf(), "spec_kernel") {
      fail("second reuse must hit the memo, not rebuild"): org.apache.spark.sql.DataFrame
    }
    assert(second eq first)
    assert(rows(first) == (0L until 5L).map(i => s"[$i]").toSet)
  }

  test("rebuild refreshes the stored frame") {
    KernelMemo.invalidate(spark)
    KernelMemo.rebuild(spark, sf(), "spec_refresh")(spark.range(3).toDF("id"))
    val v2 = KernelMemo.rebuild(spark, sf(), "spec_refresh")(spark.range(4).toDF("id"))
    val got = KernelMemo.reuse(spark, sf(), "spec_refresh") {
      fail("must hit the refreshed memo"): org.apache.spark.sql.DataFrame
    }
    assert(got eq v2)
    assert(got.count() == 4)
    // the single dispatch: rebuild = true refreshes, rebuild = false reuses
    val v3 = KernelMemo(spark, sf(), "spec_refresh", rebuild = true)(spark.range(5).toDF("id"))
    val got3 = KernelMemo(spark, sf(), "spec_refresh", rebuild = false) {
      fail("rebuild = false must hit the refreshed memo"): org.apache.spark.sql.DataFrame
    }
    assert(got3 eq v3)
    assert(got3.count() == 5)
  }

  test("memo keys are scoped per data directory") {
    KernelMemo.invalidate(spark)
    KernelMemo.rebuild(spark, "dirA", "spec_dir")(spark.range(1).toDF("id"))
    var builtB = false
    KernelMemo.reuse(spark, "dirB", "spec_dir") {
      builtB = true; spark.range(2).toDF("id")
    }
    assert(builtB, "a different dir must not hit dirA's kernel")
  }

  test("derived loser frame equals the memoized pair frame's id_b set") {
    KernelMemo.invalidate(spark)
    val losers = rows(Dedup.lshNearDupLosers(spark, sf()))
    val fromPairs = rows(
      Dedup.minhashPairs(spark, sf(), rebuildMemo = false)
        .select(col("id_b")).distinct())
    assert(losers == fromPairs)
    assert(losers.nonEmpty)
  }

  test("checkpoint-backed kernels survive cache clears and RDD unpersists") {
    KernelMemo.invalidate(spark)
    val built = Dedup.cappedPairs(spark, sf(), rebuildMemo = true)
    val expect = rows(built)
    // the exact hygiene Bench runs between queries
    graft.io.CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val reused = Dedup.cappedPairs(spark, sf(), rebuildMemo = false)
    assert(reused eq built)
    assert(rows(reused) == expect)
  }
}
