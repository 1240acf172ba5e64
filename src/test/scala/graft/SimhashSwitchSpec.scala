package graft

import graft.queries.Dedup

/** The geometry-switch contract behind q_dedup_simhash (VERDICT r17
  * #3), proven on the real corpus: the block arm is pair-level EXACT
  * against a brute-force hamming scan, the band arm can only ever be a
  * subset of it, and the switch picks the band heuristic at every gate
  * corpus size (the block branch stays verified through its forced-path
  * query q_dedup_simhash_blocks_pairs). */
class SimhashSwitchSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("block-geometry pairs == brute-force hamming<=5 pairs on the corpus") {
    val dir = sf()
    val sigs = Dedup.simhashFrame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 5
    } yield (ida, idb, java.lang.Long.bitCount(sa ^ sb))).toSet
    val blocks = pairSet(Dedup.simhashPairsBlocksJoin(spark, dir))
    graft.io.CacheScope.releaseAll()
    assert(blocks == brute,
      s"block arm must be exact: missing=${(brute -- blocks).take(5)} " +
        s"extra=${(blocks -- brute).take(5)}")
  }

  test("band-geometry pairs are a subset of the block pairs (never the reverse)") {
    val dir = sf()
    val bands = pairSet(Dedup.simhashPairsBands(spark, dir))
    val blocks = pairSet(Dedup.simhashPairsBlocksJoin(spark, dir))
    graft.io.CacheScope.releaseAll()
    assert((bands -- blocks).isEmpty,
      "every band candidate at hamming<=5 is a true pair, which blocks catch exactly")
  }

  test("the switch routes every gate corpus through the band arm") {
    // all three SFs sit under the 2^15 switch point — q_dedup_simhash's
    // oracle-checked output IS the band arm there; the block branch is
    // hash-verified by its forced-path query instead
    for (d <- Seq("sf0.001", "sf0.01"))
      assert(graft.io.Tables.rowCount(spark, sf(d), "documents") <= Dedup.SimhashBandsMaxN)
    val dir = sf()
    val switched = pairSet(Dedup.simhashPairs(spark, dir, rebuildMemo = false))
    val bands = pairSet(Dedup.simhashPairsBands(spark, dir))
    graft.io.CacheScope.releaseAll()
    assert(switched == bands)
  }
}
