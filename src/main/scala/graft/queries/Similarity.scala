package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash.{duck, h}
import graft.io.CacheScope.Persisted
import graft.io.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim, ~unit-norm so dot ≈ cosine).
  *
  *  - `q_ann_topk`: brute-force top-k — the correctness baseline. The
  *    small query set is broadcast against the full candidate scan (no
  *    shuffle of the big side); ranking uses an exact DECIMAL dot product
  *    so cross-engine hashes match. At 100 TB the scan parallelizes
  *    per-partition and the per-query top-k is a windowed shuffle on
  *    query_id only.
  *  - `q_ann_lsh`: the scale path — 4 random-hyperplane sign bits
  *    (hash-derived, deterministic) bucket the vectors; top-k runs within
  *    the query's bucket only, turning the all-pairs scan into a
  *    bucket-equi-join. Recall is probabilistic; the baseline above
  *    measures it.
  *
  * Hyperplane weights are pseudo-random doubles derived from
  * [[graft.functions.CrossHash]]: w(j,i) = ((h(j#i) % 2001) - 1000)/1000.0,
  * identical in both engines, so even the LSH variant is hash-verified.
  */
object Similarity {

  /** Fixed-cardinality deterministic samples: the probe/query set and
    * the centroid seeds are the top-k vec_ids by a cross-engine hash —
    * k is a FIXED model/workload parameter (|Q| queries, |C| centroids),
    * not a fraction of the corpus. The %-of-corpus slices these replace
    * (vec_id % 100 / % 50) grew linearly with the corpus, so the
    * broadcast hints protecting them pinned O(corpus) frames — the
    * round-7 gate loophole. A hash-ordered LIMIT k is bounded by
    * construction at any corpus size.
    *
    * |Q| is CORPUS-DERIVED with a hard workload CAP (round 15 — the
    * ncIvf/pqK rule applied to the evaluation set): a fixed |Q| = 8
    * made recall@3 statistically noisy at larger corpora (rankings
    * moved 1-2 hits between SFs), while an uncapped fraction would be
    * the round-7 loophole again. clamp(8, 64, N div 125) keeps the
    * sf0.001/0.01 gates at 8 (byte-identical to the r10-r15 dumps) and
    * exercises 16 at sf0.1, so the derivation itself is hash-verified
    * at two values; 64 is the bound the broadcast audit relies on.
    * Pure INTEGER arithmetic on both sides. */
  private[graft] def nqOf(n: Long): Int =
    math.max(8L, math.min(64L, n / 125L)).toInt
  private def nq(s: org.apache.spark.sql.SparkSession, dir: String): Int =
    nqOf(Tables.rowCount(s, dir, "embeddings"))
  private val duckNq =
    "(SELECT greatest(8, least(64, count(*) // 125)) FROM embeddings)"

  /** IVF cell count — CORPUS-DERIVED, not a literal (round-11): with a
    * fixed |C| the per-cell inverted lists grow O(N/|C|), so in-cell
    * probe work is O(N) per query and the whole family degrades to a
    * scan at scale. The classical IVF balance point is |C| = ceil(√N)
    * (√N cells of ~√N vectors: assignment flops O(N·√N), probe work
    * O(√N) per query — the FAISS IVF-Flat recipe). Both engines derive
    * the SAME value from the corpus itself: Spark from a memoized
    * metadata-only parquet count ([[Tables.rowCount]]), DuckDB from a
    * scalar subquery inlined into the seed LIMIT. ceil(sqrt(n)) is one
    * IEEE double sqrt on an exactly-representable integer — identical
    * in java.lang.Math and DuckDB's C sqrt. */
  private[graft] def ncIvf(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
  private def ncIvf(s: org.apache.spark.sql.SparkSession, dir: String): Int =
    ncIvf(Tables.rowCount(s, dir, "embeddings"))
  private val duckNcIvf =
    "(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** Product-quantization geometry: M subspaces of DS dims (M·DS = 64),
    * K codebook entries per subspace — a vector compresses to M codes.
    * Codebooks are TRAINED (VERDICT r13 #4): convergence-derived rounds (guard [[PQ_MAX_ROUNDS]]) of
    * per-subspace Lloyd over a [[pqTrainN]]-vector content-hash
    * sample (the FAISS recipe — codebooks train on a bounded sample,
    * the full corpus only encodes), seeded from the hash-ordered seed
    * set the training-free r13 codebooks used. Encoding is MINIMUM
    * L2 distance — argmax of 2·v·c − c·c (v·v is constant per vector),
    * every term an exact-DECIMAL dot, ties to the lowest code.
    *
    * K is CORPUS-DERIVED (round 15 — the ncIvf/semBits rule applied to
    * the codebook): K = clamp(16, 256, N div 64), so a 50-vector test
    * corpus trains 16 codes per subspace while a billion-vector corpus
    * saturates at the FAISS byte-code budget of 256 — with at least 64
    * training candidates per code before the cap. The training sample
    * scales with it (16·K vectors, floor 256 — bounded at 4096 ever).
    * Pure INTEGER arithmetic on both sides (Spark: the cached
    * plan-time row count; oracle: a scalar subquery), the
    * corpus-derived-parameter rule. The sf0.001/0.01 gates exercise
    * K = 16 and the sf0.1 cross-scale gate K = 31, so the derivation
    * itself is hash-verified, not one frozen parameterization. */
  private val PQ_M = 8
  private val PQ_DS = 8

  /** Lloyd depth is CONVERGENCE-DERIVED (round 16 — the ncIvf/pqK rule
    * applied to training depth): training stops after the first round
    * whose moved-code count drops below 10% of the sample assignments
    * (`moved · 10 < n`, pure INTEGER arithmetic on both sides — moved
    * and n are exact integers, so the stop decision can never split
    * the engines), with [[PQ_MAX_ROUNDS]] as the mandatory guard. The
    * oracle unrolls all MAX rounds and SELECTS the derived depth's
    * codebook via the same integer rule (conditional UNION arms — the
    * flag-gated-branch pattern); the cross-scale gates exercise ≥ 2
    * distinct depths (sf0.01 converges at 2, sf0.001/0.1 run deeper),
    * so the derivation itself is hash-verified. */
  private val PQ_MAX_ROUNDS = 4
  private[graft] def pqK(
      s: org.apache.spark.sql.SparkSession, dir: String): Int =
    math.min(256L, math.max(16L,
      Tables.rowCount(s, dir, "embeddings") / 64L)).toInt
  private[graft] def pqTrainN(
      s: org.apache.spark.sql.SparkSession, dir: String): Int =
    math.max(256, 16 * pqK(s, dir))
  private val duckPqK =
    "(SELECT least(256, greatest(16, count(*) // 64)) FROM embeddings)"
  private val duckPqTrainN =
    "(SELECT greatest(256, 16 * least(256, greatest(16, count(*) // 64))) FROM embeddings)"

  /** DuckDB: one float-product term snapped to DECIMAL(28,12) THROUGH
    * THE SHORTEST DECIMAL REPR (round 15): `CAST(double AS DECIMAL)`
    * rounds the exact binary value, Spark rounds the shortest-string
    * decimal (HALF_UP) — and float x float products have <= 48-bit
    * mantissas whose shortest reprs land ON a scale-12 half-tie about
    * 1e-4..1e-5 of the time, where the two conversions disagree by one
    * unit (found by the K=31 cross-scale gate: one tie term in
    * q_pq_train's 95k round-1 d2 terms). DuckDB's double->VARCHAR is
    * the same shortest repr and its VARCHAR->DECIMAL rounds half-up,
    * so this composition equals Spark's cast BIT-FOR-BIT (validated on
    * 300k random float products + exponent-notation edges); outside
    * the tie band it is value-identical to the direct cast, so every
    * previously green row stays green. docs/determinism.md round-15. */
  private[queries] def duckProd12(x: String, y: String): String =
    s"CAST(CAST(CAST($x AS DOUBLE) * CAST($y AS DOUBLE) AS VARCHAR) AS DECIMAL(28,12))"

  /** DuckDB: exact-DECIMAL 8-term dot of two subvector lists. */
  private def duckDot8(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, $PQ_DS),
       |  i -> ${duckProd12(s"$a[i]", s"$b[i]")}))""".stripMargin

  /** DuckDB: the min-L2 ordering value 2·v_sub·c − c·c as one exact
    * DECIMAL — shared by the training assignments and the final
    * encode so they can never quantize differently. */
  private def duckPqScore(sub: String, cb: String): String =
    s"CAST(2 * ${duckDot8(sub, cb)} - ${duckDot8(cb, cb)} AS DECIMAL(28,12))"

  /** Shared PQ oracle CTEs (seeds → cb0 → Lloyd rounds → trained `cb`
    * → full-corpus min-dist `codes`), used verbatim by q_ann_pq and
    * q_pq_distortion — one formulation. The final CTE names `cb` and
    * `codes` are unchanged from the r13 training-free chain, so the
    * consuming query bodies did not move. Training reads only the
    * `pqt` sample (content-hash row_number ≤ the corpus-derived train
    * budget — bounded at any corpus size); empty cells keep their
    * previous entry (coalesce), so every subspace always carries the
    * full corpus-derived K codes. The K and train-budget limits are
    * scalar-subquery row_number filters (not LIMITs) so the oracle
    * derives them from the same corpus the Spark side counts. */
  private lazy val pqBaseCtes: String = pqChainCtes("embeddings", "")

  /** The PQ chain over an arbitrary (vec_id, embedding) source
    * relation, CTE names prefixed with `p` — `pqBaseCtes` is the
    * `("embeddings", "")` instance (byte-identical to the r13–r15
    * text); the residual IVFADC chain instantiates it over the
    * residual CTE. The K / train-budget scalar subqueries stay over
    * `embeddings` (the source carries the same vec_ids, so the counts
    * are equal by construction), and the hash tags are shared so both
    * chains seed/train on the SAME hash-selected vec_ids. */
  private def pqChainCtes(src: String, p: String): String = {
    val rounds = (1 to PQ_MAX_ROUNDS).map { r =>
      s"""${p}pa${r - 1} AS MATERIALIZED (
         |  SELECT vec_id, m, k FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${duckPqScore("s.sv", "c.cb")} DESC, c.k) AS rn
         |    FROM ${p}sv s JOIN ${p}cb${r - 1} c ON c.m = s.m
         |  ) WHERE rn = 1
         |), ${p}cb$r AS MATERIALIZED (
         |  SELECT p.m, p.k, coalesce(u.cb, p.cb) AS cb
         |  FROM ${p}cb${r - 1} p LEFT JOIN (
         |    SELECT m, k, list_transform(
         |        list_sort(list(struct_pack(dim := dim, mean := mean))),
         |        r -> CAST(r.mean AS FLOAT)) AS cb
         |    FROM (
         |      SELECT a.m, a.k, i AS dim,
         |        CAST(CAST(sum(CAST(CAST(s.sv[i] AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS DOUBLE)
         |          / count(*) AS mean
         |      FROM ${p}pa${r - 1} a JOIN ${p}sv s ON s.vec_id = a.vec_id AND s.m = a.m,
         |           unnest(generate_series(1, $PQ_DS)) AS t(i)
         |      GROUP BY a.m, a.k, i)
         |    GROUP BY m, k) u ON u.m = p.m AND u.k = p.k
         |)""".stripMargin
    }.mkString(", ")
    // the final assignment under the LAST codebook (pa_MAX — needed for
    // moved_MAX and so the telemetry query can report the last round)
    val paMax =
      s"""${p}pa$PQ_MAX_ROUNDS AS MATERIALIZED (
         |  SELECT vec_id, m, k FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${duckPqScore("s.sv", "c.cb")} DESC, c.k) AS rn
         |    FROM ${p}sv s JOIN ${p}cb$PQ_MAX_ROUNDS c ON c.m = s.m
         |  ) WHERE rn = 1
         |)""".stripMargin
    // convergence-derived depth: first round whose moved-code count is
    // below 10% of the sample assignments (moved·10 < n, exact INTEGER
    // comparison), else the max-rounds guard — the Spark trainer's loop
    // condition expressed as a scalar CASE
    val movedSel = (1 to PQ_MAX_ROUNDS).map { r =>
      s"""(SELECT count(*) FROM ${p}pa${r - 1} a JOIN ${p}pa$r b
         |    ON b.vec_id = a.vec_id AND b.m = a.m WHERE b.k <> a.k) AS m$r""".stripMargin
    }.mkString(",\n  ")
    val depthCase = (1 until PQ_MAX_ROUNDS)
      .map(r => s"WHEN m$r * 10 < n THEN $r").mkString(" ")
    val cbArms = (1 to PQ_MAX_ROUNDS).map { r =>
      s"SELECT m, k, cb FROM ${p}cb$r WHERE (SELECT r FROM ${p}pdep) = $r"
    }.mkString("\n  UNION ALL ")
    s"""${p}seeds AS (
       |  SELECT k, embedding FROM (
       |    SELECT row_number() OVER (ORDER BY ph, vec_id) - 1 AS k, embedding
       |    FROM (SELECT vec_id, embedding, ${duck("'pq#' || vec_id::VARCHAR")} AS ph
       |          FROM $src))
       |  WHERE k < $duckPqK
       |), ${p}cb0 AS MATERIALIZED (
       |  SELECT t.m, s.k,
       |    list_transform(generate_series(1, $PQ_DS), i -> s.embedding[t.m * $PQ_DS + i]) AS cb
       |  FROM ${p}seeds s, generate_series(0, ${PQ_M - 1}) t(m)
       |), ${p}pqt AS MATERIALIZED (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY th, vec_id) AS trn
       |    FROM (SELECT vec_id, ${duck("'pqt#' || vec_id::VARCHAR")} AS th
       |          FROM $src))
       |  WHERE trn <= $duckPqTrainN
       |), ${p}sv AS MATERIALIZED (
       |  SELECT e.vec_id, t.m,
       |    list_transform(generate_series(1, $PQ_DS), i -> e.embedding[t.m * $PQ_DS + i]) AS sv
       |  FROM $src e JOIN ${p}pqt USING (vec_id), generate_series(0, ${PQ_M - 1}) t(m)
       |), $rounds, $paMax, ${p}pmv AS (
       |  SELECT $movedSel,
       |  (SELECT count(*) FROM ${p}pa0) AS n
       |), ${p}pdep AS (
       |  SELECT CASE $depthCase ELSE $PQ_MAX_ROUNDS END AS r FROM ${p}pmv
       |), ${p}cb AS MATERIALIZED (
       |  $cbArms
       |), ${p}codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT v.vec_id, c.m, c.k,
       |      row_number() OVER (PARTITION BY v.vec_id, c.m
       |        ORDER BY ${duckPqScore(
              s"list_transform(generate_series(1, $PQ_DS), i -> v.embedding[c.m * $PQ_DS + i])",
              "c.cb")} DESC, c.k) AS rn
       |    FROM $src v CROSS JOIN ${p}cb c
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  /** The hash-ordered SEED codebook (r13's training-free codebook,
    * now Lloyd round 0): one [[localizedModel]] of M·K subvector rows.
    * Parameterized by the vector source (round 15: the residual IVFADC
    * chain seeds from RESIDUAL vectors — same hash-selected vec_ids,
    * the source's values). */
  private def pqSeedCbOn(
      src: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val seeds = src
      .select(col("vec_id"), col("embedding"),
        expr(h("concat('pq#', cast(vec_id as string))")).as("ph"))
      .orderBy(col("ph"), col("vec_id")).limit(pqK(s, dir))
      .withColumn("k",
        row_number().over(Window.orderBy(col("ph"), col("vec_id"))) - 1)
    localizedModel(seeds
      .select(col("k"), explode(expr(s"sequence(0, ${PQ_M - 1})")).as("m"), col("embedding"))
      .select(col("m"), col("k"), expr(s"slice(embedding, m * $PQ_DS + 1, $PQ_DS)").as("cb")))
  }

  private def pqSeedCb(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    pqSeedCbOn(Tables(s, dir, "embeddings"), s, dir)

  /** The `pq_codes(embedding, <codebook>)` SQL call for a driver-side
    * codebook — every float is rendered as `cast('<shortest-repr>' as
    * float)` (string→float parses with Float.parseFloat: one exact
    * rounding, no decimal-literal detour), so the plan-time literal
    * reconstructs the model bit-for-bit on every executor. */
  private[graft] def pqCodesSql(
      vecCol: String, cbRows: Seq[(Int, Int, Seq[Float])]): String = {
    val byM = cbRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
      rows.sortBy(_._2).map(_._3)
    }
    val lit = byM.map(ks =>
      ks.map(_.map(f => s"cast('$f' as float)").mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    s"pq_codes($vecCol, $lit)"
  }

  /** Per-vector min-L2 quantization as ONE native per-row loop
    * ([[graft.functions.PqCodes]], round 15 — the r14 close-out's
    * named headroom): encode is a pure zero-exchange map + posexplode,
    * replacing the r14 relational kernel (corpus × broadcast-codebook
    * crossJoin → packed-BIGINT max HashAggregate, an M·K-row stream
    * plus an aggregate per vector). The expression reproduces that
    * kernel's arithmetic exactly — per-term double→DECIMAL(28,12)
    * rounding, 2·dotInt − ccInt scaled-integer scoring, ties to the
    * lowest code (contract pinned by PqEncodeSpec; the q_ann_pq /
    * q_pq_distortion / q_ann_ivfpq / q_pq_train hash gates verify it
    * end to end) — so swapping the kernels never moved a value. */
  private def pqEncode(
      vecs: org.apache.spark.sql.DataFrame,
      cbRows: Seq[(Int, Int, Seq[Float])]): org.apache.spark.sql.DataFrame =
    vecs.select(col("vec_id"),
        posexplode(expr(pqCodesSql("embedding", cbRows))).as(Seq("m", "code")))

  /** Driver-cached trained codebook rows per (session, dir) — plain
    * Scala data (no DataFrame, hence no session reference: this weak
    * map CAN collect, unlike the KernelMemo caveat). Builder protocol:
    * q_ann_pq always retrains, q_pq_distortion reuses or trains on
    * demand — deterministic weights, order-independent results. */
  /** Trained PQ model: the codebook rows plus the per-round training
    * telemetry (round, sample distortion, codes moved — moved is null
    * for the seed round), both pure functions of the corpus. */
  private[graft] final case class PqModel(
      cb: Seq[(Int, Int, Seq[Float])],
      telemetry: Seq[(Int, Double, Option[Long])])

  private val pqCbModels =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, PqModel]]()
  private def pqCbModelMap(s: org.apache.spark.sql.SparkSession) =
    pqCbModels.synchronized {
      var m = pqCbModels.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        pqCbModels.put(s, m)
      }
      m
    }

  /** Convergence-derived rounds (guard [[PQ_MAX_ROUNDS]]) of per-subspace Lloyd over the bounded
    * [[pqTrainN]] content-hash sample. Per round: min-L2 assignment
    * of the sample subvectors (the [[pqEncode]] kernel over ≤ 256
    * vectors), then each (m, k) cell's centroid becomes the
    * element-wise mean of its assigned subvectors (DECIMAL sums →
    * DOUBLE → FLOAT, the q_kmeans_train narrowing recipe); empty cells
    * keep their previous entry. Eager driver loop collecting one
    * 128-row codebook per round — the bounded-model LocalRelation
    * pattern, so no per-branch re-execution and constant plans. */
  private def trainPqCb(
      s: org.apache.spark.sql.SparkSession,
      dir: String): PqModel =
    trainPqCbOn(s, dir, Tables(s, dir, "embeddings"))

  /** [[trainPqCb]] parameterized by the (vec_id, embedding) vector
    * source — the residual IVFADC chain trains on residuals. */
  private def trainPqCbOn(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      src: org.apache.spark.sql.DataFrame): PqModel = {
    import s.implicits._
    // the training sample IS the model input — a bounded frame
    // (≤ 4096 × 64 floats ≈ 1 MB), so it follows the
    // localizedModel rule: ONE corpus TakeOrdered (hash + embedding —
    // no id semi-join, no second corpus scan, no cache), then every
    // round's assignment/update job runs over a driver LocalRelation ×
    // the 128-row codebook — milliseconds per round at ANY corpus size
    // (the r14 first cut semi-joined + persisted the sample and paid
    // ~3 s of corpus-scan/stage overhead per q_ann_pq build)
    val tv = localizedModel(src
      .select(col("vec_id"), col("embedding"),
        expr(h("concat('pqt#', cast(vec_id as string))")).as("th"))
      .orderBy(col("th"), col("vec_id")).limit(pqTrainN(s, dir))
      .select(col("vec_id"), col("embedding")))
    def collectCb(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Float])] =
      df.select(col("m"), col("k"), col("cb")).collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
        .sortBy(t => (t._1, t._2))
    // per-round assignments collected driver-side (≤ trainN·M thin
    // rows): `moved` is a pure integer diff in Scala; the sample
    // distortion is ONE LocalRelation job per round with the exact
    // q_pq_distortion DECIMAL formula, so the q_pq_train oracle can
    // mirror it term for term
    def collectAssign(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Int] =
      df.select(col("vec_id"), col("m"), col("code")).collect()
        .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].intValue())
          -> r.get(2).asInstanceOf[Number].intValue()).toMap
    def sampleD2(assign: Map[(Long, Int), Int],
        cbRows: Seq[(Int, Int, Seq[Float])]): Double = {
      val aDf = assign.toSeq.map { case ((v, m0), k0) => (v, m0, k0) }
        .sortBy(t => (t._1, t._2)).toDF("vec_id", "m", "code")
      val cbDf = cbRows.toDF("m", "k", "cb").withColumnRenamed("k", "code")
      tv.join(aDf, "vec_id")
        .join(cbDf, Seq("m", "code"))
        .select(expr(s"""cast(
          dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), slice(embedding, m * $PQ_DS + 1, $PQ_DS))
          - 2 * dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), cb)
          + dot_dec(cb, cb) as decimal(28,12))""").as("d2"))
        .agg(sum(col("d2")).cast("decimal(18,12)").cast("double"))
        .head().getDouble(0)
    }
    var cb = collectCb(pqSeedCbOn(src, s, dir))
    val telemetry = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Option[Long])]
    // AQE off for the round jobs: every input is a driver LocalRelation
    // (256-row sample × 128-row codebook), so each round is
    // milliseconds of compute but AQE's per-exchange stage
    // materialization puts a ~0.2 s floor under each of its ~4
    // exchanges — measured 1.8 s of pure overhead for the 2 rounds
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var assign = collectAssign(pqEncode(tv, cb))
      telemetry += ((0, sampleD2(assign, cb), None))
      // convergence-derived depth (round 16): run rounds until the
      // moved-code count drops below 10% of the sample assignments
      // (moved·10 < n, exact integers — the oracle's pdep CASE verbatim),
      // with PQ_MAX_ROUNDS as the mandatory guard. The loop ALWAYS
      // executes the round it judges, so depth = the first converged
      // round — identical to the oracle's first-converged selection.
      val n = assign.size.toLong
      var r = 1
      var converged = false
      while (r <= PQ_MAX_ROUNDS && !converged) {
        val cbDf = cb.toDF("m", "k", "cb") // LocalRelation
        val aDf = assign.toSeq.map { case ((v, m0), k0) => (v, m0, k0) }
          .sortBy(t => (t._1, t._2)).toDF("vec_id", "m", "code")
        val upd = aDf.join(tv, "vec_id")
          .select(col("m"), col("code").as("k"),
            posexplode(expr(s"slice(embedding, m * $PQ_DS + 1, $PQ_DS)")).as(Seq("dim", "x")))
          .groupBy(col("m"), col("k"), col("dim"))
          .agg((sum(expr("dec_cast(cast(x as double), 18, 8)")).cast("decimal(28,8)").cast("double")
            / count(lit(1))).as("mean"))
          .groupBy(col("m"), col("k"))
          // list agg keyed on (m, k): 128 keys, the bounded-subset exception
          .agg(expr("transform(array_sort(collect_list(struct(dim, mean))), r -> cast(r.mean as float))")
            .as("cbu"))
        cb = collectCb(
          cbDf.join(upd, Seq("m", "k"), "left")
            .select(col("m"), col("k"), coalesce(col("cbu"), col("cb")).as("cb")))
        val a2 = collectAssign(pqEncode(tv, cb))
        val moved = a2.count { case (key, k2) => assign.get(key).exists(_ != k2) }.toLong
        telemetry += ((r, sampleD2(a2, cb), Some(moved)))
        assign = a2
        converged = moved * 10 < n
        r += 1
      }
    } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
    PqModel(cb, telemetry.toSeq)
  }

  /** Latest trained model for (session, dir), training on demand —
    * the clsModels protocol (the model is a pure function of the
    * corpus, so getOrElseUpdate can never serve a wrong answer). */
  private[graft] def pqModel(
      s: org.apache.spark.sql.SparkSession, dir: String): PqModel =
    pqCbModelMap(s).getOrElseUpdate(dir, trainPqCb(s, dir))

  /** ADC top-3 under a given (codebook, codes) pair — the q_ann_pq
    * body, factored so PqTrainSpec can run the IDENTICAL pipeline with
    * the untrained seed codebook and compare recall at equal code
    * budget. Per query: a |Q|·M·K exact-DECIMAL partial-dot LUT
    * (broadcast), ADC = sum of M lookups per candidate, top-3 by ADC
    * (ties to lowest cand), exact full dot carried for the survivors. */
  private[graft] def pqAdcTop(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cb: org.apache.spark.sql.DataFrame,
      codes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        expr(qHash).as("qh"))
      .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
      .select(col("query_id"), col("q_emb"))
    // per-query LUT: |Q| x M x K partial dots — tiny, driver-localized
    // so the broadcast below pins a bounded model frame
    val lut = localizedModel(pqLut(q, cb))
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("ldot").cast("decimal(28,12)")).as("adc"))
    // <= |Q|·3 survivors, driver-localized for the same reason
    val top = localizedModel(adc
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("cand_id"))))
      .filter(col("rn") <= 3))
    // exact full dot for the <= |Q|*3 surviving pairs only
    e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(top), "cand_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("cand_id"), col("rn"),
        col("adc").cast("decimal(18,12)").cast("double").as("adc"),
        expr(dot("q_emb", "c_emb")).cast("double").as("exact_dot"))
  }

  /** The full ADC pipeline under the UNTRAINED seed codebook with the
    * r13 max-dot encode — the equal-code-budget baseline PqTrainSpec
    * measures recall against (never registered; the shipped PQ is the
    * trained one). */
  private[graft] def pqAdcTopSeedBaseline(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val cb0 = pqSeedCb(s, dir)
    val codes0 = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cb0))
      .select(col("vec_id"), col("m"),
        expr(s"""cast(dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), cb)
                 * 1000000000000 as bigint) * 256 + (255 - k)""").as("pack"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(col("pack")).as("mp"))
      .select(col("vec_id"), col("m"), (lit(255) - pmod(col("mp"), lit(256))).as("code"))
    pqAdcTop(s, dir, cb0, codes0)
  }

  /** Trained-PQ entry for PqTrainSpec (reuses the session model/memo). */
  private[graft] def pqAdcTopTrained(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (cb, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = false)
    pqAdcTop(s, dir, cb, codes)
  }

  /** Exact top-3 for the recall denominator (the q_ann_topk ground
    * truth, package-visible for PqTrainSpec). */
  private[graft] def pqExactTop3(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        expr(qHash).as("qh"))
      .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
      .select(col("query_id"), col("q_emb"))
    e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), expr(dot("q_emb", "c_emb")).as("d"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d").desc, col("cand_id"))))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("cand_id"))
  }

  /** Shared PQ Spark frames: (trained codebook, per-vector codes) — the
    * Spark twins of [[pqBaseCtes]]. The codebook is a bounded
    * LocalRelation (M·K rows of DS-float subvectors — the PQ model in
    * RAM, trained once per (session, dir)), and the encode stream is a
    * [[graft.io.KernelMemo]] kernel: q_ann_pq is the designated
    * builder, q_pq_distortion reuses the THIN (vec_id, m, code) frame
    * instead of re-encoding the corpus — exactly the "train the
    * codebook on a sample, encode once, consume many times" shape an
    * IVF-PQ index build has at scale. */
  private def pqCodebookAndCodes(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      rebuildMemo: Boolean): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    // the model cache is getOrElseUpdate even for the builder: the
    // trained codebook is a PURE function of (corpus, constants) —
    // retraining can never produce a different model, so unlike a
    // data-dependent kernel there is no staleness to guard against,
    // and the 2-round training cost (~1.5 s of tiny-job stage
    // overhead) amortizes the way a real IVF-PQ index build does
    // (train once, encode per build). The ENCODE memo still rebuilds
    // in the builder — that cost stays honest per run.
    val cbRows = pqModel(s, dir).cb
    val codes = graft.io.KernelMemo(s, dir, "pq_codes", rebuildMemo)(pqEncode(e, cbRows))
    (cbRows.toDF("m", "k", "cb"), codes)
  }

  private def qHash = h("concat('q#', cast(vec_id as string))")
  private def cHash = h("concat('c#', cast(vec_id as string))")
  private def duckQHash = duck("'q#' || vec_id::VARCHAR")
  private def duckCHash = duck("'c#' || vec_id::VARCHAR")

  /** Spark SQL: exact decimal dot product of two float arrays, via the
    * native codegen'd [[graft.functions.DecimalDot]] (bit-identical to
    * the HOF formulation — DecimalDotSpec — but one static loop instead
    * of interpreted per-element lambdas). */
  private def dot(a: String, b: String): String = s"dot_dec($a, $b)"

  private def duckDot(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, 64),
       |  i -> ${duckProd12(s"$a[i]", s"$b[i]")}))""".stripMargin

  /** ANN method-output memo ([[graft.io.KernelMemo]]): each registered
    * method query is its own kernel's designated builder (wrapping its
    * body in [[annKernel]]), and the recall harness — which composes
    * five full method pipelines — reuses the latest bounded ranking
    * frames through [[annReuse]] instead of re-running every pipeline
    * (r11: q_ann_recall's cost was the SUM of its methods' totals). */
  private def annKernel(
      s: org.apache.spark.sql.SparkSession, dir: String, name: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.io.KernelMemo.rebuild(s, dir, name)(build)

  private def annReuse(
      s: org.apache.spark.sql.SparkSession, dir: String,
      name: String): org.apache.spark.sql.DataFrame =
    graft.io.KernelMemo.reuse(s, dir, name)(graft.SparkEntry.queries(name)(s, dir))

  // --- two-level centroid assignment (round-12) -----------------------------
  // With |C| = ceil(sqrt(N)) the flat assignment scan is O(N * sqrt(N) * d)
  // flops — fine at sf0.1 (~200 centroids), prohibitive at N ~ 1e10
  // (~1e5 centroids). The scale-safe shape pre-prunes the centroid scan
  // with the SRP cell machinery the SemDeDup family already owns:
  // centroids land in `sem#` hyperplane cells at bits = semBits(|C|)
  // (cells ∝ |C|, expected ≤ SEM_CELL_TARGET centroids per cell at ANY
  // corpus size), each vector scores only the centroids in its home
  // cell + every hamming <= 2 neighbour — O(bits^2) cells of
  // ~SEM_CELL_TARGET centroids, so per-vector work is
  // O(SEM_CELL_TARGET * log^2|C| * d), polylogarithmic where the flat
  // scan was sqrt(N). (Radius 2, not 1: on this corpus the nearest
  // centroid sits at a wide angle — hamming-1 coverage left the pruned
  // argmax agreeing with the flat argmax on only ~62% of vectors;
  // radius 2 lifts agreement to ~85% and its probe count 1+b+C(b,2)
  // still vanishes against 2^b cells at scale.)
  //
  // Recall guard WITHOUT a second pass: a fixed ANCHOR set — the
  // ANN_ANCHOR lowest-id centroids — is scored by EVERY vector and
  // EXCLUDED from the probed side, so the candidate set is non-empty
  // and duplicate-free BY CONSTRUCTION (probe cells partition the
  // non-anchor centroids; a vector's probe list has distinct values).
  // No orphan anti-join, no candidate distinct, no extra exchange.
  // The pruned rule is the DEFINITION of the assignment (both engines
  // mirror it exactly — the LSH-family contract, like q_ann_lsh's
  // buckets), and PrunedAssignSpec pins its geometry: anchor-only
  // degenerate == flat argmax, and the pruned assignment agrees with
  // the flat argmax on the overwhelming share of the test corpus.
  private[graft] final val ANN_ANCHOR = 8

  private[graft] def pruneBits(
      s: org.apache.spark.sql.SparkSession, dir: String): Int =
    semBits(ncIvf(s, dir).toLong)

  private def duckPruneBits: String =
    s"""(SELECT greatest(4, CAST(min(j) AS INT)) FROM generate_series(1, 40) t(j)
       | WHERE (1::BIGINT << j) * $SEM_CELL_TARGET >= $duckNcIvf)""".stripMargin

  /** SRP cell id at an explicit bit-count SQL (the duckSemCell shape,
    * same `sem#` plane family, parameterized bits). */
  private def duckCellAt(v: String, bitsSql: String): String =
    s"""CAST(list_sum(list_transform(generate_series(0, $bitsSql - 1), j ->
       |  CASE WHEN list_reduce(list_transform(generate_series(1, 64),
       |      i -> (((${duck("'sem#' || j::VARCHAR || '#' || i::VARCHAR")} % 2001) - 1000) / 1000.0)
       |        * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) >= 0
       |  THEN (1 << j) ELSE 0 END)) AS INT)""".stripMargin

  /** Two-level activation threshold — CORPUS-DERIVED, identical integer
    * rule in both engines: the pruned path pays only when the radius-2
    * probe set is a small fraction of the cells, i.e. semBits(|C|) >= 8
    * (probe count 1+8+28 = 37 of 256 cells = 14%), which by the
    * semBits rule is |C| > 2^7 * SEM_CELL_TARGET = 8192 — reached at
    * N > ~6.7e7 vectors (|C| = ceil(sqrt(N))). Below it the flat
    * broadcast scan IS the optimal plan (the FAISS flat-vs-IVF rule):
    * at sf0.1 (|C| = 142, 16 cells) probes cover 69% of the cells, so
    * pruning saves almost no flops while paying the probe join — the
    * measured 2-3x regression that motivated the switch. The pruned
    * rule itself stays oracle-verified at every scale through
    * `q_ivf_pruned_assign`, which forces it unconditionally. */
  private[graft] final val PRUNE_SWITCH_C = 8192

  private def duckPrunedOn: String = s"$duckNcIvf > $PRUNE_SWITCH_C"

  /** Candidate set with the corpus-derived switch: pruned branch when
    * the threshold is crossed, flat cross otherwise — static SQL, one
    * branch satisfiable per corpus. */
  private def duckPrunedCand(cents: String): String =
    s"""SELECT * FROM (${duckPrunedCandForced(cents)}) WHERE $duckPrunedOn
       |UNION ALL
       |SELECT v.vec_id, v.embedding, c.c_id, c.c_emb
       |FROM embeddings v CROSS JOIN (SELECT c_id, c_emb FROM $cents) c
       |WHERE NOT ($duckPrunedOn)""".stripMargin

  /** Oracle text of the pruned candidate set over a centroid CTE with
    * columns (c_id, c_emb): probe-cell hits on non-anchor centroids
    * UNION ALL the anchor cross — (vec_id, embedding, c_id, c_emb),
    * one row per (vector, candidate centroid). The radius-2 expansion
    * sits on the BOUNDED centroid side (each non-anchor centroid
    * registers under every hamming <= 2 neighbour of its cell; vectors
    * join on their home cell only) — hamming is symmetric, so the pair
    * set is identical to probing from the vector side, but the corpus
    * is never exploded. */
  private def duckPrunedCandForced(cents: String): String =
    s"""SELECT v.vec_id, v.embedding, c.c_id, c.c_emb
       |FROM (SELECT vec_id, embedding, ${duckCellAt("embedding", "bb")} AS pc
       |      FROM embeddings CROSS JOIN (SELECT $duckPruneBits AS bb) bt) v
       |JOIN (SELECT c_id, c_emb,
       |        unnest(list_concat(
       |          list_prepend(cc, list_transform(generate_series(0, bb - 1),
       |            j -> xor(cc, (1 << j)))),
       |          flatten(list_transform(generate_series(0, bb - 2), j ->
       |            list_transform(generate_series(j + 1, bb - 1),
       |              k -> xor(cc, (1 << j) + (1 << k))))))) AS probe
       |      FROM (SELECT c_id, c_emb, bb, ${duckCellAt("c_emb", "bb")} AS cc
       |            FROM (SELECT c_id, c_emb, row_number() OVER (ORDER BY c_id) AS arank
       |                  FROM $cents)
       |            CROSS JOIN (SELECT $duckPruneBits AS bb) bt
       |            WHERE arank > $ANN_ANCHOR)) c
       |  ON v.pc = c.probe
       |UNION ALL
       |SELECT v.vec_id, v.embedding, c.c_id, c.c_emb
       |FROM embeddings v
       |CROSS JOIN (SELECT c_id, c_emb FROM
       |  (SELECT c_id, c_emb, row_number() OVER (ORDER BY c_id) AS arank FROM $cents)
       |  WHERE arank <= $ANN_ANCHOR) c""".stripMargin

  /** Pruned double-score stream (vec_id, c_id, cdd) — the drop-in
    * replacement for `e.crossJoin(broadcast(cents))`: same downstream
    * machinery (per-vector window/TopK prefilter, exact-DECIMAL rank on
    * survivors), a logarithmic fraction of the flops. `cents` must have
    * columns (c_id, c_emb); both slices stay broadcast — they are
    * bounded by the |C| model parameter, the existing hint rule. */
  /** Materialize a BOUNDED centroid frame (|C| = a model parameter,
    * never a corpus fraction) as a LocalRelation: ONE job computes it,
    * then every consumer — the three broadcast branches of
    * [[prunedScores]], the exact-verify join-backs, each Lloyd round —
    * reads a driver-local table instead of re-executing the centroid
    * subtree per branch (3-4 corpus scans per assignment before this),
    * and iterative loops carry a CONSTANT-size plan (the carried frame
    * is referenced 3x per round; as a subtree that is 3^r plan growth —
    * the r10 exponential-plan lesson, solved at the source here).
    * This is the FAISS shape: the coarse quantizer lives in RAM —
    * ~26 MB at |C| = 1e5 / d = 64. */
  /** The ADC lookup table (query_id, m, code, ldot): each query's
    * partial dot with every codebook entry, |Q|·M·K rows. */
  private def pqLut(
      q: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    q.crossJoin(cb).select(col("query_id"), col("m"), col("k").as("code"),
      expr(s"dot_dec(slice(q_emb, m * $PQ_DS + 1, $PQ_DS), cb)").as("ldot"))

  private def localizedModel(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  /** Probe-table row budget for [[prunedScores]] (VERDICT r12 weak #1):
    * the expanded probe table grows as |C|·(1 + bits + C(bits,2)) —
    * ~1.3e7 thin rows (~150 MB) at the 100 TB north star (|C| ≈ 1.4e5,
    * bits 13) and ~1e8 rows (~1.2 GB) at |C| = 1e6, past any sane
    * broadcast. Budget 8M rows ≈ 100 MB: below it the probe table (and
    * the |C|-row c_emb frame) broadcast as before; past it BOTH switch
    * to shuffle hash joins — a pure physical change (identical pair
    * set, proven by PrunedAssignSpec's forced-budget case), and the
    * per-key build sides stay tiny because the probe cells partition
    * the rows. */
  private[graft] final val PROBE_ROW_BUDGET = 8_000_000L

  /** Row count of a driver-localized bounded frame, read from the PLAN
    * (no job): -1 when the frame is not LocalRelation-backed (then the
    * caller keeps today's broadcast default). */
  private def boundedRows(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.length.toLong
    }.getOrElse(-1L)

  private[graft] def prunedScores(
      e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      bitsP: Int,
      anchor: Int = ANN_ANCHOR,
      probeRowBudget: Long = PROBE_ROW_BUDGET): org.apache.spark.sql.DataFrame = {
    // callers pass a [[localizedModel]] frame, so the rank window and
    // the three broadcast branches below all read a LocalRelation —
    // re-execution per branch costs nothing
    val ranked = cents.withColumn("arank",
      row_number().over(Window.orderBy(col("c_id"))))
    val anchors = ranked.filter(col("arank") <= anchor).select(col("c_id"), col("c_emb"))
    val rest = ranked.filter(col("arank") > anchor)
      .select(col("c_id"), col("c_emb"), semCellCol("c_emb", bitsP).cast("int").as("cpcell"))
    // radius-2 expansion on the BOUNDED side: every centroid registers
    // under each hamming <= 2 neighbour of its cell (masks as FLAT
    // plan-time constants — home, single flips, double flips, all
    // distinct so a (vector, centroid) pair matches exactly once);
    // the corpus passes ONCE with a single int key — no explode, no
    // per-probe copies of the embedding array. The expanded probe
    // table is THIN (c_id, probe): at |C| ~ 1e5 / bits = 11 it is
    // ~6.7M 12-byte rows, and c_emb rides the separate |C|-row
    // broadcast joined back by id.
    val masks = 0 +:
      (0 until bitsP).map(1 << _) ++:
      (for { j <- 0 until bitsP; k <- j + 1 until bitsP } yield (1 << j) | (1 << k))
    val probeTab = rest.select(col("c_id"),
      explode(array(masks.map(m => col("cpcell").bitwiseXOR(lit(m))): _*)).as("probe"))
    val ev = e.select(col("vec_id"), col("embedding"),
      semCellCol("embedding", bitsP).cast("int").as("vpcell"))
    // size-budgeted join mode: the probe-table row count is known at
    // PLAN time (|C| from the LocalRelation model × the mask count);
    // past PROBE_ROW_BUDGET the broadcast would be the scale cliff the
    // two-level design exists to avoid, so both bounded sides flip to
    // shuffle hash joins (same pair set — physical-only switch)
    val nRest = { val n = boundedRows(cents); if (n < 0) -1L else math.max(n - anchor, 0L) }
    val overBudget = nRest >= 0 && nRest * masks.size > probeRowBudget
    val probeSide = if (overBudget) probeTab.hint("shuffle_hash") else broadcast(probeTab)
    val embTab = rest.select(col("c_id"), col("c_emb"))
    val embSide = if (overBudget) embTab.hint("shuffle_hash") else broadcast(embTab)
    val hit = ev.join(probeSide, col("vpcell") === col("probe"))
      .join(embSide, "c_id")
      .select(col("vec_id"), col("c_id"), expr("dot_f(embedding, c_emb)").as("cdd"))
    val anch = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(anchors))
      .select(col("vec_id"), col("c_id"), expr("dot_f(embedding, c_emb)").as("cdd"))
    hit.unionByName(anch)
  }

  /** Centroid score stream with the corpus-derived two-level switch
    * ([[PRUNE_SWITCH_C]]): the flat broadcast scan below the threshold
    * — optimal for small |C|, where probing covers most cells anyway —
    * and [[prunedScores]] above it, where the probe join's candidate
    * volume is O(SEM_CELL_TARGET * log^2|C|) per vector instead of
    * |C|. Both engines derive the same branch from the corpus row
    * count; the DuckDB twin is the flag-gated UNION in
    * [[duckPrunedCand]]. */
  private[graft] def centroidScores(
      s: org.apache.spark.sql.SparkSession, dir: String,
      e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (ncIvf(s, dir) > PRUNE_SWITCH_C) prunedScores(e, cents, pruneBits(s, dir))
    else e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_id"), expr("dot_f(embedding, c_emb)").as("cdd"))

  /** The (cells, embeddings) model when `cents`' OPTIMIZED plan root is
    * a null-free two-column LocalRelation named (idName, "c_emb") —
    * the native-argmax gate shared by [[kmAssign]] (BestCell) and
    * [[topCellsRanked]] (BestCells). The OPTIMIZED root must be the
    * LocalRelation: localizedModel frames are one directly, and
    * ConvertToLocalRelation folds the rename Project that
    * `.toDF(idName, "c_emb")` wraps around one (adcCents); any
    * pipeline frame stays non-local and falls through. */
  private def localCentModel(
      cents: org.apache.spark.sql.DataFrame,
      idName: String): Option[(Seq[Long], Seq[Seq[Float]])] =
    cents.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.output.size == 2 &&
            lr.output.map(_.name) == Seq(idName, "c_emb") &&
            lr.output.head.dataType == org.apache.spark.sql.types.LongType &&
            (lr.output(1).dataType match {
              case org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType, _) => true
              case _ => false
            }) =>
        val rows = lr.data
        val ok = rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && {
          val a = r.getArray(1)
          (0 until a.numElements()).forall(i => !a.isNullAt(i))
        })
        if (!ok) None
        else Some((rows.map(_.getLong(0)).toSeq,
          rows.map(_.getArray(1).toFloatArray().toSeq).toSeq))
      case _ => None
    }

  /** Top-k nearest-cell ranking per vector — the multiprobe fan-out
    * (crn = 1..k, exact-DECIMAL rank order; [[kmAssign]]'s two-phase
    * argmax widened to k). At the flat arm with a LocalRelation model
    * the whole ranking is ONE native map ([[graft.functions.BestCells]]
    * + posexplode — r21, VERDICT r20 #1): the windowed formulation
    * below shuffles the |V|·|C| score stream through the TopK-threshold
    * aggregate, joins the threshold back, joins survivors back twice
    * and runs the rank window. Past [[PRUNE_SWITCH_C]], or for a
    * centroid frame that is not a LocalRelation, the windowed
    * TopK-prefilter formulation runs instead. Output: (vec_id,
    * embedding, c_id, crn). */
  private[graft] def topCellsRanked(
      s: org.apache.spark.sql.SparkSession, dir: String,
      e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val localModel =
      if (ncIvf(s, dir) > PRUNE_SWITCH_C) None else localCentModel(cents, "c_id")
    localModel match {
      case Some((cellIds, cembs)) =>
        e.select(col("vec_id"), col("embedding"),
          posexplode(org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.BestCells(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
              k, cellIds, cembs))).as(Seq("pos", "c_id")))
          .select(col("vec_id"), col("embedding"), col("c_id"),
            (col("pos") + 1).as("crn"))
      case None =>
        // switched double prefilter, bounded-heap k-th threshold,
        // exact-DECIMAL rank on survivors. th/surv are one row per
        // VECTOR — never hinted (the forced broadcast of an O(corpus)
        // frame was the round-6 scale defect); AQE broadcasts them at
        // sf0.1, shuffle-joins at 100 TB.
        val ddots = centroidScores(
          s, dir, e.select(col("vec_id"), col("embedding")), cents)
        val topk = udaf(
          new graft.functions.Aggregators.TopK(k),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong))
        val th = ddots.groupBy(col("vec_id").as("t_vec"))
          .agg(topk(col("cdd"), col("c_id")).as("tk"))
          .select(col("t_vec"), expr(s"element_at(tk, $k)._1").as("th"))
        val surv = ddots.join(th, col("vec_id") === col("t_vec"))
          .filter(col("th").isNull || col("cdd") >= col("th") - 1e-9)
          .select(col("vec_id").as("s_vec"), col("c_id"))
        e.join(surv, col("vec_id") === col("s_vec"))
          .join(broadcast(cents), "c_id")
          .select(col("vec_id"), col("embedding"), col("c_id"),
            expr(dot("embedding", "c_emb")).as("cdot"))
          .withColumn("crn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("cdot").desc, col("c_id"))))
          .filter(col("crn") <= k)
          .select(col("vec_id"), col("embedding"), col("c_id"), col("crn"))
    }
  }

  /** One Lloyd ASSIGNMENT step vs a (cell, c_emb) centroid frame:
    * double prefilter through the two-level switch, exact-DECIMAL
    * argmax on the survivors, ties to lowest cell — factored out of
    * q_kmeans_train (round 15) so the residual IVFADC family runs the
    * IDENTICAL pipeline. The switched prefilter stream carries SCALARS
    * only — shuffling (vec_id, cell, dd) through the window exchange,
    * not copies of two 64-float arrays per vector; embeddings and
    * centroids join back onto the ~1 survivor per vector. */
  private[graft] def kmAssign(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cents: org.apache.spark.sql.DataFrame,
      carry: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    // r20: `carry` threads the PREVIOUS round's assignment through as
    // both the corpus source and a passthrough `prev_cell` column, so a
    // training loop's moved-cell telemetry becomes a plain aggregate
    // over this frame's own materialization instead of a per-round
    // vec_id shuffle join of two persisted assignments (measured ~2x
    // the fused aggregate's cost per round at sf0.1). Callers without
    // a loop keep the parquet scan and the old 3-column schema.
    val e = carry
      .map(_.select(col("vec_id"), col("embedding"), col("cell").as("prev_cell")))
      .getOrElse(Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val outCols = Seq(col("vec_id"), col("embedding"), col("cell")) ++
      (if (carry.isDefined) Seq(col("prev_cell")) else Nil)
    // r20: at the flat arm (|C| <= PRUNE_SWITCH_C — the same switch
    // centroidScores derives) every vector's candidate scores are
    // generated inside one task anyway, so the whole two-phase argmax
    // reduces PER ROW: graft.functions.BestCell replicates the double
    // prefilter + exact-DECIMAL re-rank value-for-value (BestCellSpec
    // pins it against an independent reference on the fixture; the
    // DuckDB oracle verifies every consumer end-to-end) and turns the
    // assignment into a ZERO-EXCHANGE map — the SQL formulation below
    // shuffles the full (vector, cell, dd) stream through the vec_id
    // window exchange and joins the survivors back twice. The model
    // rides as reference objects off the LocalRelation the callers
    // already pass (localizedModel); any other centroid frame falls
    // through to the window formulation.
    val localModel: Option[(Seq[Long], Seq[Seq[Float]])] =
      if (ncIvf(s, dir) > PRUNE_SWITCH_C) None
      else localCentModel(cents, "cell")
    localModel match {
      case Some((cellIds, cembs)) =>
        return e
          .withColumn("cell", org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.BestCell(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
              cellIds, cembs)))
          .filter(col("cell").isNotNull)
          .select(outCols: _*)
      case None => ()
    }
    val dd = centroidScores(
        s, dir, e.select(col("vec_id"), col("embedding")),
        cents.select(col("cell").as("c_id"), col("c_emb")))
      .select(col("vec_id"), col("c_id").as("cell"), col("cdd").as("dd"))
    val best = dd
      .withColumn("mx", max(col("dd")).over(Window.partitionBy(col("vec_id"))))
      .filter(col("dd") >= col("mx") - 1e-9)
      .select(col("vec_id").as("b_vec"), col("cell"))
    val out = Seq(col("vec_id"), col("embedding"), col("cell")) ++
      (if (carry.isDefined) Seq(col("prev_cell")) else Nil)
    e.join(best, col("vec_id") === col("b_vec"))
      .join(broadcast(cents), "cell")
      .select(out :+ expr(dot("embedding", "c_emb")).as("cd"): _*)
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cd").desc, col("cell"))))
      .filter(col("crn") === 1)
      .select(out: _*)
  }

  /** One Lloyd UPDATE step: each nonempty cell's centroid becomes the
    * element-wise mean (DECIMAL sums → DOUBLE → FLOAT, identical
    * narrowing in both engines); empty cells drop. */
  private def kmUpdate(
      a: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = a
    .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
    .groupBy(col("cell"), col("dim"))
    .agg((sum(expr("dec_cast(cast(x as double), 18, 8)")).cast("decimal(28,8)").cast("double")
      / count(lit(1))).as("mean"))
    .groupBy(col("cell"))
    // list agg keyed on cell: |C| keys, the bounded-subset exception
    .agg(expr("transform(array_sort(collect_list(struct(dim, mean))), r -> cast(r.mean as float))")
      .as("c_emb"))

  /** DuckDB twin of [[kmAssign]] over a (cell, c_emb) centroid CTE. */
  private def duckKmAssign(cents: String): String =
    s"""SELECT vec_id, embedding, c_id AS cell FROM (
       |    SELECT vec_id, embedding, c_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
       |    FROM (${duckPrunedCand(s"(SELECT cell AS c_id, c_emb FROM $cents)")})
       |  ) WHERE crn = 1""".stripMargin

  /** DuckDB twin of [[kmUpdate]]. */
  private def duckKmUpdate(assign: String): String =
    s"""SELECT cell, list_transform(
       |      list_sort(list(struct_pack(dim := dim, mean := mean))),
       |      r -> CAST(r.mean AS FLOAT)) AS c_emb
       |  FROM (
       |    SELECT cell, i - 1 AS dim,
       |      CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS DOUBLE)
       |        / count(*) AS mean
       |    FROM (SELECT cell, i, embedding[i] AS x
       |          FROM $assign, unnest(generate_series(1, len(embedding))) AS t(i))
       |    GROUP BY cell, i)
       |  GROUP BY cell""".stripMargin

  // ---- residual IVFADC: trained coarse quantizer + PQ on residuals --------
  // The full FAISS IndexIVFPQ build (Jégou et al. 2011 §III): train the
  // coarse quantizer with Lloyd, assign every vector, and product-
  // quantize the RESIDUAL x − c(cell(x)) instead of x. Residuals under
  // a TRAINED coarse quantizer carry ~13% less energy than the raw
  // unit-norm vectors on this corpus (measured: second moment 0.86–0.88
  // vs 1.0 at sf0.01/0.1; under the r15 HASH-SEEDED centroids they
  // carry MORE — 1.45 — which is why q_ann_ivfpq quantizes raw vectors
  // and this family exists only on top of the trained quantizer), so
  // the same M·K code budget reconstructs strictly better —
  // q_pq_residual_gain is the hash-gated meter, PqResidualSpec pins
  // the direction.

  /** Max-rounds guard for the IVFADC coarse quantizer; the executed
    * depth is CONVERGENCE-DERIVED like [[PQ_MAX_ROUNDS]] — stop after
    * the first round whose moved-cell count over the CORPUS assignment
    * drops below 10% (moved·10 < N, exact integers both engines). */
  private val ADC_KM_MAX_ROUNDS = 4

  /** Driver-cached trained coarse centroids per (session, dir) — plain
    * Scala rows (the pqCbModels pattern: pure function of the corpus,
    * so getOrElseUpdate can never serve a wrong answer). */
  private val adcCentModels =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, Seq[(Long, Seq[Float])]]]()
  private def adcCentMap(s: org.apache.spark.sql.SparkSession) =
    adcCentModels.synchronized {
      var m = adcCentModels.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Seq[Float])]]
        adcCentModels.put(s, m)
      }
      m
    }

  /** Hash-ordered centroid seeds as a (cell, c_emb) frame — the
    * q_kmeans_train seed set. */
  private def adcSeedFrame(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
        expr(cHash).as("ch"))
      .orderBy(col("ch"), col("cell")).limit(ncIvf(s, dir))
      .select(col("cell"), col("c_emb"))

  /** Convergence-derived Lloyd rounds from the hash seeds — the
    * q_kmeans_train loop carrying the MODEL instead of telemetry:
    * per round one eager assignment (persistScoped, at most two
    * pinned), one localizedModel'd update, and one exact integer
    * moved-cell count (the oracle's adep CASE verbatim); stops after
    * the first round with moved·10 < N, [[ADC_KM_MAX_ROUNDS]] guard. */
  private def trainAdcCents(
      s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Seq[Float])] = {
    val n = Tables.rowCount(s, dir, "embeddings")
    var a = kmAssign(s, dir, localizedModel(adcSeedFrame(s, dir))).persistScoped()
    var cents: org.apache.spark.sql.DataFrame = null
    var r = 1
    var converged = false
    while (r <= ADC_KM_MAX_ROUNDS && !converged) {
      cents = localizedModel(kmUpdate(a))
      // prev_cell rides the assignment (kmAssign carry, r20): the
      // moved count is one aggregate over a2's own materialization —
      // no per-round vec_id join of two persisted assignments
      val a2 = kmAssign(s, dir, cents,
        carry = Some(a.select(col("vec_id"), col("embedding"), col("cell"))))
        .persistScoped()
      val moved = a2.filter(col("cell") =!= col("prev_cell")).count()
      a.unpersist()
      a = a2
      converged = moved * 10 < n
      r += 1
    }
    a.unpersist()
    cents.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))
  }

  /** Trained coarse centroids as a (cell, c_emb) LocalRelation. */
  private[graft] def adcCents(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    adcCentMap(s).getOrElseUpdate(dir, trainAdcCents(s, dir))
      .toDF("cell", "c_emb")
  }

  /** Residuals x − c(cell(x)) as a (vec_id, embedding) frame — the
    * subtraction goes FLOAT→DOUBLE→(exact IEEE subtract)→FLOAT on both
    * engines, so the residual floats are bit-identical by construction
    * regardless of either engine's native FLOAT-FLOAT semantics. */
  private[graft] def adcResiduals(
      assign: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assign.join(broadcast(cents), "cell")
      .select(col("vec_id"),
        expr("zip_with(embedding, c_emb, (x, y) -> cast(cast(x as double) - cast(y as double) as float))")
          .as("embedding"))

  /** Residual-PQ twins of [[pqCodebookAndCodes]]: trained residual
    * codebook (model cached under `dir + "#adc"`) + the memoized
    * residual encode stream (`pq_adc_codes`; q_ann_ivfadc is the
    * designated builder, q_pq_residual_gain reuses). */
  private[graft] def adcCodebookAndCodes(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      res: org.apache.spark.sql.DataFrame,
      rebuildMemo: Boolean): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val cbRows = pqCbModelMap(s).getOrElseUpdate(dir + "#adc", trainPqCbOn(s, dir, res)).cb
    val codes = graft.io.KernelMemo(s, dir, "pq_adc_codes", rebuildMemo)(pqEncode(res, cbRows))
    (cbRows.toDF("m", "k", "cb"), codes)
  }

  /** The full trained IVFADC model for the streaming ingest tier:
    * (coarse centroids, residual codebook), training either on demand
    * (the session model caches). Bounded: |C| + M·K rows of floats —
    * the in-RAM index head a FAISS add() path holds. */
  private[graft] def ivfadcModel(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (Seq[(Long, Seq[Float])], Seq[(Int, Int, Seq[Float])]) = {
    import s.implicits._
    if (graft.io.ModelStore.isArtifactDir(s, dir)) {
      // exported artifact dir (round 20): load the persisted coarse
      // centroids + residual codebook instead of re-running the
      // corpus-scale Lloyd/PQ training; memoized through the same
      // session caches so repeated stream starts skip the read
      val cents = adcCentMap(s).getOrElseUpdate(dir,
        graft.io.ModelStore.loadIvfadc(s, dir).get._1)
      val cb = pqCbModelMap(s).getOrElseUpdate(dir + "#adc",
        PqModel(graft.io.ModelStore.loadIvfadc(s, dir).get._2, Seq.empty)).cb
      return (cents, cb)
    }
    val centRows = adcCentMap(s).getOrElseUpdate(dir, trainAdcCents(s, dir))
    val cents = centRows.toDF("cell", "c_emb")
    val res = adcResiduals(kmAssign(s, dir, cents), cents)
    val model = pqCbModelMap(s).getOrElseUpdate(dir + "#adc", trainPqCbOn(s, dir, res))
    (centRows, model.cb)
  }

  /** The `ivfadc_encode(v, <cells>, <cents>, <codebook>)` SQL call for a
    * driver-side model — the [[pqCodesSql]] float-literal rendering
    * (string→float parses exactly); the built expression carries the
    * model as a REFERENCE object, so the literals exist only at parse
    * time (never inside generated code — the r14 janino-64KB lesson).
    * A production ingest at large \|C\| constructs the expression
    * directly from the model instead of through SQL text. */
  private[graft] def ivfadcEncodeSql(
      vecCol: String,
      cents: Seq[(Long, Seq[Float])],
      cbRows: Seq[(Int, Int, Seq[Float])]): String = {
    // The expression routes with a FLAT exact argmax; the batch pipeline
    // switches to the SRP radius-2 PRUNED candidate set past
    // PRUNE_SWITCH_C, where the two would no longer be bit-identical
    // (the pruned set agrees with the flat argmax on ~85% of vectors).
    // Narrowed contract (r15 ADVICE): the stream twin is only offered
    // below the switch — a larger coarse quantizer must implement the
    // same two-level routing in the expression first.
    require(cents.length <= PRUNE_SWITCH_C,
      s"ivfadc_encode flat routing is only batch-identical for |C| <= $PRUNE_SWITCH_C " +
        s"(got ${cents.length}); the batch pipeline prunes past the switch")
    val sortedC = cents.sortBy(_._1)
    val cellsLit = sortedC.map(c => s"cast(${c._1} as bigint)")
      .mkString("array(", ", ", ")")
    val centsLit = sortedC
      .map(_._2.map(f => s"cast('$f' as float)").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    val byM = cbRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
      rows.sortBy(_._2).map(_._3)
    }
    val cbLit = byM.map(ks =>
      ks.map(_.map(f => s"cast('$f' as float)").mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    s"ivfadc_encode($vecCol, $cellsLit, $centsLit, $cbLit)"
  }

  /** Residual-IVFADC oracle CTE block: trained-centroid rounds →
    * final assignment → residual vectors → the residual PQ chain
    * (prefix `r`: rcb / rcodes). Shared verbatim by q_ann_ivfadc and
    * q_pq_residual_gain — one formulation. */
  private lazy val adcBaseCtes: String = {
    // convergence-derived coarse-quantizer depth (round 16, the PQ-chain
    // rule over CORPUS assignments): unroll to the max-rounds guard,
    // derive the executed depth from exact integer moved counts, select
    // the final centroids (atf) and assignment (adcassign = the already-
    // computed aa at that depth) conditionally
    val rounds = (1 to ADC_KM_MAX_ROUNDS).map { r =>
      s"""at$r AS MATERIALIZED (
         |  ${duckKmUpdate(s"aa${r - 1}")}
         |), aa$r AS MATERIALIZED (
         |  ${duckKmAssign(s"at$r")}
         |)""".stripMargin
    }.mkString(", ")
    val movedSel = (1 to ADC_KM_MAX_ROUNDS).map { r =>
      s"""(SELECT count(*) FROM aa${r - 1} a JOIN aa$r b
         |    ON b.vec_id = a.vec_id WHERE b.cell <> a.cell) AS m$r""".stripMargin
    }.mkString(",\n  ")
    val depthCase = (1 until ADC_KM_MAX_ROUNDS)
      .map(r => s"WHEN m$r * 10 < n THEN $r").mkString(" ")
    val atfArms = (1 to ADC_KM_MAX_ROUNDS).map(r =>
      s"SELECT cell, c_emb FROM at$r WHERE (SELECT r FROM adep) = $r")
      .mkString("\n  UNION ALL ")
    val asgArms = (1 to ADC_KM_MAX_ROUNDS).map(r =>
      s"SELECT vec_id, embedding, cell FROM aa$r WHERE (SELECT r FROM adep) = $r")
      .mkString("\n  UNION ALL ")
    s"""acents0 AS MATERIALIZED (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
       |), aa0 AS MATERIALIZED (
       |  ${duckKmAssign("acents0")}
       |), $rounds, amv AS (
       |  SELECT $movedSel,
       |  (SELECT count(*) FROM embeddings) AS n
       |), adep AS (
       |  SELECT CASE $depthCase ELSE $ADC_KM_MAX_ROUNDS END AS r FROM amv
       |), atf AS MATERIALIZED (
       |  $atfArms
       |), adcassign AS MATERIALIZED (
       |  $asgArms
       |), adcres AS MATERIALIZED (
       |  SELECT a.vec_id, list_transform(generate_series(1, 64),
       |    i -> CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE) AS FLOAT)) AS embedding
       |  FROM adcassign a JOIN atf c ON c.cell = a.cell
       |), ${pqChainCtes("adcres", "r")}""".stripMargin
  }

  /** 4-bit random-hyperplane LSH bucket as a flat codegen'd column: the
    * hyperplane weights are plan-time constants (same CrossHash-derived
    * pseudo-randoms the oracle recomputes per row), and each plane is a
    * 64-term double sum in the HOF's left-fold order — bit-identical
    * values, but inside WholeStageCodegen instead of 4x64 interpreted
    * lambda calls plus 256 md5s per row. */
  private def bucketCol(v: String): org.apache.spark.sql.Column =
    // same native loop as [[semCellCol]], distinct `j#i` seed family
    expr(s"plane_cell($v, 4, '')")

  private def duckBucket(v: String): String =
    s"""list_sum(list_transform(generate_series(0, 3), j ->
       |  CASE WHEN list_reduce(list_transform(generate_series(1, 64),
       |      i -> (((${duck("j::VARCHAR || '#' || i::VARCHAR")} % 2001) - 1000) / 1000.0)
       |        * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) >= 0
       |  THEN (1 << j) ELSE 0 END))::INT""".stripMargin

  /** Shared oracle texts (the recall query composes them verbatim as
    * derived tables). */
  private val topkOracleSql: String =
    s"""WITH q AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
      |)
      |SELECT query_id, cand_id, rn, CAST(dot AS DOUBLE) AS dot FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    ${duckDot("q.embedding", "c.embedding")} AS dot,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY ${duckDot("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
      |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
      |) WHERE rn <= 10""".stripMargin

  private val lshOracleSql: String =
    s"""WITH bucketed AS (
      |  SELECT vec_id, embedding, ${duckBucket("embedding")} AS bucket FROM embeddings
      |), q AS (
      |  SELECT vec_id, embedding, bucket FROM bucketed
      |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
      |)
      |SELECT query_id, cand_id, bucket, rn, CAST(dot AS DOUBLE) AS dot FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.bucket AS bucket,
      |    ${duckDot("q.embedding", "c.embedding")} AS dot,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY ${duckDot("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
      |  FROM q JOIN bucketed c
      |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      |) WHERE rn <= 3""".stripMargin

  private val baseQueries: Seq[Q] = Seq(

    // ---- brute-force top-10 by exact decimal dot ---------------------------
    Q(
      "q_ann_topk",
      topkOracleSql) { (s, dir) => annKernel(s, dir, "q_ann_topk") {
      // two-phase: score every pair with the codegen'd DOUBLE dot (the
      // 64-term double sum is within ~1e-13 of the exact decimal dot),
      // keep everything within 1e-9 of the 10th-best, and compute the
      // exact DECIMAL dot only on those ~10/query survivors. Arrays are
      // projected away before the ranking shuffle, so the window moves
      // 24-byte rows, not 256-byte vectors. The query set is a fixed-|Q|
      // hash-ordered LIMIT (distributed TakeOrdered), so broadcast(q) is
      // bounded by construction at any corpus size.
      val e = Tables(s, dir, "embeddings")
      val q = e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"))
      val scored = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
        .join(broadcast(q), col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), expr("dot_f(q_emb, c_emb)").as("ddot"))
      // per-query 10th-best double score via the bounded-heap TopK
      // aggregate: O(k) state with map-side partials — never a full
      // sort-shuffle of the |Q| x |V| score stream. The threshold and
      // survivor frames stay UNHINTED out of habit-forming caution
      // (AQE broadcasts them at runtime from observed sizes).
      val topk10 = udaf(
        new graft.functions.Aggregators.TopK(10),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
      val th = scored.groupBy(col("query_id").as("t_qid"))
        .agg(topk10(col("ddot"), col("cand_id")).as("tk"))
        .select(col("t_qid"), expr("element_at(tk, 10)._1").as("th"))
      val surv = scored
        .join(th, col("query_id") === col("t_qid"))
        .filter(col("th").isNull || col("ddot") >= col("th") - 1e-9)
        .select(col("query_id"), col("cand_id"))
      e.join(surv, col("vec_id") === col("cand_id"))
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("cand_id"), expr(dot("q_emb", "embedding")).as("dot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("cand_id"))))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("cand_id"), col("rn"), col("dot").cast("double").as("dot"))
    }},

    // ---- hard-negative mining (contrastive training prep) ------------------
    // For each anchor, the most-similar vectors with a DIFFERENT label —
    // the negatives that actually move a contrastive loss (near the
    // decision boundary, not random). Same two-phase brute-force shape
    // as q_ann_topk with the label-disequality folded into the broadcast
    // join, so the |Q|×|V| stream only ever carries cross-label pairs;
    // exact DECIMAL rank on the ~3/query survivors. At 100 TB this is
    // the same scan-parallel plan as the top-k baseline.
    Q(
      "q_hard_negatives",
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |)
        |SELECT query_id, q_label, cand_id, c_label, rn, CAST(dot AS DOUBLE) AS dot FROM (
        |  SELECT q.query_id, q.q_label, v.vec_id AS cand_id, v.label AS c_label,
        |    ${duckDot("q.q_emb", "v.embedding")} AS dot,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY ${duckDot("q.q_emb", "v.embedding")} DESC, v.vec_id) AS rn
        |  FROM q JOIN embeddings v ON v.label <> q.q_label
        |) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"), expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"), col("q_label"))
      val scored = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
          col("label").as("c_label"))
        .join(broadcast(q), col("q_label") =!= col("c_label"))
        .select(col("query_id"), col("cand_id"), expr("dot_f(q_emb, c_emb)").as("ddot"))
      val topk3 = udaf(
        new graft.functions.Aggregators.TopK(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
      val th = scored.groupBy(col("query_id").as("t_qid"))
        .agg(topk3(col("ddot"), col("cand_id")).as("tk"))
        .select(col("t_qid"), expr("element_at(tk, 3)._1").as("th"))
      val surv = scored
        .join(th, col("query_id") === col("t_qid"))
        .filter(col("th").isNull || col("ddot") >= col("th") - 1e-9)
        .select(col("query_id"), col("cand_id"))
      e.join(surv, col("vec_id") === col("cand_id"))
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("q_label"), col("cand_id"),
          col("label").as("c_label"), expr(dot("q_emb", "embedding")).as("dot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("cand_id"))))
        .filter(col("rn") <= 3)
        .select(col("query_id"), col("q_label"), col("cand_id"), col("c_label"),
          col("rn"), col("dot").cast("double").as("dot"))
    },

    // ---- LSH-bucketed top-3 (the scale path) -------------------------------
    Q(
      "q_ann_lsh",
      lshOracleSql) { (s, dir) => annKernel(s, dir, "q_ann_lsh") {
      // persist: the bucketed frame feeds both the query and candidate
      // sides of the bucket-equi-join
      val bucketed = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), bucketCol("embedding").cast("int").as("bucket"))
        .persistScoped()
      val q = bucketed
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"),
          expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"), col("bucket"))
      val c = bucketed
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("bucket").as("c_bucket"))
      c.join(broadcast(q), col("bucket") === col("c_bucket") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), col("bucket"), expr(dot("q_emb", "c_emb")).as("dot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("cand_id"))))
        .filter(col("rn") <= 3)
        .select(col("query_id"), col("cand_id"), col("bucket"), col("rn"), col("dot").cast("double").as("dot"))
    }},

    // ---- IVF-style ANN: inverted file by nearest centroid ------------------
    // Deterministic "training-free" IVF: a fixed-|C| hash-ordered
    // centroid subset, every vector assigned to its nearest centroid
    // (exact decimal dot, ties to the lowest centroid id) — the
    // inverted-file cells. Queries probe only their own cell. At scale
    // the assignment is one broadcast-centroids map stage and the probe
    // a cell-equi-join — same shapes as production IVF with trained
    // centroids.
    Q(
      "q_ann_ivf",
      s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), cand AS (
        |  ${duckPrunedCand("cents")}
        |), assign AS (
        |  SELECT vec_id, embedding, c_id AS cell FROM (
        |    SELECT vec_id, embedding, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM cand
        |  ) WHERE crn = 1
        |), q AS (
        |  SELECT vec_id, embedding, cell FROM assign
        |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |)
        |SELECT query_id, cand_id, cell, rn, CAST(dot AS DOUBLE) AS dot FROM (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id, q.cell,
        |    ${duckDot("q.embedding", "x.embedding")} AS dot,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${duckDot("q.embedding", "x.embedding")} DESC, x.vec_id) AS rn
        |  FROM q JOIN assign x
        |    ON q.cell = x.cell AND q.vec_id <> x.vec_id
        |) WHERE rn <= 5""".stripMargin) { (s, dir) => annKernel(s, dir, "q_ann_ivf") {
      val e = Tables(s, dir, "embeddings")
      val cents = localizedModel(
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("c_id")).limit(ncIvf(s, dir))
          .select(col("c_id"), col("c_emb")))
      // two-phase assignment via the shared kmAssign kernel (r20): at
      // the flat arm the whole reduction is the zero-exchange best_cell
      // map; past PRUNE_SWITCH_C it stays the windowed argmax over the
      // PRUNED candidate stream ([[prunedScores]]: SRP-cell probe hits
      // + the anchor cross — O(log|C|) candidates per vector instead of
      // the |V| x |C| scan). Exact DECIMAL dot runs only on the ~1
      // surviving centroid per vector (margin 1e-9 >> the double dot's
      // ~1e-13 error, so the exact ranking is unaffected).
      val assign = kmAssign(s, dir,
          cents.select(col("c_id").as("cell"), col("c_emb")))
        .persistScoped() // assignment feeds both probe sides
      // fixed-|Q| probe set: assign has exactly one row per vector, so
      // the hash-ordered LIMIT picks the same ids as over the raw scan
      val q = assign
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cell"),
          expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"), col("cell"))
      assign
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb2"), col("cell").as("x_cell"))
        // unhinted equi-join on the cell — AQE broadcasts the bounded
        // probe side at runtime
        .join(q, col("cell") === col("x_cell") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), col("cell"),
          expr(dot("q_emb", "c_emb2")).as("dot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("cand_id"))))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("cand_id"), col("cell"), col("rn"), col("dot").cast("double").as("dot"))
    }},

    // ---- forced two-level assignment (the 100 TB scale path, verified) -----
    // The corpus-derived switch keeps q_ann_ivf/q_ann_kmeans on the
    // flat scan below PRUNE_SWITCH_C, which would leave the pruned
    // branch oracle-dead at test scale — this query FORCES the
    // two-level rule (SRP cells at semBits(|C|), radius-2 centroid-side
    // expansion, anchor floor) regardless of corpus size and hash-gates
    // its full per-cell assignment histogram against the DuckDB mirror.
    // PrunedAssignSpec pins the geometry (anchor-degenerate identity,
    // candidate bounds, flat-argmax agreement); this pins the
    // cross-engine rule itself.
    Q(
      "q_ivf_pruned_assign",
      s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), cand AS (
        |  ${duckPrunedCandForced("cents")}
        |), assign AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM cand
        |  ) WHERE crn = 1
        |)
        |SELECT cell, count(*) AS n_members, min(vec_id) AS min_member
        |FROM assign GROUP BY cell""".stripMargin) { (s, dir) =>
      annKernel(s, dir, "q_ivf_pruned_assign") {
      val e = Tables(s, dir, "embeddings")
      val cents = localizedModel(
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("c_id")).limit(ncIvf(s, dir))
          .select(col("c_id"), col("c_emb")))
      val ddots = prunedScores(
        e.select(col("vec_id"), col("embedding")), cents, pruneBits(s, dir))
      val best = ddots
        .withColumn("mx", max(col("cdd")).over(Window.partitionBy(col("vec_id"))))
        .filter(col("cdd") >= col("mx") - 1e-9)
        .select(col("vec_id").as("b_vec"), col("c_id"))
      e.join(best, col("vec_id") === col("b_vec"))
        .join(broadcast(cents), "c_id")
        .select(col("vec_id"), col("c_id"),
          expr(dot("embedding", "c_emb")).as("cdot"))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cdot").desc, col("c_id"))))
        .filter(col("crn") === 1)
        .groupBy(col("c_id").as("cell"))
        .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
    }},

    // ---- IVF index balance (the re-train trigger) --------------------------
    // The health check an IVF deployment watches: the cell-SIZE
    // distribution in power-of-two buckets (the q_skew_profile integer
    // formula) plus the max/mean imbalance factor. A fat cell means
    // probe latency concentrates (queries landing there scan the big
    // list) and is the signal that triggers centroid re-training or
    // cell splitting. One bounded aggregate over the memoized forced
    // two-level assignment histogram (builder: q_ivf_pruned_assign) —
    // |C| input rows, nothing touches the corpus. Imbalance =
    // max/mean cell size: int-derived doubles, one identical division.
    Q(
      "q_ivf_cell_balance",
      s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), cand AS (
        |  ${duckPrunedCandForced("cents")}
        |), assign AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM cand
        |  ) WHERE crn = 1
        |), cellsz AS (
        |  SELECT cell, count(*) AS n_members FROM assign GROUP BY cell
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(n_members) AS BIGINT) AS n_assigned,
        |    CAST(max(n_members) AS BIGINT) AS max_cell
        |  FROM cellsz
        |)
        |SELECT length(bin(n_members)) - 1 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_cells_in_bucket,
        |  min(n_members) AS min_sz, max(n_members) AS max_sz,
        |  any_value(t.n_cells) AS n_cells,
        |  CAST(any_value(t.max_cell) AS DOUBLE)
        |    / (CAST(any_value(t.n_assigned) AS DOUBLE) / any_value(t.n_cells))
        |    AS imbalance
        |FROM cellsz CROSS JOIN tot t
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val cellsz = annReuse(s, dir, "q_ivf_pruned_assign")
        .select(col("cell"), col("n_members"))
      val tot = cellsz.agg(
        count(lit(1)).cast("bigint").as("n_cells"),
        sum(col("n_members")).cast("bigint").as("n_assigned"),
        max(col("n_members")).cast("bigint").as("max_cell"))
      cellsz.crossJoin(broadcast(tot))
        .select(col("n_members"),
          (length(expr("bin(n_members)")) - 1).cast("long").as("bucket"),
          col("n_cells"), col("n_assigned"), col("max_cell"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).cast("bigint").as("n_cells_in_bucket"),
          min(col("n_members")).as("min_sz"), max(col("n_members")).as("max_sz"),
          first(col("n_cells")).as("n_cells"),
          (first(col("max_cell")).cast("double")
            / (first(col("n_assigned")).cast("double") / first(col("n_cells"))))
            .as("imbalance"))
    },

    // ---- trained-centroid IVF: one deterministic k-means step --------------
    // Lloyd's iteration, fully cross-engine: assign every vector to its
    // nearest seed centroid (exact DECIMAL dot, ties to lowest id),
    // recompute each cell's centroid as the element-wise mean (DECIMAL
    // sums -> DOUBLE division, order-independent), then REASSIGN against
    // the trained centroids (cast to float, identically in both engines)
    // and report the cell movement. At scale each phase is the shape it
    // must be: broadcast-centroids map stage, one (cell, dim) shuffle,
    // broadcast-trained-centroids map stage.
    Q(
      "q_ann_kmeans",
      s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), cand1 AS (
        |  ${duckPrunedCand("cents")}
        |), assign1 AS (
        |  SELECT vec_id, embedding, c_id AS cell FROM (
        |    SELECT vec_id, embedding, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM cand1
        |  ) WHERE crn = 1
        |), trained AS (
        |  SELECT cell, list_transform(
        |      list_sort(list(struct_pack(dim := dim, mean := mean))),
        |      r -> CAST(r.mean AS FLOAT)) AS t_emb
        |  FROM (
        |    SELECT cell, dim,
        |      CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS DOUBLE)
        |        / count(*) AS mean
        |    FROM (SELECT cell, i - 1 AS dim, embedding[i] AS x
        |          FROM assign1, unnest(generate_series(1, len(embedding))) AS t(i))
        |    GROUP BY cell, dim)
        |  GROUP BY cell
        |), cand2 AS (
        |  ${duckPrunedCand("(SELECT cell AS c_id, t_emb AS c_emb FROM trained)")}
        |), assign2 AS (
        |  SELECT vec_id, cell1, t_cell AS cell2 FROM (
        |    SELECT c.vec_id, a.cell AS cell1, c.c_id AS t_cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY ${duckDot("c.embedding", "c.c_emb")} DESC, c.c_id) AS crn
        |    FROM cand2 c JOIN assign1 a ON a.vec_id = c.vec_id
        |  ) WHERE crn = 1
        |)
        |SELECT cell2 AS cell, count(*) AS n_members,
        |  CAST(sum(CASE WHEN cell1 <> cell2 THEN 1 ELSE 0 END) AS BIGINT) AS moved,
        |  min(vec_id) AS min_member
        |FROM assign2 GROUP BY cell2""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      // r20: both assignment phases route through the SHARED kmAssign
      // kernel (identical two-phase formulation this query previously
      // inlined — double prefilter over the switched score stream +
      // exact-DECIMAL re-rank, ties to lowest cell): at the flat arm
      // each assignment is now the zero-exchange best_cell map, and the
      // moved count rides the carry (prev_cell) instead of the window +
      // double join-back + assign1-join pipeline. kmUpdate IS the
      // centroid update this query inlined (same (18,8)/(28,8) DECIMAL
      // mean recipe). Oracle text unchanged.
      val cents = localizedModel(
        e.select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("cell")).limit(ncIvf(s, dir))
          .select(col("cell"), col("c_emb")))
      val assign1 = kmAssign(s, dir, cents)
        .persistScoped() // feeds centroid update AND reassignment
      val trained = localizedModel(kmUpdate(assign1))
      val assign2 = kmAssign(s, dir, trained, carry = Some(assign1))
      assign2.groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n_members"),
          sum(when(col("prev_cell") =!= col("cell"), 1).otherwise(0)).cast("bigint").as("moved"),
          min(col("vec_id")).as("min_member"))
    },

    // ---- multi-probe IVF: queries probe their 2 nearest cells --------------
    // The recall knob production IVF turns first: candidates stay in
    // their single nearest cell, queries fan out to nprobe=2 cells. Same
    // scale shape as q_ann_ivf (broadcast centroids, cell-equi-join) with
    // 2x the probe work and none on the indexing side. Top-2 cell choice
    // uses the same double-prefilter + exact-DECIMAL rank as the
    // single-probe assignment, so the oracle mirrors it exactly.
    Q(
      "q_ann_ivf_multiprobe",
      s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), cand AS (
        |  ${duckPrunedCand("cents")}
        |), ranked AS (
        |  SELECT vec_id, embedding, c_id, crn FROM (
        |    SELECT vec_id, embedding, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM cand
        |  ) WHERE crn <= 2
        |), assign AS (
        |  SELECT vec_id, embedding, c_id AS cell FROM ranked WHERE crn = 1
        |), qids AS (
        |  SELECT vec_id FROM embeddings ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |), probes AS (
        |  SELECT vec_id, embedding, c_id AS cell FROM ranked
        |  WHERE vec_id IN (SELECT vec_id FROM qids)
        |)
        |SELECT query_id, cand_id, rn, CAST(dot AS DOUBLE) AS dot FROM (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
        |    ${duckDot("q.embedding", "x.embedding")} AS dot,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY ${duckDot("q.embedding", "x.embedding")} DESC, x.vec_id) AS rn
        |  FROM probes q JOIN assign x
        |    ON q.cell = x.cell AND q.vec_id <> x.vec_id
        |) WHERE rn <= 5""".stripMargin) { (s, dir) =>
      annKernel(s, dir, "q_ann_ivf_multiprobe") {
      val e = Tables(s, dir, "embeddings")
      val cents = localizedModel(
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("c_id")).limit(ncIvf(s, dir))
          .select(col("c_id"), col("c_emb")))
      // top-2 cells per vector via topCellsRanked: the zero-exchange
      // BestCells map at the flat arm (r21), the TopK-prefilter +
      // exact-DECIMAL window past the switch. The anchor floor
      // (ANN_ANCHOR = 8 >= 2) keeps every vector's candidate set large
      // enough for a top-2 on the pruned arm.
      val ranked = topCellsRanked(s, dir, e, cents, 2)
        .persistScoped() // feeds the candidate index AND the probe fan-out
      val assign = ranked.filter(col("crn") === 1)
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb2"), col("c_id").as("x_cell"))
      // probes keep BOTH ranked cells of each query vector, so the
      // fixed-|Q| id set is a hash-ordered LIMIT over the raw scan,
      // semi-joined against ranked (a LIMIT over ranked would bound
      // rows, not vectors)
      val qids = e.select(col("vec_id"), expr(qHash).as("qh"))
        .orderBy(col("qh"), col("vec_id")).limit(nq(s, dir))
        .select(col("vec_id").as("q_vec"))
      val probes = ranked.join(qids, col("vec_id") === col("q_vec"), "left_semi")
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("c_id").as("cell"))
      assign
        // probes descend from the full ranked assignment: unhinted, AQE
        // broadcasts the bounded probe fan-out at runtime only
        .join(probes, col("cell") === col("x_cell") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), expr(dot("q_emb", "c_emb2")).as("dot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("cand_id"))))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("cand_id"), col("rn"), col("dot").cast("double").as("dot"))
    }},

    // ---- product quantization with ADC scoring (the IVF-PQ memory path) ----
    // PQ is what makes billion-vector ANN fit in memory: each 64-float
    // vector compresses to M=8 one-byte codes (a 32x reduction) by
    // quantizing each 8-dim subvector to its nearest codebook entry,
    // and queries score candidates with Asymmetric Distance Computation
    // — a per-query lookup table of (subspace, code) partial dots, so a
    // candidate's approximate score is 8 table lookups instead of a
    // 64-term float dot (Jégou et al. 2011, public method). Determinism:
    // training-free codebooks (the m-subvectors of a fixed hash-ordered
    // seed set — the cents0 pattern), all partial dots exact DECIMAL,
    // ADC = exact DECIMAL sum of 8 LUT terms, ties to the lowest
    // code/candidate. Output carries the exact full dot per hit so the
    // approximation error is visible. At scale: codebooks and LUTs are
    // bounded broadcasts, encoding is a per-row stream against the
    // broadcast codebook (the IVF assignment shape), and ADC scoring
    // shuffles only (query, cand, 8 scalars).
    Q(
      "q_ann_pq",
      s"""WITH $pqBaseCtes, q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |), lut AS (
        |  SELECT q.query_id, c.m, c.k AS code,
        |    list_sum(list_transform(generate_series(1, $PQ_DS),
        |      i -> ${duckProd12(s"q.q_emb[c.m * $PQ_DS + i]", "c.cb[i]")})) AS ldot
        |  FROM q CROSS JOIN cb c
        |), adc AS (
        |  SELECT l.query_id, cd.vec_id AS cand_id,
        |    sum(CAST(l.ldot AS DECIMAL(28,12))) AS adc
        |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
        |  WHERE l.query_id <> cd.vec_id
        |  GROUP BY 1, 2
        |)
        |SELECT t.query_id, t.cand_id, t.rn,
        |  CAST(CAST(t.adc AS DECIMAL(18,12)) AS DOUBLE) AS adc,
        |  CAST(${duckDot("q.q_emb", "v.embedding")} AS DOUBLE) AS exact_dot
        |FROM (
        |  SELECT query_id, cand_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rn
        |  FROM adc) t
        |JOIN q ON q.query_id = t.query_id
        |JOIN embeddings v ON v.vec_id = t.cand_id
        |WHERE t.rn <= 3""".stripMargin) { (s, dir) => annKernel(s, dir, "q_ann_pq") {
      // encode: per-(vector, subspace) min-L2 quantization over the
      // broadcast TRAINED codebook — a scalar stream of M*K rows per
      // vector (the IVF assignment shape), exact DECIMAL on 8-term
      // dots is cheap enough to skip the double prefilter
      val (cb, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = true)
      pqAdcTop(s, dir, cb, codes)
    }},

    // ---- IVF-PQ: cell-routed candidates scored by ADC ----------------------
    // The combined index the PQ machinery exists FOR (FAISS
    // IndexIVFPQ, Jégou et al. 2011): queries probe their IVF cell —
    // the same deterministic assignment as q_ann_ivf, corpus-derived
    // |C|, two-level switch and all — and the probed candidates are
    // scored by Asymmetric Distance Computation against the TRAINED
    // codebook codes instead of the full float vectors. At scale this
    // is the memory shape that serves billion-vector ANN: the inverted
    // file bounds candidates per query to ~N/|C|, the codes are 8
    // bytes per vector, and the exact float rerank touches only the
    // ≤ |Q|·3 survivors. Determinism: assignment and encode reuse the
    // proven kernels verbatim; ADC is the exact-DECIMAL sum of 8 LUT
    // terms with ties to the lowest candidate.
    Q(
      "q_ann_ivfpq",
      s"""WITH $pqBaseCtes, cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), icand AS (
        |  ${duckPrunedCand("cents")}
        |), assign AS (
        |  SELECT vec_id, embedding, c_id AS cell FROM (
        |    SELECT vec_id, embedding, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM icand
        |  ) WHERE crn = 1
        |), q AS (
        |  SELECT vec_id, embedding, cell FROM assign
        |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |), p AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id
        |  FROM q JOIN assign x ON q.cell = x.cell AND q.vec_id <> x.vec_id
        |), lut AS (
        |  SELECT q.vec_id AS query_id, c.m, c.k AS code,
        |    list_sum(list_transform(generate_series(1, $PQ_DS),
        |      i -> ${duckProd12(s"q.embedding[c.m * $PQ_DS + i]", "c.cb[i]")})) AS ldot
        |  FROM q CROSS JOIN cb c
        |), adc AS (
        |  SELECT p.query_id, p.cand_id,
        |    sum(CAST(l.ldot AS DECIMAL(28,12))) AS adc
        |  FROM p JOIN codes cd ON cd.vec_id = p.cand_id
        |  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
        |  GROUP BY 1, 2
        |)
        |SELECT t.query_id, t.cand_id, t.rn,
        |  CAST(CAST(t.adc AS DECIMAL(18,12)) AS DOUBLE) AS adc,
        |  CAST(${duckDot("q.embedding", "v.embedding")} AS DOUBLE) AS exact_dot
        |FROM (
        |  SELECT query_id, cand_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rn
        |  FROM adc) t
        |JOIN q ON q.vec_id = t.query_id
        |JOIN embeddings v ON v.vec_id = t.cand_id
        |WHERE t.rn <= 3""".stripMargin) { (s, dir) => annKernel(s, dir, "q_ann_ivfpq") {
      val e = Tables(s, dir, "embeddings")
      val cents = localizedModel(
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("c_id")).limit(ncIvf(s, dir))
          .select(col("c_id"), col("c_emb")))
      // IDENTICAL assignment pipeline to q_ann_ivf — via the shared
      // kmAssign kernel (r20): two-phase pruned scores + exact-DECIMAL
      // tie-break, zero-exchange best_cell map at the flat arm
      val assign = kmAssign(s, dir,
          cents.select(col("c_id").as("cell"), col("c_emb")))
        .persistScoped() // feeds the probe side and the candidate side
      val q = assign
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cell"),
          expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"), col("cell"))
      // trained codebook + memoized encode (q_ann_pq is the builder)
      val (cb, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = false)
      // driver-localized like the centroid models, so the broadcast
      // below pins a bounded model frame
      val lut = localizedModel(pqLut(q, cb))
      // cell-routed candidate pairs: the IVF prune happens BEFORE any
      // PQ work — codes join only the probed candidates
      val p = assign
        .select(col("vec_id").as("cand_id"), col("cell").as("x_cell"))
        .join(q.select(col("query_id"), col("cell")),
          col("cell") === col("x_cell") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"))
      val adc = p
        .join(codes, col("cand_id") === col("vec_id"))
        .join(broadcast(lut), Seq("query_id", "m", "code"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(sum(col("ldot").cast("decimal(28,12)")).as("adc"))
      // <= |Q|·3 survivors, driver-localized for the same reason
      val top = localizedModel(adc
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("cand_id"))))
        .filter(col("rn") <= 3))
      e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
        .join(broadcast(top), "cand_id")
        .join(broadcast(q.select(col("query_id"), col("q_emb"))), "query_id")
        .select(col("query_id"), col("cand_id"), col("rn"),
          col("adc").cast("decimal(18,12)").cast("double").as("adc"),
          expr(dot("q_emb", "c_emb")).cast("double").as("exact_dot"))
    }},

    // ---- residual IVFADC: trained coarse quantizer + PQ on residuals -------
    // The full FAISS IndexIVFPQ build (Jégou et al. 2011 §III):
    // q_ann_ivfpq routes by HASH-SEEDED cells and quantizes RAW
    // vectors; this is the production shape — the coarse quantizer is
    // Lloyd-TRAINED (2 rounds, the q_kmeans_train pipeline), every
    // vector's RESIDUAL x − c(cell(x)) is product-quantized (residuals
    // carry ~13% less energy under the trained quantizer, so the same
    // M·K budget reconstructs strictly better — q_pq_residual_gain),
    // and ADC adds the per-query cell-centroid offset q·c back so the
    // score approximates the true dot: q·x ≈ q·c + Σ_m q_m·cb_r[code].
    // Within one probed cell the offset is constant per query, so the
    // RANKING improvement comes entirely from the smaller quantization
    // error of the residual codes. Determinism: assignment is the
    // proven kmAssign kernel, training/encode reuse the PQ machinery
    // verbatim over the residual frame, residual floats go
    // FLOAT→DOUBLE→subtract→FLOAT (bit-identical in both engines), and
    // the offset + LUT sum is exact DECIMAL(18,12) addition.
    Q(
      "q_ann_ivfadc",
      s"""WITH $adcBaseCtes, q AS (
        |  SELECT vec_id, embedding, cell FROM adcassign
        |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |), lut AS (
        |  SELECT q.vec_id AS query_id, c.m, c.k AS code,
        |    list_sum(list_transform(generate_series(1, $PQ_DS),
        |      i -> ${duckProd12(s"q.embedding[c.m * $PQ_DS + i]", "c.cb[i]")})) AS ldot
        |  FROM q CROSS JOIN rcb c
        |), qc AS (
        |  SELECT q.vec_id AS query_id,
        |    CAST(${duckDot("q.embedding", "c.c_emb")} AS DECIMAL(18,12)) AS qcd
        |  FROM q JOIN atf c ON c.cell = q.cell
        |), p AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id
        |  FROM q JOIN adcassign x ON q.cell = x.cell AND q.vec_id <> x.vec_id
        |), adc AS (
        |  SELECT p.query_id, p.cand_id,
        |    CAST(qc.qcd + CAST(sum(CAST(l.ldot AS DECIMAL(28,12))) AS DECIMAL(18,12))
        |      AS DECIMAL(18,12)) AS adc
        |  FROM p JOIN rcodes cd ON cd.vec_id = p.cand_id
        |  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
        |  JOIN qc ON qc.query_id = p.query_id
        |  GROUP BY p.query_id, p.cand_id, qc.qcd
        |)
        |SELECT t.query_id, t.cand_id, t.rn,
        |  CAST(t.adc AS DOUBLE) AS adc,
        |  CAST(${duckDot("q.embedding", "v.embedding")} AS DOUBLE) AS exact_dot
        |FROM (
        |  SELECT query_id, cand_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rn
        |  FROM adc) t
        |JOIN q ON q.vec_id = t.query_id
        |JOIN embeddings v ON v.vec_id = t.cand_id
        |WHERE t.rn <= 3""".stripMargin) { (s, dir) => annKernel(s, dir, "q_ann_ivfadc") {
      val e = Tables(s, dir, "embeddings")
      val cents = adcCents(s, dir)
      // feeds the residual frame, the query slice and the candidate side
      val assign = kmAssign(s, dir, cents).persistScoped()
      val res = adcResiduals(assign, cents)
      val (cb, codes) = adcCodebookAndCodes(s, dir, res, rebuildMemo = true)
      val q = assign
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cell"),
          expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"), col("cell"))
      // the |Q|-bounded frames below are driver-localized (the
      // q_ann_ivfpq rule), so each broadcast pins a bounded model frame
      val lut = localizedModel(pqLut(q, cb))
      val qc = localizedModel(q.join(broadcast(cents), "cell")
        .select(col("query_id"), expr(dot("q_emb", "c_emb")).cast("decimal(18,12)").as("qcd")))
      val p = assign
        .select(col("vec_id").as("cand_id"), col("cell").as("x_cell"))
        .join(q.select(col("query_id"), col("cell")),
          col("cell") === col("x_cell") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"))
      val adc = p
        .join(codes, col("cand_id") === col("vec_id"))
        .join(broadcast(lut), Seq("query_id", "m", "code"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(sum(col("ldot").cast("decimal(28,12)")).as("radc"))
        .join(broadcast(qc), "query_id")
        .select(col("query_id"), col("cand_id"),
          (col("qcd") + col("radc").cast("decimal(18,12)")).cast("decimal(18,12)").as("adc"))
      val top = localizedModel(adc
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("cand_id"))))
        .filter(col("rn") <= 3))
      e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
        .join(broadcast(top), "cand_id")
        .join(broadcast(q.select(col("query_id"), col("q_emb"))), "query_id")
        .select(col("query_id"), col("cand_id"), col("rn"),
          col("adc").cast("double").as("adc"),
          expr(dot("q_emb", "c_emb")).cast("double").as("exact_dot"))
    }},

    // ---- multi-probe IVFADC: the offset becomes load-bearing ---------------
    // q_ann_ivf_multiprobe's recall knob applied to the trained
    // residual index: queries fan out to their 2 nearest TRAINED cells,
    // candidates stay in their single cell. With candidates from TWO
    // cells in one ranking, the per-(query, cell) offset q·c is no
    // longer a constant — it is exactly what makes residual ADC scores
    // COMPARABLE across cells (the reason FAISS computes per-cell
    // LUTs); single-probe q_ann_ivfadc only reports it. Probe selection
    // runs on the BOUNDED |Q|×|C| cross (8 queries × the in-RAM
    // centroid model — exact-DECIMAL rank directly, no prefilter
    // machinery needed); everything downstream reuses the memoized
    // residual codes (q_ann_ivfadc is the builder).
    Q(
      "q_ann_ivfadc_multiprobe",
      s"""WITH $adcBaseCtes, q2 AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |), probes AS (
        |  SELECT vec_id, embedding, pcell, qcd FROM (
        |    SELECT q.vec_id, q.embedding, c.cell AS pcell,
        |      CAST(${duckDot("q.embedding", "c.c_emb")} AS DECIMAL(18,12)) AS qcd,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${duckDot("q.embedding", "c.c_emb")} DESC, c.cell) AS crn
        |    FROM q2 q CROSS JOIN atf c
        |  ) WHERE crn <= 2
        |), lut AS (
        |  SELECT q.vec_id AS query_id, c.m, c.k AS code,
        |    list_sum(list_transform(generate_series(1, $PQ_DS),
        |      i -> ${duckProd12(s"q.embedding[c.m * $PQ_DS + i]", "c.cb[i]")})) AS ldot
        |  FROM q2 q CROSS JOIN rcb c
        |), p2 AS (
        |  SELECT pr.vec_id AS query_id, x.vec_id AS cand_id, pr.pcell, pr.qcd
        |  FROM probes pr JOIN adcassign x ON x.cell = pr.pcell AND x.vec_id <> pr.vec_id
        |), adc AS (
        |  SELECT p.query_id, p.cand_id,
        |    CAST(p.qcd + CAST(sum(CAST(l.ldot AS DECIMAL(28,12))) AS DECIMAL(18,12))
        |      AS DECIMAL(18,12)) AS adc
        |  FROM p2 p JOIN rcodes cd ON cd.vec_id = p.cand_id
        |  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
        |  GROUP BY p.query_id, p.cand_id, p.qcd
        |)
        |SELECT t.query_id, t.cand_id, t.rn,
        |  CAST(t.adc AS DOUBLE) AS adc,
        |  CAST(${duckDot("q.embedding", "v.embedding")} AS DOUBLE) AS exact_dot
        |FROM (
        |  SELECT query_id, cand_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rn
        |  FROM adc) t
        |JOIN q2 q ON q.vec_id = t.query_id
        |JOIN embeddings v ON v.vec_id = t.cand_id
        |WHERE t.rn <= 3""".stripMargin) { (s, dir) =>
      annKernel(s, dir, "q_ann_ivfadc_multiprobe") {
      val e = Tables(s, dir, "embeddings")
      val cents = adcCents(s, dir)
      val assign = kmAssign(s, dir, cents)
      val res = adcResiduals(assign, cents)
      val (cb, codes) = adcCodebookAndCodes(s, dir, res, rebuildMemo = false)
      val q = e
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          expr(qHash).as("qh"))
        .orderBy(col("qh"), col("query_id")).limit(nq(s, dir))
        .select(col("query_id"), col("q_emb"))
      // |Q| × |C| exact-DECIMAL probe rank — both sides bounded models,
      // and the |Q|-bounded frames are driver-localized (the q_ann_ivfpq
      // rule), so each broadcast pins a bounded model frame
      val probes = localizedModel(q.crossJoin(broadcast(cents))
        .select(col("query_id"), col("q_emb"), col("cell").as("pcell"),
          expr(dot("q_emb", "c_emb")).as("cd"))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cd").desc, col("pcell"))))
        .filter(col("crn") <= 2)
        .select(col("query_id"), col("pcell"),
          col("cd").cast("decimal(18,12)").as("qcd")))
      val lut = localizedModel(pqLut(q, cb))
      val p = assign
        .select(col("vec_id").as("cand_id"), col("cell").as("x_cell"))
        .join(broadcast(probes),
          col("pcell") === col("x_cell") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), col("qcd"))
      val adc = p
        .join(codes, col("cand_id") === col("vec_id"))
        .join(broadcast(lut), Seq("query_id", "m", "code"))
        .groupBy(col("query_id"), col("cand_id"), col("qcd"))
        .agg(sum(col("ldot").cast("decimal(28,12)")).as("radc"))
        .select(col("query_id"), col("cand_id"),
          (col("qcd") + col("radc").cast("decimal(18,12)")).cast("decimal(18,12)").as("adc"))
      val top = localizedModel(adc
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("cand_id"))))
        .filter(col("rn") <= 3))
      e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
        .join(broadcast(top), "cand_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("cand_id"), col("rn"),
          col("adc").cast("double").as("adc"),
          expr(dot("q_emb", "c_emb")).cast("double").as("exact_dot"))
    }},

    // ---- PQ quantization distortion (per-subspace QA) ----------------------
    // The QA pass that decides whether a PQ geometry is usable: per
    // subspace, the mean and max squared reconstruction error
    // ‖v_m − c_{m,code}‖², for the TRAINED codebook AND the r13
    // hash-seeded training-free baseline side by side — `gain` =
    // mean_d2_hash / mean_d2 is the hash-gated evidence that training
    // strictly reduces distortion (VERDICT r13 #4; PqTrainSpec pins
    // gain > 1 per subspace). Each d2 expands as v·v − 2·v·c + c·c
    // with every dot the exact-DECIMAL kernel — one algebraic
    // formulation shared with the oracle, all sums exact, order-free.
    // The corpus-wide work is the two encode streams (trained codes
    // via the shared memo; baseline codes their own kernel) plus two
    // bounded (M-row) aggregates; means divide AFTER the snap, and the
    // gain is one more identical IEEE division on the snapped means.
    Q(
      "q_pq_distortion", {
        def duckDist(codes: String, cb: String) =
          s"""SELECT cd.m,
             |    CAST(list_sum(list_transform(generate_series(1, $PQ_DS),
             |        i -> ${duckProd12(s"v.embedding[cd.m * $PQ_DS + i]", s"v.embedding[cd.m * $PQ_DS + i]")}))
             |      - 2 * list_sum(list_transform(generate_series(1, $PQ_DS),
             |        i -> ${duckProd12(s"v.embedding[cd.m * $PQ_DS + i]", "c.cb[i]")}))
             |      + list_sum(list_transform(generate_series(1, $PQ_DS),
             |        i -> ${duckProd12("c.cb[i]", "c.cb[i]")}))
             |      AS DECIMAL(28,12)) AS d2
             |  FROM $codes cd
             |  JOIN embeddings v ON v.vec_id = cd.vec_id
             |  JOIN $cb c ON c.m = cd.m AND c.k = cd.code""".stripMargin
        s"""WITH $pqBaseCtes, codes0 AS (
          |  SELECT vec_id, m, k AS code FROM (
          |    SELECT v.vec_id, c.m, c.k,
          |      row_number() OVER (PARTITION BY v.vec_id, c.m
          |        ORDER BY ${duckDot8(
               s"list_transform(generate_series(1, $PQ_DS), i -> v.embedding[c.m * $PQ_DS + i])",
               "c.cb")} DESC, c.k) AS rn
          |    FROM embeddings v CROSS JOIN cb0 c
          |  ) WHERE rn = 1
          |), dist AS (
          |  ${duckDist("codes", "cb")}
          |), dist0 AS (
          |  ${duckDist("codes0", "cb0")}
          |), agg AS (
          |  SELECT m, count(*) AS n,
          |    CAST(CAST(CAST(sum(d2) AS DECIMAL(18,12)) AS DOUBLE) / count(*) AS DOUBLE) AS mean_d2,
          |    CAST(CAST(max(d2) AS DECIMAL(18,12)) AS DOUBLE) AS max_d2
          |  FROM dist GROUP BY m
          |), agg0 AS (
          |  SELECT m,
          |    CAST(CAST(CAST(sum(d2) AS DECIMAL(18,12)) AS DOUBLE) / count(*) AS DOUBLE) AS mean_d2_hash
          |  FROM dist0 GROUP BY m
          |)
          |SELECT a.m, a.n, a.mean_d2, a.max_d2, h.mean_d2_hash,
          |  CASE WHEN a.mean_d2 > 0 THEN h.mean_d2_hash / a.mean_d2 END AS gain
          |FROM agg a JOIN agg0 h ON h.m = a.m""".stripMargin
      }) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val (cb, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = false)
      val cb0 = pqSeedCb(s, dir)
      // the r13 baseline encode (max DOT against the seed codebook) as
      // its own kernel — this query is its only consumer, so reuse()
      // makes it the de-facto builder
      def build0 = e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cb0))
        .select(col("vec_id"), col("m"),
          expr(s"""cast(dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), cb)
                   * 1000000000000 as bigint) * 256 + (255 - k)""").as("pack"))
        .groupBy(col("vec_id"), col("m"))
        .agg(max(col("pack")).as("mp"))
        .select(col("vec_id"), col("m"), (lit(255) - pmod(col("mp"), lit(256))).as("code"))
      val codes0 = graft.io.KernelMemo.reuse(s, dir, "pq_codes_hash")(build0)
      def distOf(cds: org.apache.spark.sql.DataFrame,
          cbDf: org.apache.spark.sql.DataFrame) = cds
        .join(e, "vec_id")
        .join(broadcast(cbDf.withColumnRenamed("k", "code")), Seq("m", "code"))
        .select(col("m"),
          expr(s"""cast(
            dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), slice(embedding, m * $PQ_DS + 1, $PQ_DS))
            - 2 * dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), cb)
            + dot_dec(cb, cb) as decimal(28,12))""").as("d2"))
      val agg = distOf(codes, cb).groupBy(col("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("d2")).as("sum_d2"), max(col("d2")).as("max_d2"))
        .select(col("m"), col("n"),
          (col("sum_d2").cast("decimal(18,12)").cast("double") / col("n")).as("mean_d2"),
          col("max_d2").cast("decimal(18,12)").cast("double").as("max_d2"))
      val agg0 = distOf(codes0, cb0).groupBy(col("m"))
        .agg(count(lit(1)).as("n0"), sum(col("d2")).as("sum_d20"))
        .select(col("m"),
          (col("sum_d20").cast("decimal(18,12)").cast("double") / col("n0")).as("mean_d2_hash"))
      agg.join(agg0, "m")
        .select(col("m"), col("n"), col("mean_d2"), col("max_d2"), col("mean_d2_hash"),
          when(col("mean_d2") > 0, col("mean_d2_hash") / col("mean_d2")).as("gain"))
    },

    // ---- PQ training trajectory (hash-gated Lloyd convergence) -------------
    // The q_kmeans_train / q_classifier_train pattern applied to PQ
    // codebook training: per round, the TRAINING SAMPLE's total squared
    // reconstruction error (exact-DECIMAL sum, the q_pq_distortion
    // formula) and the number of (vector, subspace) codes that moved —
    // so the hash gate verifies the whole training trajectory, not just
    // the final model (any divergence in seeding, assignment ties, the
    // mean narrowing, or the empty-cell rule breaks a row here before
    // it silently breaks q_ann_pq). Driver side reads the cached
    // model's telemetry (one tiny LocalRelation job per round at
    // training time); the oracle re-derives every round through the
    // shared pqBaseCtes chain plus the final sample assignment.
    Q(
      "q_pq_train", {
        def duckD2(pa: String, cbn: String) =
          s"""(SELECT CAST(CAST(sum(CAST(
             |    ${duckDot8("s.sv", "s.sv")}
             |    - 2 * ${duckDot8("s.sv", "c.cb")}
             |    + ${duckDot8("c.cb", "c.cb")} AS DECIMAL(28,12))) AS DECIMAL(18,12)) AS DOUBLE)
             |  FROM $pa a JOIN sv s ON s.vec_id = a.vec_id AND s.m = a.m
             |  JOIN $cbn c ON c.m = a.m AND c.k = a.k)""".stripMargin
        def duckMoved(p: String, q2: String) =
          s"""(SELECT CAST(sum(CASE WHEN p.k <> q.k THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM $p p JOIN $q2 q ON p.vec_id = q.vec_id AND p.m = q.m)""".stripMargin
        // one row per EXECUTED round: the convergence-derived depth
        // (the chain's pdep scalar) gates each unrolled arm, so the
        // oracle emits exactly the rounds the Spark trainer ran
        val rows = (0 to PQ_MAX_ROUNDS).map { r =>
          val mv = if (r == 0) "CAST(NULL AS BIGINT)" else duckMoved(s"pa${r - 1}", s"pa$r")
          s"""SELECT $r AS round, ${duckD2(s"pa$r", s"cb$r")} AS sample_d2, $mv AS moved
             |WHERE $r <= (SELECT r FROM pdep)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $pqBaseCtes
           |$rows""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      pqModel(s, dir).telemetry.toDF("round", "sample_d2", "moved")
    },

    // ---- PQ encode stream (the codes frame itself, hash-gated) -------------
    // The full-corpus (vector, subspace) → code assignment under the
    // trained codebook, surfaced directly: round 15 moved the encode
    // from a relational kernel (crossJoin + packed-BIGINT max
    // aggregate) to the native per-row `pq_codes` loop, and the ADC
    // consumers only gate codes INDIRECTLY (through LUT sums and
    // top-3 selections that could mask a compensating error) — this
    // query hash-gates every single code against the oracle's
    // row_number formulation, so the native expression's rounding/
    // tie-break contract is pinned row-for-row at every SF. Also the
    // plan witness for the headroom claim: encode is a zero-exchange
    // map + posexplode (PlanShapeSpec gates no-exchange on this body).
    Q(
      "q_pq_encode",
      s"""WITH $pqBaseCtes
        |SELECT vec_id, CAST(m AS INTEGER) AS m, CAST(code AS INTEGER) AS code
        |FROM codes""".stripMargin) { (s, dir) =>
      val (_, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = false)
      codes.select(col("vec_id"),
        col("m").cast("int").as("m"), col("code").cast("int").as("code"))
    },

    // ---- PQ code balance (codebook utilization QA) -------------------------
    // The q_ivf_cell_balance analogue for PQ: per (subspace, code) the
    // assigned-vector count and corpus fraction, plus how many codes
    // each subspace actually uses — dead or starving codes mean wasted
    // quantization capacity (the codebook-retraining trigger in a real
    // IVF-PQ deployment; FAISS's imbalance_factor serves this role).
    // Diagnostic-tier: consumes the memoized `pq_codes` kernel
    // (q_ann_pq is the builder) + one bounded aggregate — zero new
    // corpus scans; the corpus denominator is the cached plan-time row
    // count (scalar subquery in the oracle). frac is one IEEE division
    // of exact integers — bit-identical cross-engine.
    Q(
      "q_pq_code_balance",
      s"""WITH $pqBaseCtes, g AS (
        |  SELECT CAST(m AS INTEGER) AS m, CAST(code AS INTEGER) AS code,
        |    count(*) AS n_vec
        |  FROM codes GROUP BY 1, 2
        |)
        |SELECT m, code, n_vec,
        |  CAST(n_vec AS DOUBLE) / (SELECT count(*) FROM embeddings) AS frac,
        |  count(*) OVER (PARTITION BY m) AS n_used
        |FROM g""".stripMargin) { (s, dir) =>
      val (_, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = false)
      val n = Tables.rowCount(s, dir, "embeddings")
      codes
        .groupBy(col("m").cast("int").as("m"), col("code").cast("int").as("code"))
        .agg(count(lit(1)).as("n_vec"))
        .withColumn("frac", col("n_vec").cast("double") / lit(n).cast("double"))
        .withColumn("n_used",
          count(lit(1)).over(Window.partitionBy(col("m"))))
    },

    // ---- residual-vs-raw PQ reconstruction gain (the IVFADC meter) ---------
    // The hash-gated evidence that residual encoding earns its keep
    // (the q_pq_distortion trained-vs-hash precedent applied to
    // residual-vs-raw): per subspace, the mean squared reconstruction
    // error of the corpus under (a) the trained RAW codebook
    // (‖x_m − cb[code]‖², the shipped q_ann_pq geometry) and (b) the
    // trained RESIDUAL codebook under the trained coarse quantizer
    // (‖x − (c + cb_r[rcode])‖² = ‖r_m − cb_r[rcode]‖²) — equal M·K
    // code budgets, gain = mean_d2_raw / mean_d2_res. Both encode
    // streams come from their memos (q_ann_pq / q_ann_ivfadc are the
    // builders); the d2 algebra, DECIMAL snaps and post-snap division
    // mirror q_pq_distortion term for term. PqResidualSpec pins
    // gain > 1 per subspace on the real corpus.
    Q(
      "q_pq_residual_gain", {
        def duckDist(src: String, codes: String, cb: String) =
          s"""SELECT cd.m,
             |    CAST(list_sum(list_transform(generate_series(1, $PQ_DS),
             |        i -> ${duckProd12(s"v.embedding[cd.m * $PQ_DS + i]", s"v.embedding[cd.m * $PQ_DS + i]")}))
             |      - 2 * list_sum(list_transform(generate_series(1, $PQ_DS),
             |        i -> ${duckProd12(s"v.embedding[cd.m * $PQ_DS + i]", "c.cb[i]")}))
             |      + list_sum(list_transform(generate_series(1, $PQ_DS),
             |        i -> ${duckProd12("c.cb[i]", "c.cb[i]")}))
             |      AS DECIMAL(28,12)) AS d2
             |  FROM $codes cd
             |  JOIN $src v ON v.vec_id = cd.vec_id
             |  JOIN $cb c ON c.m = cd.m AND c.k = cd.code""".stripMargin
        s"""WITH $pqBaseCtes, $adcBaseCtes, dist_raw AS (
          |  ${duckDist("embeddings", "codes", "cb")}
          |), dist_res AS (
          |  ${duckDist("adcres", "rcodes", "rcb")}
          |), agg_raw AS (
          |  SELECT m, count(*) AS n,
          |    CAST(CAST(CAST(sum(d2) AS DECIMAL(18,12)) AS DOUBLE) / count(*) AS DOUBLE) AS mean_d2_raw
          |  FROM dist_raw GROUP BY m
          |), agg_res AS (
          |  SELECT m,
          |    CAST(CAST(CAST(sum(d2) AS DECIMAL(18,12)) AS DOUBLE) / count(*) AS DOUBLE) AS mean_d2_res
          |  FROM dist_res GROUP BY m
          |)
          |SELECT a.m, a.n, a.mean_d2_raw, r.mean_d2_res,
          |  CASE WHEN r.mean_d2_res > 0 THEN a.mean_d2_raw / r.mean_d2_res END AS gain
          |FROM agg_raw a JOIN agg_res r ON r.m = a.m""".stripMargin
      }) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val (cb, codes) = pqCodebookAndCodes(s, dir, rebuildMemo = false)
      val cents = adcCents(s, dir)
      val assign = kmAssign(s, dir, cents)
      val res = adcResiduals(assign, cents)
      val (rcb, rcodes) = adcCodebookAndCodes(s, dir, res, rebuildMemo = false)
      def distOf(src: org.apache.spark.sql.DataFrame,
          cds: org.apache.spark.sql.DataFrame,
          cbDf: org.apache.spark.sql.DataFrame) = cds
        .join(src, "vec_id")
        .join(broadcast(cbDf.withColumnRenamed("k", "code")), Seq("m", "code"))
        .select(col("m"),
          expr(s"""cast(
            dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), slice(embedding, m * $PQ_DS + 1, $PQ_DS))
            - 2 * dot_dec(slice(embedding, m * $PQ_DS + 1, $PQ_DS), cb)
            + dot_dec(cb, cb) as decimal(28,12))""").as("d2"))
      val aggRaw = distOf(e, codes, cb).groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"))
        .select(col("m"), col("n"),
          (col("sum_d2").cast("decimal(18,12)").cast("double") / col("n")).as("mean_d2_raw"))
      val aggRes = distOf(res, rcodes, rcb).groupBy(col("m"))
        .agg(count(lit(1)).as("nr"), sum(col("d2")).as("sum_d2r"))
        .select(col("m"),
          (col("sum_d2r").cast("decimal(18,12)").cast("double") / col("nr")).as("mean_d2_res"))
      aggRaw.join(aggRes, "m")
        .select(col("m"), col("n"), col("mean_d2_raw"), col("mean_d2_res"),
          when(col("mean_d2_res") > 0, col("mean_d2_raw") / col("mean_d2_res")).as("gain"))
    },

    // ---- per-label embedding centroids (element-wise DECIMAL sums) ---------
    // vector aggregation without float-sum nondeterminism: posexplode
    // the vectors, sum each (label, dim) in DECIMAL — one shuffle on
    // (label, dim), map-side combined. Divide by cnt downstream for the
    // mean when needed.
    Q(
      "q_label_centroids",
      """SELECT label, dim,
        |  CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS DOUBLE) AS csum,
        |  count(*) AS cnt
        |FROM (SELECT label, i - 1 AS dim, embedding[i] AS x
        |      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i))
        |GROUP BY label, dim""".stripMargin) { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(
          // float->decimal via double: Spark's direct float cast goes
          // through the float's short toString and rounds differently
          sum(expr("dec_cast(cast(x as double), 18, 8)")).cast("decimal(28,8)").cast("double").as("csum"),
          count(lit(1)).as("cnt"))
    },

    // ---- embedding distribution drift (batch-over-batch monitoring) --------
    // The QA pass a pipeline runs before MIXING a newly embedded batch
    // into the corpus: per dimension, compare the new batch's mean and
    // variance against the existing corpus — an encoder version bump,
    // a normalization change, or upstream data drift shows as mean
    // shift / variance ratio long before ANN recall visibly degrades
    // (batch surrogate: vec_id parity, the q_dedup_incremental
    // convention). Determinism recipe: per-batch Σx via the scale-8
    // raw-float snap (the q_label_centroids pattern; zero band hits on
    // corpus floats — tools/check_cast_alignment.py), Σx² via the
    // scale-12 PRODUCT snap (Spark dec_cast ≡ oracle duckProd12 — the
    // round-15 VARCHAR rule, x·x is a float product), means as IEEE
    // divisions of snapped doubles, and the variance e2 − mean² snapped
    // through dec_cast(·,18,9) on both sides (the FMA-contract rule).
    // One shuffle on the 64-value dim key; sums are map-side combined.
    Q(
      "q_embedding_drift", {
        val prodSnap = "CAST(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(28,12)) AS DECIMAL(28,12))"
        s"""WITH ex AS (
        |  SELECT (vec_id % 2 = 0) AS is_a, i - 1 AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        |), g AS (
        |  SELECT dim,
        |    count(*) FILTER (WHERE is_a) AS n_a,
        |    count(*) FILTER (WHERE NOT is_a) AS n_b,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,8))) FILTER (WHERE is_a)
        |      AS DECIMAL(28,8)) AS DOUBLE) AS s_a,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,8))) FILTER (WHERE NOT is_a)
        |      AS DECIMAL(28,8)) AS DOUBLE) AS s_b,
        |    CAST(CAST(sum($prodSnap) FILTER (WHERE is_a)
        |      AS DECIMAL(18,12)) AS DOUBLE) AS q_a,
        |    CAST(CAST(sum($prodSnap) FILTER (WHERE NOT is_a)
        |      AS DECIMAL(18,12)) AS DOUBLE) AS q_b
        |  FROM ex GROUP BY dim
        |), m AS (
        |  SELECT dim, n_a, n_b,
        |    s_a / n_a AS mean_a, s_b / n_b AS mean_b,
        |    CAST(CAST(q_a / n_a - (s_a / n_a) * (s_a / n_a) AS DECIMAL(18,9)) AS DOUBLE) AS var_a,
        |    CAST(CAST(q_b / n_b - (s_b / n_b) * (s_b / n_b) AS DECIMAL(18,9)) AS DOUBLE) AS var_b
        |  FROM g
        |)
        |SELECT dim, n_a, n_b, mean_a, mean_b, mean_b - mean_a AS mean_shift,
        |  var_a, var_b,
        |  CASE WHEN var_a > 0 THEN var_b / var_a END AS var_ratio
        |FROM m""".stripMargin
      }) { (s, dir) =>
      val ex = Tables(s, dir, "embeddings")
        .select((col("vec_id") % 2 === 0).as("is_a"),
          posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("is_a"), col("dim"), col("xf").cast("double").as("x"))
      val g = ex.groupBy(col("dim"))
        .agg(
          count(when(col("is_a"), lit(1))).as("n_a"),
          count(when(!col("is_a"), lit(1))).as("n_b"),
          sum(when(col("is_a"), expr("dec_cast(x, 18, 8)")))
            .cast("decimal(28,8)").cast("double").as("s_a"),
          sum(when(!col("is_a"), expr("dec_cast(x, 18, 8)")))
            .cast("decimal(28,8)").cast("double").as("s_b"),
          sum(when(col("is_a"), expr("dec_cast(x * x, 28, 12)")))
            .cast("decimal(18,12)").cast("double").as("q_a"),
          sum(when(!col("is_a"), expr("dec_cast(x * x, 28, 12)")))
            .cast("decimal(18,12)").cast("double").as("q_b"))
      g.select(col("dim"), col("n_a"), col("n_b"),
          (col("s_a") / col("n_a")).as("mean_a"),
          (col("s_b") / col("n_b")).as("mean_b"),
          col("q_a"), col("q_b"))
        .select(col("dim"), col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          (col("mean_b") - col("mean_a")).as("mean_shift"),
          expr("cast(dec_cast(q_a / n_a - mean_a * mean_a, 18, 9) as double)").as("var_a"),
          expr("cast(dec_cast(q_b / n_b - mean_b * mean_b, 18, 9) as double)").as("var_b"))
        .withColumn("var_ratio",
          when(col("var_a") > 0, col("var_b") / col("var_a")))
    },

    // ---- int8 scalar quantization + reconstruction error -------------------
    // The vector-compression pass an embedding store runs before
    // serving: per-dimension min/max over the corpus -> 8-bit scalar
    // quantization q = round((x - mn)/scale) -> reconstruction error
    // stats. min/max are exact selections (no float accumulation); the
    // per-row error is shared double arithmetic (bit-identical cross-
    // engine, positive halves round identically), and only the error
    // SUM goes through the DECIMAL snap. Two tiny shuffles on the
    // 64-value dim key; the stats frame joins back unhinted (64 rows —
    // dimensionality is a model constant, AQE broadcasts it).
    Q(
      "q_quantize_embeddings",
      """WITH ex AS (
        |  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        |), st AS (
        |  SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY dim
        |), qz AS (
        |  SELECT ex.dim AS dim, x, mn, mx,
        |    CASE WHEN mx = mn THEN 0.0
        |         ELSE round((x - mn) / ((mx - mn) / 255.0)) END AS q
        |  FROM ex JOIN st ON ex.dim = st.dim
        |), err AS (
        |  SELECT dim, q,
        |    abs(x - (mn + q * (CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END))) AS ae
        |  FROM qz
        |)
        |SELECT dim, count(*) AS n,
        |  CAST(max(ae) AS DOUBLE) AS max_abs_err,
        |  CAST(CAST(sum(CAST(ae AS DECIMAL(18,12))) AS DECIMAL(28,12)) AS DOUBLE)
        |    / count(*) AS avg_abs_err,
        |  CAST(count(DISTINCT q) AS BIGINT) AS n_levels
        |FROM err GROUP BY dim""".stripMargin) { (s, dir) =>
      val ex = Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("dim"), col("xf").cast("double").as("x"))
      val st = ex.groupBy(col("dim").as("s_dim"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      ex.join(st, col("dim") === col("s_dim"))
        .select(col("dim"), col("x"), col("mn"),
          expr("case when mx = mn then 0.0 else round((x - mn) / ((mx - mn) / 255.0)) end").as("q"),
          expr("case when mx = mn then 0.0 else (mx - mn) / 255.0 end").as("scale"))
        .select(col("dim"), col("q"), expr("abs(x - (mn + q * scale))").as("ae"))
        .groupBy(col("dim"))
        .agg(
          count(lit(1)).as("n"),
          max(col("ae")).as("max_abs_err"),
          (sum(expr("dec_cast(ae, 18, 12)")).cast("decimal(28,12)").cast("double")
            / count(lit(1))).as("avg_abs_err"),
          countDistinct(col("q")).as("n_levels"))
    },

    // ---- SemDeDup-style semantic dedup (LSH cells + in-cell near-dup) ------
    // Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
    // through semantic deduplication"): partition the embedding space,
    // then search for near-duplicates only WITHIN each cell — the cell
    // assignment turns the quadratic all-pairs scan into per-cell
    // blocks with zero cross-cell pairs by construction. Cells are
    // CORPUS-SCALED hyperplane-sign buckets (semBits(n) planes ⇒ cell
    // count ∝ N, expected cell size ≤ SEM_CELL_TARGET — SemDeDup's own
    // k ∝ N recipe with a zero-shuffle assignment); the in-cell SALTED
    // self-join keeps the lowest vec_id of every near-dup pair.
    Q(
      "q_dedup_semantic",
      s"""WITH $semOracleCtes
        |SELECT vec_id, cell FROM semassign
        |WHERE vec_id NOT IN (SELECT id_b FROM sempairs)""".stripMargin) { (s, dir) =>
      // BUILDER of the semantic pair kernel memo; the keep join reads
      // the cell assignment fresh (a zero-exchange per-row projection)
      val pairs = semanticPairs(s, dir, rebuildMemo = true)
      val assign = semanticAssign(s, dir, semBits(s, dir))
      val dropped = pairs.select(col("id_b")).distinct()
      assign
        .join(dropped, col("vec_id") === col("id_b"), "left_anti")
        .select(col("vec_id"), col("cell"))
    },

    // ---- k-means TRAINING: 3 full Lloyd rounds -----------------------------
    // q_ann_kmeans is one Lloyd step; this is the training loop an IVF
    // index build actually runs. Per round: assign every vector to its
    // nearest current centroid (broadcast fixed-|C| centroids, double
    // prefilter, exact DECIMAL argmax, ties to lowest cell), then
    // recompute each nonempty cell's centroid as the element-wise mean
    // (DECIMAL sums -> DOUBLE -> FLOAT, order-independent, identical
    // narrowing in both engines). Per-round driver-side loop with the
    // old assignment unpersisted each round — the bounded-iteration
    // pattern shared with BPE training and connected components; the
    // DuckDB oracle unrolls the rounds as MATERIALIZED CTEs (the
    // q_bpe_merges pattern). Output: per-round convergence telemetry
    // (vectors that changed cell, nonempty cells).
    Q(
      "q_kmeans_train", {
        val assignTpl = duckKmAssign _
        val trainTpl = duckKmUpdate _
        val rounds = (1 to 3).map { r =>
          s"""t$r AS MATERIALIZED (
             |  ${trainTpl(s"a${r - 1}")}
             |), a$r AS MATERIALIZED (
             |  ${assignTpl(s"t$r")}
             |)""".stripMargin
        }.mkString(", ")
        val summaries = (1 to 3).map { r =>
          s"""SELECT $r AS round,
             |  (SELECT CAST(sum(CASE WHEN p.cell <> q.cell THEN 1 ELSE 0 END) AS BIGINT)
             |   FROM a${r - 1} p JOIN a$r q USING (vec_id)) AS moved,
             |  (SELECT count(DISTINCT cell) FROM a$r) AS n_cells""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH cents0 AS MATERIALIZED (
           |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
           |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
           |), a0 AS MATERIALIZED (
           |  ${assignTpl("cents0")}
           |), $rounds
           |$summaries""".stripMargin
      }) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      def assign(cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        kmAssign(s, dir, cents)
      def train(a: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        kmUpdate(a)
      val seeds = localizedModel(
        e.select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("cell")).limit(ncIvf(s, dir))
          .select(col("cell"), col("c_emb")))
      // EAGER per-round loop (the BPE pattern: one aggregated telemetry
      // row collected per round). A lazy formulation would nest four
      // assignment pipelines into one plan, recompute each round's
      // assignment once per downstream consumer, and fire the
      // unpersists before anything materialized.
      var a = assign(seeds).persistScoped()
      val telemetry = (1 to 3).map { r =>
        // localizedModel per round: the trained centroids are the
        // bounded model — one collect job each round (the loop already
        // collects telemetry), and the carried plan stays CONSTANT
        // size (assign references its centroid input 4x; as a subtree
        // that is 4^r plan growth — the r10 exponential-plan lesson).
        // r20: prev_cell rides the new assignment (kmAssign carry), so
        // the telemetry is one aggregate over a2's own materialization
        // — the former per-round vec_id join of two persisted
        // assignments measured ~2x the fused aggregate's cost.
        val a2 = kmAssign(s, dir, localizedModel(train(a)),
          carry = Some(a.select(col("vec_id"), col("embedding"), col("cell"))))
          .persistScoped()
        val row = a2
          .agg(
            sum(when(col("prev_cell") =!= col("cell"), 1).otherwise(0))
              .cast("long").as("moved"),
            countDistinct(col("cell")).as("n_cells"))
          .head()
        a.unpersist() // keep at most two assignments pinned (loop pattern)
        a = a2
        (r, row.getLong(0), row.getLong(1))
      }
      a.unpersist()
      import s.implicits._
      telemetry.toDF("round", "moved", "n_cells")
    })

  /** The approximate methods the recall harness evaluates (all return
    * ranked rows with an `rn` column, truncated to @3 here). */
  private val recallMethods = Seq("lsh" -> "q_ann_lsh", "ivf" -> "q_ann_ivf",
    "ivf_multiprobe" -> "q_ann_ivf_multiprobe", "pq" -> "q_ann_pq",
    "ivfpq" -> "q_ann_ivfpq", "ivfadc" -> "q_ann_ivfadc",
    "ivfadc_mp" -> "q_ann_ivfadc_multiprobe")

  /** ANN recall evaluation: every approximate method vs the brute-force
    * ground truth. The evaluation loop an ANN deployment actually needs:
    * recall@3 per (method, query). All sides are the REGISTERED queries
    * (so the evaluation measures exactly what ships) and the oracle
    * composes those queries' own oracle texts verbatim as derived
    * tables — no second formulation to drift. Zero-hit method/query
    * combos keep a row via the grid left join; counts are integers and
    * the recall is one int/int division — deterministic. */
  private val recallQuery: Q = {
    def oracleOf(name: String) = baseQueries.find(_.name == name).get.oracle.get
    val methodSql = recallMethods
      .map { case (m, qn) =>
        s"SELECT '$m' AS method, query_id, cand_id FROM (${oracleOf(qn)}) WHERE rn <= 3"
      }
      .mkString("\n  UNION ALL ")
    Q(
      "q_ann_recall",
      s"""WITH ex AS (
        |  SELECT query_id, cand_id FROM (${oracleOf("q_ann_topk")}) WHERE rn <= 3
        |), apx AS (
        |  $methodSql
        |), hits AS (
        |  SELECT method, apx.query_id, count(*) AS n_hit
        |  FROM apx JOIN ex ON apx.query_id = ex.query_id AND apx.cand_id = ex.cand_id
        |  GROUP BY method, apx.query_id
        |)
        |SELECT g.method, g.query_id, coalesce(n_hit, 0) AS n_hit,
        |  CAST(coalesce(n_hit, 0) AS DOUBLE) / 3 AS recall_at_3
        |FROM (SELECT method, query_id
        |      FROM (SELECT DISTINCT query_id FROM ex)
        |      CROSS JOIN (VALUES ${recallMethods.map(m => s"('${m._1}')").mkString(", ")}) m(method)) g
        |LEFT JOIN hits ON g.method = hits.method AND g.query_id = hits.query_id""".stripMargin) {
      (s, dir) =>
        // ground truth and method rankings via the kernel memos — the
        // registered method queries are the builders; the recall's own
        // cost is then the joins below, not five recomputed pipelines
        val ex = annReuse(s, dir, "q_ann_topk")
          .filter(col("rn") <= 3).select(col("query_id"), col("cand_id"))
        val apx = recallMethods
          .map { case (m, qn) =>
            annReuse(s, dir, qn)
              .filter(col("rn") <= 3)
              .select(lit(m).as("method"), col("query_id"), col("cand_id"))
          }
          .reduce(_.unionByName(_))
        val hits = apx.join(ex, Seq("query_id", "cand_id"), "left_semi")
          .groupBy(col("method"), col("query_id")).agg(count(lit(1)).as("n_hit"))
        import s.implicits._
        val grid = ex.select(col("query_id")).distinct()
          .crossJoin(recallMethods.map(_._1).toDF("method"))
        grid
          .join(hits, Seq("method", "query_id"), "left")
          .select(col("method"), col("query_id"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / 3).as("recall_at_3"))
    }
  }

  /** Diversity-stratified downsampling over the SemDeDup cell geometry:
    * keep ceil(sqrt(|cell|)) vectors per hyperplane cell, chosen by a
    * deterministic content-hash rank. Dedup REMOVES redundancy above a
    * similarity threshold; this is the complementary curation knob —
    * SUBSAMPLE dense regions of embedding space sublinearly while rare
    * regions (cells of size 1) survive intact, the coverage-preserving
    * shrink a training-data mixer reaches for when a corpus over-serves
    * one mode (DoReMi/D4-style semantic rebalancing, here with the
    * stratum = the same corpus-scaled cells the dedup family uses, so
    * density is measured in the geometry the dedup already trusts).
    * Scale shape: the cell id is a zero-shuffle per-row projection;
    * the rank is ONE window shuffle on the cell key (cells are bounded
    * at ~SEM_CELL_TARGET rows by construction, so no per-cell skew),
    * and the keep rule is a per-row integer comparison — nothing is
    * collected, nothing grows with N but the output (Σ √cell ≈
    * N/√target). ceil(sqrt(n)) on an exact integer double is the same
    * IEEE value in both engines (the ncIvf rule). */
  private lazy val diversityQuery: Q = Q(
    "q_semantic_diversity",
    s"""WITH $semOracleCtes, r AS (
      |  SELECT cell, vec_id,
      |    CAST(row_number() OVER (PARTITION BY cell
      |      ORDER BY ${duck("'divs#' || vec_id::VARCHAR")}, vec_id) AS INT) AS rk,
      |    count(*) OVER (PARTITION BY cell) AS n_cell
      |  FROM semassign
      |)
      |SELECT cell, vec_id, n_cell, rk FROM r
      |WHERE rk <= CAST(ceil(sqrt(CAST(n_cell AS DOUBLE))) AS INT)""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("rh"), col("vec_id"))
    semanticAssign(s, dir, semBits(s, dir))
      .select(col("cell"), col("vec_id"),
        expr(h("concat('divs#', cast(vec_id as string))")).as("rh"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .filter(col("rk") <= expr("cast(ceil(sqrt(cast(n_cell as double))) as int)"))
      .select(col("cell"), col("vec_id"), col("n_cell"), col("rk"))
  }

  /** Clustering-quality evaluation: label purity of the SemDeDup cell
    * geometry. Before trusting any cell-blocked operator (dedup
    * candidates, diversity strata, IVF-style probes) one measures
    * whether the geometry respects the labels the corpus already has —
    * purity = n_majority/|cell| per cell is the classical external
    * clustering metric (Manning et al., IIR §16.3). Majority ties break
    * to the LOWEST label (packed into the ordering, the arg_max rule).
    * Scale shape: one (cell, label) hash aggregate over the zero-shuffle
    * assignment projection, then a window on the BOUNDED (cell, label)
    * frame — the corpus is touched by exactly one map+agg pass. */
  private lazy val purityQuery: Q = Q(
    "q_cluster_purity",
    s"""WITH $semOracleCtes, cl AS (
      |  SELECT cell, label, count(*) AS n_cl FROM semassign GROUP BY cell, label
      |), rk AS (
      |  SELECT cell, label, n_cl,
      |    CAST(row_number() OVER (PARTITION BY cell ORDER BY n_cl DESC, label) AS INT) AS r,
      |    CAST(sum(n_cl) OVER (PARTITION BY cell) AS BIGINT) AS n_cell
      |  FROM cl
      |)
      |SELECT cell, label AS major_label, n_cl AS n_major, n_cell,
      |  CAST(n_cl AS DOUBLE) / n_cell AS purity
      |FROM rk WHERE r = 1""".stripMargin) { (s, dir) =>
    val cl = semanticAssign(s, dir, semBits(s, dir))
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n_cl"))
    cl
      .withColumn("r", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("n_cl").desc, col("label"))).cast("int"))
      .withColumn("n_cell", sum(col("n_cl")).over(Window.partitionBy(col("cell"))).cast("bigint"))
      .filter(col("r") === 1)
      .select(col("cell"), col("label").as("major_label"), col("n_cl").as("n_major"),
        col("n_cell"),
        (col("n_cl").cast("double") / col("n_cell")).as("purity"))
  }

  /** Embedding-norm QA: per-label L2-norm distribution plus degenerate-
    * vector counters. Every cosine-similarity operator in this file
    * assumes ~unit vectors; an upstream encoder regression (fp16
    * underflow, a zeroed adapter, missing normalization) shows up here
    * first. Per-row: ||v||² through the exact-DECIMAL dot kernel (the
    * same formulation as every other dot in the family), norm = one
    * IEEE sqrt of its double image — deterministic cross-engine. The
    * mean follows the q_ann_kmeans recipe exactly (per-row dec_cast
    * snap → DECIMAL(28,8) sum → double), min/max are order-free picks
    * of identical per-row doubles, and the outlier counters are exact
    * integers. One map pass + one ~|labels|-group aggregate. */
  private lazy val normsQuery: Q = Q(
    "q_embedding_norms",
    s"""WITH n AS (
      |  SELECT label,
      |    sqrt(CAST(${duckDot("embedding", "embedding")} AS DOUBLE)) AS nrm
      |  FROM embeddings
      |)
      |SELECT label, count(*) AS n, min(nrm) AS min_norm, max(nrm) AS max_norm,
      |  CAST(CAST(sum(CAST(nrm AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS DOUBLE)
      |    / count(*) AS mean_norm,
      |  CAST(sum(CASE WHEN nrm < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
      |  CAST(sum(CASE WHEN nrm > 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized
      |FROM n GROUP BY label""".stripMargin) { (s, dir) =>
    Tables(s, dir, "embeddings")
      .select(col("label"),
        expr(s"sqrt(cast(${dot("embedding", "embedding")} as double))").as("nrm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        (sum(expr("dec_cast(nrm, 18, 8)")).cast("decimal(28,8)").cast("double")
          / count(lit(1))).as("mean_norm"),
        sum(when(col("nrm") < 0.5, 1).otherwise(0)).cast("bigint").as("n_degenerate"),
        sum(when(col("nrm") > 1.5, 1).otherwise(0)).cast("bigint").as("n_oversized"))
  }

  /** Embedding OUTLIER detection — the curation pass that catches
    * mis-embedded / mislabeled vectors before they poison contrastive
    * training or ANN index balance: each vector's squared distance to
    * its own LABEL centroid, z-scored within the label, |z| > 2 rows
    * emitted. Composes two proven recipes: the exact-DECIMAL distance
    * expansion d2 = v·v − 2·v·c + c·c (the q_pq_distortion kernel, on
    * the full 64 dims vs the label centroid), and the exact-integer
    * moments + snapped-z membership of q_events_anomaly — d2 is
    * floor-quantized to 1e-4 units (floor of an EXACT decimal: no
    * rounding mode to disagree on; norms are ~unit so u ≤ ~9e4 and
    * both Σu and Σu² stay exactly representable in BIGINT and DOUBLE),
    * so the per-label power sums are exact integers and the z tree is
    * the identical IEEE double sequence in both engines. Scale shape:
    * one (label, dim) centroid shuffle (map-side combined), centroids
    * broadcast back (one row per label — a model parameter), one
    * per-label moments aggregate, per-row z as a map stage. */
  private lazy val outliersQuery: Q = Q(
    "q_embedding_outliers",
    s"""WITH cent AS (
      |  SELECT label, list_transform(
      |      list_sort(list(struct_pack(dim := dim, mean := mean))),
      |      r -> CAST(r.mean AS FLOAT)) AS c_emb
      |  FROM (
      |    SELECT label, i - 1 AS dim,
      |      CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(28,8)) AS DOUBLE)
      |        / count(*) AS mean
      |    FROM (SELECT label, i, embedding[i] AS x
      |          FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i))
      |    GROUP BY label, i)
      |  GROUP BY label
      |), d AS (
      |  SELECT v.vec_id, v.label,
      |    CAST(floor(CAST(
      |      ${duckDot("v.embedding", "v.embedding")}
      |      - 2 * ${duckDot("v.embedding", "c.c_emb")}
      |      + ${duckDot("c.c_emb", "c.c_emb")} AS DECIMAL(28,12)) * 10000) AS BIGINT) AS u
      |  FROM embeddings v JOIN cent c ON v.label = c.label
      |), st AS (
      |  SELECT label, CAST(count(*) AS DOUBLE) AS n,
      |    CAST(CAST(sum(u) AS BIGINT) AS DOUBLE) AS su,
      |    CAST(CAST(sum(u*u) AS BIGINT) AS DOUBLE) AS su2
      |  FROM d GROUP BY label
      |)
      |SELECT vec_id, label, d2, zscore FROM (
      |  SELECT d.vec_id, d.label, CAST(u AS DOUBLE) / 10000 AS d2,
      |    CAST(CAST((u - su/n) / sqrt((su2 - su*(su/n)) / n)
      |      AS DECIMAL(18,9)) AS DOUBLE) AS zscore
      |  FROM d JOIN st ON d.label = st.label
      |  WHERE CAST(CAST((su2 - su*(su/n)) / n AS DECIMAL(18,9)) AS DOUBLE) > 0)
      |WHERE abs(zscore) > 2.0""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "embeddings")
    val cent = localizedModel(e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg((sum(expr("dec_cast(cast(x as double), 18, 8)")).cast("decimal(28,8)").cast("double")
        / count(lit(1))).as("mean"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, mean))), r -> cast(r.mean as float))")
        .as("c_emb")))
    val d = e.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        expr(s"""cast(floor(cast(
          ${dot("embedding", "embedding")}
          - 2 * ${dot("embedding", "c_emb")}
          + ${dot("c_emb", "c_emb")} as decimal(28,12)) * 10000) as bigint)""").as("u"))
    val st = d.groupBy(col("label").as("s_label"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("u")).cast("double").as("su"),
        sum(col("u") * col("u")).cast("double").as("su2"))
    d.join(broadcast(st), col("label") === col("s_label"))
      .filter(expr("cast(dec_cast((su2 - su*(su/n)) / n, 18, 9) as double) > 0"))
      .select(col("vec_id"), col("label"),
        (col("u").cast("double") / 10000).as("d2"),
        expr("cast(dec_cast((u - su/n) / sqrt((su2 - su*(su/n)) / n), 18, 9) as double)")
          .as("zscore"))
      .filter(abs(col("zscore")) > 2.0)
  }

  /** IVF recall-vs-work tuning curve (round 13): recall@3 and mean
    * candidate volume per query at nprobe ∈ {1, 2, 4} — THE operating
    * curve an IVF deployment reads to pick its probe count (the FAISS
    * nprobe sweep), where q_ann_ivf_multiprobe fixes nprobe = 2. One
    * corpus assignment pass (the multiprobe machinery widened to a
    * top-4 cell ranking via the bounded-heap TopK prefilter), the
    * bounded NQ probe fan-out exploded once per applicable sweep
    * point, exact-DECIMAL candidate ranking, ground truth from the
    * memoized q_ann_topk kernel. Counts are exact integers; the two
    * ratios divide by literal constants. */
  private val nprobeCurveQuery: Q = {
    def oracleOf(name: String) = baseQueries.find(_.name == name).get.oracle.get
    val probeGrid = Seq(1, 2, 4)
    Q(
      "q_ivf_nprobe_curve",
      s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  ORDER BY $duckCHash, vec_id LIMIT $duckNcIvf
        |), cand AS (
        |  ${duckPrunedCand("cents")}
        |), ranked AS (
        |  SELECT vec_id, embedding, c_id, crn FROM (
        |    SELECT vec_id, embedding, c_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ${duckDot("embedding", "c_emb")} DESC, c_id) AS crn
        |    FROM cand
        |  ) WHERE crn <= ${probeGrid.max}
        |), assign AS (
        |  SELECT vec_id, embedding, c_id AS cell FROM ranked WHERE crn = 1
        |), qids AS (
        |  SELECT vec_id FROM embeddings ORDER BY $duckQHash, vec_id LIMIT $duckNq
        |), probes AS (
        |  SELECT vec_id, embedding, c_id AS cell, crn FROM ranked
        |  WHERE vec_id IN (SELECT vec_id FROM qids)
        |), ex AS (
        |  SELECT query_id, cand_id FROM (${oracleOf("q_ann_topk")}) WHERE rn <= 3
        |), sw AS (
        |  SELECT p.nprobe, q.vec_id AS query_id, x.vec_id AS cand_id,
        |    ${duckDot("q.embedding", "x.embedding")} AS dot
        |  FROM (VALUES ${probeGrid.map(p => s"($p)").mkString(", ")}) p(nprobe)
        |  JOIN probes q ON q.crn <= p.nprobe
        |  JOIN assign x ON q.cell = x.cell AND q.vec_id <> x.vec_id
        |), rk AS (
        |  SELECT nprobe, query_id, cand_id,
        |    row_number() OVER (PARTITION BY nprobe, query_id
        |      ORDER BY dot DESC, cand_id) AS rn
        |  FROM sw
        |)
        |SELECT r.nprobe,
        |  CAST(count(*) AS BIGINT) AS n_cands,
        |  CAST(coalesce(sum(CASE WHEN r.rn <= 3 AND ex.cand_id IS NOT NULL
        |    THEN 1 END), 0) AS BIGINT) AS n_hits,
        |  CAST(count(*) AS DOUBLE) / $duckNq AS avg_cands,
        |  CAST(coalesce(sum(CASE WHEN r.rn <= 3 AND ex.cand_id IS NOT NULL
        |    THEN 1 END), 0) AS DOUBLE) / (3 * $duckNq) AS recall_at_3
        |FROM rk r LEFT JOIN ex
        |  ON r.query_id = ex.query_id AND r.cand_id = ex.cand_id
        |GROUP BY r.nprobe""".stripMargin) { (s, dir) =>
      val pMax = probeGrid.max
      val e = Tables(s, dir, "embeddings")
      val cents = localizedModel(
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            expr(cHash).as("ch"))
          .orderBy(col("ch"), col("c_id")).limit(ncIvf(s, dir))
          .select(col("c_id"), col("c_emb")))
      // the q_ann_ivf_multiprobe machinery widened to a top-pMax cell
      // ranking via topCellsRanked: the zero-exchange BestCells map at
      // the flat arm (r21), the TopK-prefilter window past the switch
      val ranked = topCellsRanked(s, dir, e, cents, pMax)
        .persistScoped() // feeds the corpus index AND the probe fan-out
      val assign = ranked.filter(col("crn") === 1)
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb2"),
          col("c_id").as("x_cell"))
      val qids = e.select(col("vec_id"), expr(qHash).as("qh"))
        .orderBy(col("qh"), col("vec_id")).limit(nq(s, dir))
        .select(col("vec_id").as("q_vec"))
      val probes = ranked.join(qids, col("vec_id") === col("q_vec"), "left_semi")
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("c_id").as("cell"), col("crn").as("pcrn"))
      // each corpus vector has ONE cell and the query's probe cells are
      // distinct, so every (query, cand, nprobe) appears at most once —
      // no dedup needed; the sweep explode touches only the bounded
      // NQ·nprobe·cell-size candidate stream
      val sw = assign
        .join(probes, col("cell") === col("x_cell") && col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), col("pcrn"),
          expr(dot("q_emb", "c_emb2")).as("dotv"))
        .select(col("query_id"), col("cand_id"), col("dotv"),
          explode(expr(s"filter(array(${probeGrid.mkString(", ")}), p -> p >= pcrn)"))
            .as("nprobe"))
      val rk = sw.withColumn("rn", row_number().over(
        Window.partitionBy(col("nprobe"), col("query_id"))
          .orderBy(col("dotv").desc, col("cand_id"))))
      val ex = annReuse(s, dir, "q_ann_topk")
        .filter(col("rn") <= 3).select(col("query_id"), col("cand_id"))
        .withColumn("hit", lit(1L))
      rk.join(broadcast(ex), Seq("query_id", "cand_id"), "left")
        .groupBy(col("nprobe"))
        .agg(
          count(lit(1)).as("n_cands"),
          coalesce(sum(when(col("rn") <= 3 && col("hit").isNotNull, 1L)), lit(0L))
            .as("n_hits"))
        .select(col("nprobe"), col("n_cands"), col("n_hits"),
          expr(s"cast(n_cands as double) / ${nq(s, dir)}").as("avg_cands"),
          expr(s"cast(n_hits as double) / (3 * ${nq(s, dir)})").as("recall_at_3"))
    }
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019; the
    * CCMatrix/LASER alignment-mining operator): treat label < 5 as the
    * source-language embedding space and label ≥ 5 as the target side
    * (the harness stand-in for two language encoders sharing one
    * space), generate candidates with the corpus-scaled SRP-cell
    * blocking + hamming-1 probes (the q_dedup_embedding geometry —
    * candidate volume O(N · cell-target), never A×B; production FAISS
    * mining is the same approximate-candidates shape), then keep
    * MUTUAL nearest neighbours (forward top-1 == backward top-1, the
    * paper's "intersection" criterion) and score them with the ratio
    * margin dot/(½·(avgₖ_fwd + avgₖ_bwd)) over the k=4 neighbour
    * averages — the margin that suppresses hub vectors a raw cosine
    * cutoff would keep. Determinism: ranking runs on the PINNED
    * left-fold double dot (dot_f ↔ list_reduce, the q_random_projection
    * rule — identical IEEE values in both engines, id tie-breaks; the
    * exact-DECIMAL kernel would cost 64 decimal ops per candidate for
    * a ranking the double already decides identically), the k-NN
    * averages snap each dot once (dec_cast ↔ VARCHAR path) and sum in
    * exact DECIMAL, and the margin is one double ratio of identical
    * images on both engines. */
  private lazy val bitextQuery: Q = Q(
    "q_mine_bitext",
    s"""WITH semassign AS (
      |  SELECT vec_id, embedding, label, ${duckSemCell("embedding")} AS cell
      |  FROM embeddings
      |), aprobes AS (
      |  SELECT vec_id, embedding,
      |    unnest(list_prepend(cell, list_transform(generate_series(0, $duckSemBits - 1),
      |      j -> xor(cell, (1 << j))))) AS probe
      |  FROM semassign WHERE label < 5
      |), cand AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_reduce(list_transform(generate_series(1, 64),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dt
      |  FROM aprobes a JOIN semassign b ON a.probe = b.cell AND b.label >= 5
      |), ranked AS (
      |  SELECT id_a, id_b, dt,
      |    row_number() OVER (PARTITION BY id_a ORDER BY dt DESC, id_b) AS fr,
      |    row_number() OVER (PARTITION BY id_b ORDER BY dt DESC, id_a) AS br
      |  FROM cand
      |), fa AS (
      |  SELECT id_a,
      |    CAST(CAST(sum(CAST(CAST(dt AS VARCHAR) AS DECIMAL(18,9))) AS DECIMAL(28,9))
      |      AS DOUBLE) / count(*) AS avg_a
      |  FROM ranked WHERE fr <= $BITEXT_K GROUP BY 1
      |), fb AS (
      |  SELECT id_b,
      |    CAST(CAST(sum(CAST(CAST(dt AS VARCHAR) AS DECIMAL(18,9))) AS DECIMAL(28,9))
      |      AS DOUBLE) / count(*) AS avg_b
      |  FROM ranked WHERE br <= $BITEXT_K GROUP BY 1
      |)
      |SELECT id_a, id_b, dt AS dot, avg_a, avg_b,
      |  dt / (CAST(0.5 AS DOUBLE) * (avg_a + avg_b)) AS margin
      |FROM ranked JOIN fa USING (id_a) JOIN fb USING (id_b)
      |WHERE fr = 1 AND br = 1 AND avg_a + avg_b > CAST(0 AS DOUBLE)
      |  AND dt / (CAST(0.5 AS DOUBLE) * (avg_a + avg_b))
      |      > CAST(1.05 AS DOUBLE)""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // still salted: hyperplane cells are uneven on clustered data and a
    // hot cell would otherwise pin one task (the q_dedup_embedding rule)
    val salts = 8
    val bits = semBits(s, dir)
    val e = semanticAssign(s, dir, bits).persistScoped() // probe side and home side
    val probeArr =
      ("cell" +: (0 until bits).map(j => s"cell ^ ${1 << j}")).mkString("array(", ", ", ")")
    // ids-only through the fan-out (ADVICE r17): the probe explode
    // replicates the A side ×(bits+1) and the salt explode the B side
    // ×salts — carrying the 64-float payload through those exchanges
    // multiplies shuffle bytes by the fan-out for no benefit. The
    // blocking join ships 16-byte id rows; embeddings attach AFTER on
    // the (id_a, id_b) candidate frame (the attach-arrays-after rule),
    // so each corpus side's payload is shuffled exactly once.
    val ea = e.filter(col("label") < 5)
      .withColumn("probe", explode(expr(probeArr)))
      .withColumn("salt", pmod(hash(col("vec_id")), lit(salts)))
      .select(col("vec_id").as("id_a"), col("probe"), col("salt"))
    val eb = e.filter(col("label") >= 5)
      .withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
      .select(col("vec_id").as("id_b"), col("cell"), col("salt"))
    val cand = ea.as("a")
      .join(eb.as("b"), expr("a.probe = b.cell and a.salt = b.salt"))
      .select(col("id_a"), col("id_b"))
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("a_emb")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("b_emb")), "id_b")
      .select(col("id_a"), col("id_b"), expr("dot_f(a_emb, b_emb)").as("dt"))
    val ranked = cand
      .withColumn("fr", row_number().over(
        Window.partitionBy(col("id_a")).orderBy(col("dt").desc, col("id_b"))))
      .withColumn("br", row_number().over(
        Window.partitionBy(col("id_b")).orderBy(col("dt").desc, col("id_a"))))
      .persistScoped() // feeds fa, fb AND the mutual-top-1 slice
    val snapped = "dec_cast(dt, 18, 9)"
    val fa = ranked.filter(col("fr") <= BITEXT_K).groupBy(col("id_a")).agg(
      (sum(expr(snapped)).cast("decimal(28,9)").cast("double") / count(lit(1))).as("avg_a"))
    val fb = ranked.filter(col("br") <= BITEXT_K).groupBy(col("id_b")).agg(
      (sum(expr(snapped)).cast("decimal(28,9)").cast("double") / count(lit(1))).as("avg_b"))
    ranked.filter(col("fr") === 1 && col("br") === 1)
      .join(fa, "id_a").join(fb, "id_b")
      .filter(col("avg_a") + col("avg_b") > lit(0.0))
      .select(col("id_a"), col("id_b"), col("dt").as("dot"),
        col("avg_a"), col("avg_b"),
        (col("dt") / (lit(0.5) * (col("avg_a") + col("avg_b")))).as("margin"))
      .filter(col("margin") > expr("cast(1.05 as double)"))
      .select(col("id_a"), col("id_b"), col("dot"), col("avg_a"), col("avg_b"),
        col("margin"))
  }

  /** Bitext-mining neighbourhood size for the margin averages — the
    * model hyperparameter (the paper uses k=4). */
  private final val BITEXT_K = 4

  val queries: Seq[Q] =
    baseQueries :+ recallQuery :+ nprobeCurveQuery :+ diversityQuery :+
      purityQuery :+ normsQuery :+ outliersQuery :+ bitextQuery

  /** SemDeDup cell geometry — CORPUS-DERIVED hyperplane cells
    * (round-11; replaces the fixed-16 nearest-centroid cells, the last
    * O(N²) candidate generator in the engine). The in-cell all-pairs
    * scan is O(Σ cell²), so cell SIZE must stay bounded as the corpus
    * grows: we partition by the sign pattern of `semBits(n)` random
    * hyperplanes, the smallest b ≥ 4 with 2^b · SEM_CELL_TARGET ≥ n —
    * cell count ∝ N, expected cell size ≤ SEM_CELL_TARGET at ANY corpus
    * size, so candidate volume is O(N · SEM_CELL_TARGET), linear.
    * Assignment is a pure per-row codegen'd projection: zero shuffles,
    * zero broadcasts, nothing that grows with N (nearest-centroid
    * assignment with k ∝ N would have needed an O(N·k) scan against a
    * linearly-growing broadcast). Hyperplane cells are cones around the
    * origin, so near-dup pairs (dot ≥ 0.35 on ~unit vectors) land in
    * the same cell with the usual SRP-LSH probability — same recall
    * geometry as `q_ann_lsh`, whose 4-bit buckets this generalizes.
    *
    * The bit count is derived with PURE INTEGER arithmetic: a float
    * log2 would let the engines disagree by one plane at exact powers
    * of two (ln-ratio rounding). DuckDB derives the identical value by
    * scanning generate_series for the first qualifying shift. */
  // final constant + defs/lazy vals throughout this block: baseQueries
  // (a strict val declared ABOVE) interpolates semOracleCtes at object
  // init, so everything it pulls in must be initialization-order-proof
  private[graft] final val SEM_CELL_TARGET = 64L
  private[graft] def semBits(n: Long): Int = {
    var b = 4
    while ((1L << b) * SEM_CELL_TARGET < n && b < 40) b += 1
    b
  }
  private[graft] def semBits(s: org.apache.spark.sql.SparkSession, dir: String): Int =
    semBits(Tables.rowCount(s, dir, "embeddings"))
  private def duckSemBits: String =
    s"""(SELECT greatest(4, CAST(min(j) AS INT)) FROM generate_series(1, 40) t(j)
       | WHERE (1::BIGINT << j) * $SEM_CELL_TARGET >= (SELECT count(*) FROM embeddings))""".stripMargin

  /** Hyperplane-sign cell id as one flat codegen'd column (the
    * `bucketCol` pattern, distinct `sem#` seed family): plane j's
    * weights w(j,i) = ((CrossHash("sem#j#i") % 2001) - 1000)/1000 are
    * plan-time constants; each plane sum folds dims 1..64 left-to-right
    * — the same order as DuckDB's list_reduce, so the sign (and the
    * cell) is bit-identical cross-engine. */
  private[graft] def semCellCol(v: String, bits: Int): org.apache.spark.sql.Column =
    // native compact-loop expression (round 13): the former bits×64
    // inlined-term tree blew the fused stage past the JIT compile
    // threshold inside the pruned-assignment joins — see
    // [[graft.functions.PlaneCell]] for the bit-identical contract
    if (bits <= 0) lit(0) else expr(s"plane_cell($v, $bits, 'sem#')")

  private def duckSemCell(v: String): String =
    s"""CAST(list_sum(list_transform(generate_series(0, $duckSemBits - 1), j ->
       |  CASE WHEN list_reduce(list_transform(generate_series(1, 64),
       |      i -> (((${duck("'sem#' || j::VARCHAR || '#' || i::VARCHAR")} % 2001) - 1000) / 1000.0)
       |        * CAST($v[i] AS DOUBLE)), (x, y) -> x + y) >= 0
       |  THEN (1 << j) ELSE 0 END)) AS INT)""".stripMargin

  /** Shared oracle CTEs for the semantic-dedup family (assignment +
    * in-cell near-dup pairs) — used verbatim by q_dedup_semantic,
    * q_dedup_semantic_clusters and q_dedup_embedding: one formulation,
    * nothing to drift. */
  private[queries] lazy val semOracleCtes: String =
    s"""semassign AS (
       |  SELECT vec_id, embedding, label, ${duckSemCell("embedding")} AS cell
       |  FROM embeddings
       |), sempairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM semassign a JOIN semassign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${duckDot("a.embedding", "b.embedding")} >= 0.35
       |)""".stripMargin

  /** Multi-probe CTE over `semassign` (requires [[semOracleCtes]] in the
    * same WITH): each vector probes its own cell plus every hamming-1
    * neighbour (one bit flipped per plane). A pair within hamming ≤ 1
    * matches on EXACTLY one probe (the probe list has distinct values
    * and at most one can equal the partner's home cell), so the probe
    * join emits no duplicates. Used by q_dedup_embedding. */
  private[queries] lazy val semProbesCte: String =
    s"""semprobes AS (
       |  SELECT vec_id, embedding, label,
       |    unnest(list_prepend(cell, list_transform(generate_series(0, $duckSemBits - 1),
       |      j -> xor(cell, (1 << j))))) AS probe
       |  FROM semassign
       |)""".stripMargin

  /** Per-vector cell assignment (vec_id, embedding, label, cell) — a
    * single zero-exchange projection over the corpus scan. */
  private[graft] def semanticAssign(
      s: org.apache.spark.sql.SparkSession, dir: String,
      bits: Int): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        semCellCol("embedding", bits).cast("int").as("cell"))

  /** Shared SemDeDup machinery: the per-vector cell assignment (scoped-
    * persisted — it feeds both pair sides and the caller's final join)
    * and the in-cell near-dup pair frame (id_a, id_b). Used by
    * q_dedup_semantic (local-minima keeps) and
    * q_dedup_semantic_clusters (connected-component keeps). `bits` is
    * overridable so DedupSemSpec can prove the blocking identity
    * (bits = 0 → one cell → the pair set IS the exhaustive dot ≥ 0.35
    * set). */
  /** The in-cell semantic near-dup pair frame under the
    * [[graft.io.KernelMemo]] protocol — builder: q_dedup_semantic
    * (always re-runs the salted in-cell pair join); reuser:
    * q_dedup_semantic_clusters, whose own honest cost is then the CC
    * fixpoint it exists to run, not a second pair generation. */
  private[graft] def semanticPairs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      rebuildMemo: Boolean): org.apache.spark.sql.DataFrame =
    graft.io.KernelMemo(s, dir, "sem_pairs", rebuildMemo)(semanticCellsAndPairs(s, dir)._2)

  private[graft] def semanticCellsAndPairs(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      bitsOverride: Option[Int] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val bits = bitsOverride.getOrElse(semBits(s, dir))
    // feeds both pair sides AND the caller's final join; the salted
    // sides differ structurally, so AQE exchange reuse cannot serve
    // them — a scoped cache is the right tool here (unlike the
    // ngram kernel, whose branches DO canonicalize equal)
    val assign = semanticAssign(s, dir, bits).persistScoped()
    // in-cell near-dup pairs, salted (hyperplane cells are uneven on
    // clustered data — duplicate clusters concentrate in one cell —
    // and the salt keeps a hot cell spread over 8 tasks); cheap double
    // prefilter, exact DECIMAL dot on survivors only
    val salts = 8
    val pa = assign.withColumn("salt", pmod(hash(col("vec_id")), lit(salts)))
    val pb = assign.withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
    val pairs = pa.as("a")
      .join(pb.as("b"), expr("a.cell = b.cell and a.salt = b.salt and a.vec_id < b.vec_id"))
      .filter(expr("dot_f(a.embedding, b.embedding) >= 0.3499999"))
      .filter(expr(s"${dot("a.embedding", "b.embedding")} >= 0.35"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    (assign, pairs)
  }
}
