package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.CrossHash.{duck, h}
import graft.io.CacheScope.Persisted
import graft.io.Tables

/** Corpus-curation operators a production training-data pipeline runs
  * between raw ingestion and the final mix — each one shaped for the
  * bounded-memory / bounded-shuffle regime that survives 100 TB:
  *
  *  - `q_heavy_hitters`: exact heavy hitters via a Misra–Gries candidate
  *    sketch ([[graft.functions.MisraGriesAgg]]) + exact join-back — the
  *    two-pass trick that replaces a full-vocabulary shuffle with an
  *    O(k) map-side summary and a broadcast of ≤ k candidates.
  *  - `q_dedup_incremental`: dedup an INCOMING batch against an EXISTING
  *    corpus (exact fingerprint + 3-gram Jaccard), the production shape
  *    where yesterday's corpus is already deduplicated and only the new
  *    batch needs vetting. Candidates come from an inverted-index join —
  *    never incoming × existing.
  *  - `q_decontaminate_bloom`: q_decontaminate with the eval set
  *    collapsed to a bloom filter probed map-side — the decontamination
  *    shape for reference sets too large to broadcast as a hash relation.
  *  - `q_source_curation`: domain/source-level quality gating (the
  *    CCNet/RefinedWeb move): aggregate per-doc quality up to the source,
  *    drop whole sources below the bar.
  *  - `q_random_projection`: Achlioptas ±1 random projection 64-d → 16-d,
  *    the cheap deterministic dimensionality reduction before clustering
  *    or coarse ANN; per-row map-only, weights are plan-time constants.
  *  - `q_pca_power`: top principal component of the embedding covariance
  *    via power iteration — exact integer Gram accumulation (the only
  *    corpus-wide reductions, order-free) + a pinned-fold double
  *    iteration on the tiny d×d matrix, then a map-only per-row
  *    projection. The data-driven counterpart of the random projection.
  */
object Curation {

  private val tokens = "split(trim(text), '\\\\s+')"
  private val duckTokens = raw"regexp_split_to_array(trim(text), '\s+')"

  /** DuckDB word-3-gram shingle set (the Spark side goes through
    * [[Dedup.shingleFrame]]/[[Dedup.postingsOf]]). */
  private val duckShingles =
    "list_distinct(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"

  /** MG capacity: every token with freq > n/(K_MG+1) is guaranteed in the
    * candidate set; the final exact filter keeps freq > n/K_MG, safely
    * inside the guarantee for any data distribution. */
  private val K_MG = 64

  /** Derived fine-grained source key for `q_source_overlap_many` (>62
    * sources at every SF): the real source crossed with a 4-way
    * deterministic doc-hash split. Rendered from one rule on both
    * sides so the fixture cannot drift. */
  private val fineSrc =
    s"concat(source, '#', cast(${h("concat('sv#', cast(doc_id as string))")} % 4 as string))"
  private val duckFineSrc =
    s"source || '#' || CAST(${duck("'sv#' || doc_id::VARCHAR")} % 4 AS VARCHAR)"

  /** Pair-grid budget for the overlap output (VERDICT r19 #5): at or
    * under `|S| <=` this, the output enumerates EVERY source pair —
    * zero-overlap pairs included — via a bounded |S|²/2 grid that
    * equi-joins the aggregated co-occurrence table (cheap side-table
    * work; the grid never touches the mask histogram). Past it the
    * |S|² zero-fill is itself the quadratic term (10⁴+ web-domain
    * "sources" → 5·10⁷ all-zero rows nobody reads), so only
    * co-occurring pairs (`inter >= 1`) are emitted — the
    * corpus-derived activation-switch pattern (q_ivf_pruned_assign),
    * expressed identically in the oracle as a flag-gated UNION. */
  private[graft] val OVERLAP_GRID_BUDGET = 1024

  /** The pairwise source-overlap engine kernel, parameterized by the
    * source-key expression (`q_source_overlap` passes the raw column,
    * `q_source_overlap_many` the derived fine key) and the grid budget
    * (`q_source_overlap_cooc` forces 0 — the scale arm stays
    * hash-gate-verified). One corpus-wide exchange: per-shingle
    * membership folds into a ⌈|S|/62⌉-word bitmask array via W
    * fixed-size `bit_or` buffers (HashAggregate — never a per-shingle
    * sid list, the 128-key sort-fallback rule). Everything downstream
    * of the mask-array histogram is EXPLODE work bounded by true
    * co-occurrence (VERDICT r19 #5): each distinct mask emits its
    * C(popcount, 2) set-bit sid pairs through the O(popcount) native
    * [[graft.functions.MaskSids]] loop — the histogram is bounded by
    * observed membership-pattern diversity (≈ distinct shingles at
    * web-domain granularity), so the former |S|²/2-grid ×
    * histogram nested-loop join went quadratic in |S| exactly where
    * the masks got interesting. W derives from the collected |S| (the
    * srcList collect is the bounded sid map, the Markov-vocab rule). */
  private def sourceOverlapFrame(
      s: org.apache.spark.sql.SparkSession, dir: String,
      srcExpr: String,
      gridBudget: Int = OVERLAP_GRID_BUDGET,
      memo: Option[Boolean] = None): org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(expr(srcExpr).as("source"), col("text"))
    // bounded: |S| grouping keys; NULL sources can never equi-join
    // (both engines drop them), so they are excluded from the id map.
    // Lazy (r20): a memo CONSUMER never forces this corpus distinct.
    lazy val srcList = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).filter(_ != null).sorted
    // Both bounded kernel frames — per-source sizes `n` (|S| rows) and
    // the co-occurrence table `interAgg` (true-overlap pairs) — from
    // ONE corpus pass over the persistScoped mask histogram. r20: the
    // pair (keyed by srcExpr) rides [[graft.io.KernelMemo]] so
    // q_source_overlap_cooc (the forced scale arm, identical fineSrc
    // kernel) consumes q_source_overlap_many's build instead of
    // re-running the tokenize+shingle exchange; _many stays the
    // designated always-rebuilding builder (honest full cost).
    lazy val built: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      // max(1,·): a source-less corpus degenerates to one all-zero word
      // (empty output) instead of an opaque empty-aggregate crash
      val nW = math.max(1, (srcList.length + 61) / 62)
      import s.implicits._
      val srcs = srcList.zipWithIndex.map { case (src, i) => (src, i.toLong) }
        .toSeq.toDF("source", "sid")
      val maskAggs = (0 until nW).map { w =>
        expr(s"""bit_or(case when sid div 62 = $w
                |then shiftleft(cast(1 as bigint), cast(sid % 62 as int))
                |else cast(0 as bigint) end)""".stripMargin).as(s"m_$w")
      }
      // the only corpus-wide exchange: per-shingle source bitmask words
      // (bit_or is idempotent, so raw duplicate (source, shingle) rows
      // need no distinct), then the mask-array histogram. The shingle
      // key is CrossHash on BOTH engines (ADVICE r19: the old
      // Spark-only xxhash64 key meant a 64-bit collision merged masks on
      // one side of the hash gate only).
      val mh = docs
        .select(col("source"), expr(tokens).as("w"))
        .filter(expr("size(w) >= 3"))
        .select(col("source"), explode(expr("shingles(w, 3)")).as("sh"))
        .join(broadcast(srcs), "source")
        .select(expr(h("sh")).as("v"), col("sid"))
        .groupBy(col("v")).agg(maskAggs.head, maskAggs.tail: _*)
        .select(array((0 until nW).map(w => col(s"m_$w")): _*).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        .persistScoped() // feeds the per-source sizes and the pair explode
      // per-source set sizes: one sid row per set bit (O(popcount)),
      // summed, then zero-filled over the bounded id map
      val nAgg = mh
        .select(explode(expr("mask_sids(mask)")).as("sid"), col("cnt"))
        .groupBy(col("sid")).agg(sum(col("cnt")).as("n_nz"))
      val n = srcs
        .join(nAgg, Seq("sid"), "left")
        .select(col("source"), col("sid"), coalesce(col("n_nz"), lit(0L)).as("n_sh"))
      // co-occurrence: C(popcount, 2) sid pairs per distinct mask —
      // bounded by TRUE co-occurrence, never the |S|² grid
      val interAgg = mh
        .select(expr("mask_sids(mask)").as("sids"), col("cnt"))
        .select(explode(col("sids")).as("sa"), col("sids"), col("cnt"))
        .select(col("sa"), explode(col("sids")).as("sb"), col("cnt"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(sum(col("cnt")).as("inter"))
      (n, interAgg)
    }
    val kN = s"source_overlap_n#$srcExpr"
    val kI = s"source_overlap_inter#$srcExpr"
    val (n, interAgg) = memo match {
      case None => built
      case Some(rebuild) =>
        (graft.io.KernelMemo(s, dir, kN, rebuild)(built._1),
          graft.io.KernelMemo(s, dir, kI, rebuild)(built._2))
    }
    // |S| for the grid-arm switch: a consumer reads it off the bounded
    // checkpointed n frame (one |S|-row count, no corpus pass); builders
    // have the id map anyway.
    val nS: Long = memo match {
      case Some(false) => n.count()
      case _ => srcList.length.toLong
    }
    val pairs =
      if (nS <= gridBudget) {
        // zero-fill arm: the bounded grid equi-joins the aggregate
        val srcs = n.select(col("source"), col("sid"))
        val grid = srcs.as("a")
          .join(srcs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.sid").as("sa"), col("b.sid").as("sb"))
        grid.join(interAgg, Seq("sa", "sb"), "left")
          .select(col("sa"), col("sb"),
            coalesce(col("inter"), lit(0L)).as("inter"))
      } else interAgg
    pairs
      .join(broadcast(n.select(col("sid").as("sa"), col("source").as("source_a"),
        col("n_sh").as("n_a"))), "sa")
      .join(broadcast(n.select(col("sid").as("sb"), col("source").as("source_b"),
        col("n_sh").as("n_b"))), "sb")
      .select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("inter"),
        // zero-denominator NULL guards IDENTICAL to the oracle
        // (ADVICE r13): the pair grid spans ALL distinct sources,
        // so a pair where both sides produced zero shingles would be
        // 0/0 — NaN on Spark, engine-config-dependent in DuckDB, a
        // hash-gate hazard. Same guard shape as q_classifier_pr_curve.
        when(col("n_a") + col("n_b") - col("inter") > 0,
          col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
          .as("jaccard"),
        when(least(col("n_a"), col("n_b")) > 0,
          col("inter").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
  }

  /** DuckDB twin of [[sourceOverlapFrame]]: the oracle stays static SQL
    * at ANY source count by folding each shingle's membership into a
    * sorted DISTINCT sid list and building the histogram on the list —
    * semantically the mask-array histogram, with no width parameter in
    * the SQL text. The shingle key is the shared CrossHash (ADVICE
    * r19), the co-occurrence table comes from the same per-mask pair
    * enumeration (two unnests over the sid list), and the grid-budget
    * switch is the flag-gated UNION over one shared `ofull` CTE —
    * zero-filled grid under the budget, `inter >= 1` pairs past it. */
  private def sourceOverlapOracle(duckSrc: String, gridBudget: Int): String =
    raw"""WITH tok AS (
      |  SELECT $duckSrc AS source, $duckTokens AS w FROM documents
      |), srcs AS (
      |  SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS sid
      |  FROM (SELECT DISTINCT $duckSrc AS source FROM documents)
      |), ex AS (
      |  SELECT source, unnest($duckShingles) AS sh
      |  FROM tok WHERE len(w) >= 3
      |), mh AS (
      |  SELECT sset, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT hv, list_sort(list(DISTINCT sid)) AS sset
      |    FROM (SELECT ${duck("sh")} AS hv, sid FROM ex JOIN srcs USING (source))
      |    GROUP BY hv)
      |  GROUP BY sset
      |), n AS (
      |  SELECT s.source, s.sid, CAST(coalesce(sum(
      |      CASE WHEN list_contains(mh.sset, s.sid) THEN mh.cnt END), 0) AS BIGINT) AS n_sh
      |  FROM srcs s LEFT JOIN mh ON list_contains(mh.sset, s.sid)
      |  GROUP BY s.source, s.sid
      |), ia AS (
      |  SELECT u1.sa, u2.sb, CAST(sum(cnt) AS BIGINT) AS inter
      |  FROM mh, unnest(mh.sset) AS u1(sa), unnest(mh.sset) AS u2(sb)
      |  WHERE u1.sa < u2.sb
      |  GROUP BY u1.sa, u2.sb
      |), i AS (
      |  SELECT a.sid AS sa, b.sid AS sb,
      |    CAST(coalesce(ia.inter, 0) AS BIGINT) AS inter
      |  FROM srcs a JOIN srcs b ON a.source < b.source
      |  LEFT JOIN ia ON ia.sa = a.sid AND ia.sb = b.sid
      |), ofull AS (
      |  SELECT na.source AS source_a, nb.source AS source_b,
      |    na.n_sh AS n_a, nb.n_sh AS n_b, i.inter,
      |    CASE WHEN na.n_sh + nb.n_sh - i.inter > 0
      |      THEN CAST(i.inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter) END AS jaccard,
      |    CASE WHEN least(na.n_sh, nb.n_sh) > 0
      |      THEN CAST(i.inter AS DOUBLE) / least(na.n_sh, nb.n_sh) END AS containment
      |  FROM i JOIN n na ON na.sid = i.sa JOIN n nb ON nb.sid = i.sb
      |), flag AS (
      |  SELECT count(*) <= $gridBudget AS small FROM srcs
      |)
      |SELECT * FROM ofull WHERE (SELECT small FROM flag)
      |UNION ALL
      |SELECT * FROM ofull WHERE NOT (SELECT small FROM flag) AND inter >= 1""".stripMargin

  /** Count-Min geometry: d hash rows × w counters (w deliberately tight
    * for the harness vocabulary so collisions — est > exact — actually
    * show up in the output). */
  private val CM_D = 3
  private val CM_W = 16

  /** PCA geometry: embedding dimension, power-iteration rounds, and the
    * quantization scale (a POWER OF TWO so float→fixed-point is exact in
    * binary FP and both engines see identical integers). */
  private val PCA_D = 64
  private val PCA_ROUNDS = 8
  private val PCA_SCALE = 1024

  val queries: Seq[Q] = Seq(

    // ---- exact heavy hitters: MG candidates + exact join-back --------------
    // Pass 1 aggregates the token stream into ONE k-counter summary
    // (map-side partials are each O(k); the shuffle moves k counters per
    // partition, not the vocabulary). Pass 2 re-streams tokens against
    // the ≤ k broadcast candidates for exact counts. The MG guarantee
    // (freq > n/(k+1) ⇒ in summary) makes the candidate set a proven
    // superset of the final answer, so the result is EXACT — which is
    // why a DuckDB oracle that just counts everything must agree.
    Q(
      "q_heavy_hitters",
      raw"""WITH tok AS (
        |  SELECT unnest($duckTokens) AS t FROM documents
        |), cnts AS (
        |  SELECT t, count(*) AS cnt FROM tok GROUP BY t
        |), n AS (
        |  SELECT count(*) AS n_tok FROM tok
        |)
        |SELECT t, cnt FROM cnts, n WHERE cnt * $K_MG > n_tok""") { (s, dir) =>
      val toks = Tables(s, dir, "documents").select(explode(expr(tokens)).as("t"))
      // ONE aggregate produces the sketch AND the stream length — a
      // separate count() branch would re-tokenize the whole corpus,
      // turning the advertised two passes into three
      val sketch = toks
        .agg(expr(s"mg_agg(t, $K_MG)").as("mg"), count(lit(1)).as("n_tok"))
      val cands = sketch
        .select(col("n_tok"), explode(col("mg")).as("e"))
        .select(col("e.t").as("t"), col("n_tok"))
      toks
        .join(broadcast(cands), Seq("t"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("cnt"), first(col("n_tok")).as("n_tok"))
        .filter(col("cnt") * K_MG > col("n_tok"))
        .select(col("t"), col("cnt"))
    },

    // ---- incremental dedup: vet an INCOMING batch against the corpus -------
    // The production shape: the existing corpus is already deduplicated;
    // only the new batch (here the deterministic doc_id % 5 = 0 slice)
    // needs vetting, and it must NEVER re-pair existing docs with each
    // other. Exact duplicates via fingerprint equi-join; near-dups via
    // the same inverted-index shape as q_dedup_ngram_jaccard but with
    // the incoming slice as the probe side — candidates are only
    // (incoming, existing) pairs sharing a shingle hash, never
    // incoming x existing. At web scale the existing postings are the
    // big side and the per-shingle fan-out is bounded by the hot-shingle
    // cap knob (Dedup.ngramJaccardPairs maxDf); uncapped here so the
    // DuckDB oracle is exact. Jaccard division is per-pair IEEE double
    // (bit-identical cross-engine); max() is selection, not accumulation.
    Q(
      "q_dedup_incremental",
      raw"""WITH tok AS (
        |  SELECT doc_id, lang, $duckTokens AS w FROM documents
        |), sh0 AS (
        |  SELECT doc_id, lang, $duckShingles AS l FROM tok WHERE len(w) >= 3
        |), sh AS (
        |  SELECT doc_id, lang, len(l) AS n_sh, unnest(l) AS s FROM sh0
        |), pairs AS (
        |  SELECT i.doc_id AS id_i, e.doc_id AS id_e,
        |    any_value(i.n_sh) AS n_a, any_value(e.n_sh) AS n_b, count(*) AS i
        |  FROM sh i JOIN sh e ON i.s = e.s AND i.lang = e.lang
        |  WHERE i.doc_id % 5 = 0 AND e.doc_id % 5 <> 0
        |  GROUP BY 1, 2
        |), best AS (
        |  SELECT id_i, max(CAST(i AS DOUBLE) / (n_a + n_b - i)) AS max_jaccard
        |  FROM pairs GROUP BY id_i
        |), fps AS (
        |  SELECT doc_id, ${duck("lower(text)")} AS fp FROM documents
        |), dup AS (
        |  SELECT DISTINCT i.doc_id FROM fps i JOIN fps e
        |  ON i.fp = e.fp AND i.doc_id % 5 = 0 AND e.doc_id % 5 <> 0
        |)
        |SELECT d.doc_id,
        |  CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup_exact,
        |  coalesce(best.max_jaccard, 0.0) AS max_jaccard,
        |  CASE WHEN dup.doc_id IS NULL AND coalesce(best.max_jaccard, 0.0) < 0.5
        |       THEN 1 ELSE 0 END AS kept
        |FROM documents d
        |LEFT JOIN best ON d.doc_id = best.id_i
        |LEFT JOIN dup ON d.doc_id = dup.doc_id
        |WHERE d.doc_id % 5 = 0""") { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // the family-shared postings frame (Dedup.shingleFrame/postingsOf):
      // same tokenization, shingling, and hash as every other 3-gram kernel
      val ex = Dedup.postingsOf(Dedup.shingleFrame(s, dir))
      val best = ex.filter(col("doc_id") % 5 === 0).as("a")
        .join(
          ex.filter(col("doc_id") % 5 =!= 0).as("b"),
          expr("a.v = b.v AND a.lang = b.lang"))
        .groupBy(col("a.doc_id").as("id_i"), col("b.doc_id").as("id_e"))
        .agg(
          first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"),
          count(lit(1)).as("i"))
        .groupBy(col("id_i"))
        .agg(max(expr("cast(i as double) / (n_a + n_b - i)")).as("max_jaccard"))
      val fps = docs.select(col("doc_id"), expr(h("lower(text)")).as("fp"))
      val dupHit = fps.filter(col("doc_id") % 5 === 0)
        .join(
          fps.filter(col("doc_id") % 5 =!= 0).select(col("fp")).distinct()
            .withColumn("hit", lit(1)),
          Seq("fp"), "left")
        .select(col("doc_id"), col("hit"))
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
        .join(best, col("doc_id") === col("id_i"), "left")
        .join(dupHit, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          when(col("hit").isNotNull, 1).otherwise(0).as("dup_exact"),
          coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
          when(col("hit").isNull && coalesce(col("max_jaccard"), lit(0.0)) < 0.5, 1)
            .otherwise(0).as("kept"))
    },

    // ---- source-level curation: drop whole domains below the bar -----------
    // The CCNet/RefinedWeb move: per-doc quality (the shared stopword
    // gate from TextAnalysis) aggregates up to the source/domain, and a
    // source whose keep-fraction is below threshold is dropped wholesale.
    // Pure map stage + one tiny aggregate (|sources| rows) — nothing
    // about this plan changes at 100 TB. The mean stopword ratio is a
    // float aggregate, so it accumulates in DECIMAL (dec_cast per row,
    // fixed-scale sum) and surfaces as DOUBLE on both engines.
    Q(
      "q_source_curation",
      raw"""WITH per AS (
        |  SELECT source,
        |    CASE WHEN len(w) >= 10
        |          AND CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is'))) AS DOUBLE) / len(w) >= 0.01
        |         THEN 1 ELSE 0 END AS keep,
        |    CAST(CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is'))) AS DOUBLE) / len(w)
        |         AS DECIMAL(18,12)) AS sr_dec
        |  FROM (SELECT source, $duckTokens AS w FROM documents)
        |)
        |SELECT source, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_keep,
        |  CAST(sum(keep) AS DOUBLE) / count(*) AS keep_frac,
        |  CAST(CAST(sum(sr_dec) AS DECIMAL(28,12)) AS DOUBLE) / count(*) AS mean_stop,
        |  CASE WHEN CAST(sum(keep) AS DOUBLE) / count(*) >= 0.9
        |       THEN 'keep' ELSE 'drop' END AS verdict
        |FROM per GROUP BY source""") { (s, dir) =>
      Tables(s, dir, "documents")
        // one codegen'd pass: token total + stopword count (the shared
        // English gate set) — marker_scores is variadic, one set suffices
        .select(col("source"), expr(s"marker_scores($tokens, 'the,a,of,and,is')").as("ms"))
        .select(
          col("source"),
          expr("case when ms.total >= 10 and cast(ms.c0 as double) / ms.total >= 0.01 then 1 else 0 end").as("keep"),
          expr("dec_cast(cast(ms.c0 as double) / ms.total, 18, 12)").as("sr_dec"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("keep")).cast("long").as("n_keep"),
          sum(col("sr_dec")).cast("decimal(28,12)").as("sum_sr"))
        .select(
          col("source"), col("n_docs"), col("n_keep"),
          (col("n_keep").cast("double") / col("n_docs")).as("keep_frac"),
          (col("sum_sr").cast("double") / col("n_docs")).as("mean_stop"),
          when(col("n_keep").cast("double") / col("n_docs") >= 0.9, "keep")
            .otherwise("drop").as("verdict"))
    },

    // ---- bloom-gated decontamination ---------------------------------------
    // Same semantics (and oracle) as q_decontaminate, the forced SCALE
    // branch of that query's eval-size switch (VERDICT r13 #1): instead
    // of broadcasting the eval 5-gram HASH SET, the eval side collapses
    // to a Spark BloomFilter (bloom_agg — the engine's own
    // runtime-filter sketch) evaluated as a scalar subquery, and the
    // corpus stream is pre-filtered by might_contain BEFORE the join.
    // When the eval/reference set is too large for a broadcast hash
    // relation (~100M n-grams = GBs as a hash set, MBs as a bloom), this
    // is the shape that survives: the exact confirm join then runs over
    // only the bloom survivors, so the join input is a few false
    // positives away from the final answer. The confirm join is left
    // UNHINTED — the result stays exact whatever the FP rate, which is
    // why the q_decontaminate oracle must agree row-for-row. Keeping
    // this registered pins the scale branch hash-gate-green at every
    // SF whatever branch the switch derives (the q_ivf_pruned_assign
    // rule). Implementation shared with the switch:
    // [[TextAnalysis.decontaminateBloom]].
    Q(
      "q_decontaminate_bloom",
      raw"""WITH tok AS (
        |  SELECT doc_id, $duckTokens AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
        |  FROM tok WHERE len(w) >= 5
        |), ev AS (
        |  SELECT DISTINCT s FROM sh WHERE doc_id % 29 = 0
        |)
        |SELECT sh.doc_id, count(*) AS n_overlap
        |FROM sh JOIN ev USING (s)
        |WHERE sh.doc_id % 29 <> 0
        |GROUP BY sh.doc_id""") { (s, dir) =>
      TextAnalysis.decontaminateBloom(s, dir)
    },

    // ---- Count-Min sketch: point-frequency estimates at bounded memory -----
    // The other classic frequency sketch next to Misra-Gries: d=3 hash
    // rows x w=16 counters, estimate(t) = min over rows of the counter t
    // hashes into — always >= the true count, overshoot bounded by
    // collisions (~n/w per row). Because the bucket hash is the shared
    // CrossHash, the WHOLE sketch is a deterministic function of the
    // token multiset, so it needs no custom aggregate at all: explode x3
    // rows -> groupBy(row, bucket) IS the sketch (<= d*w rows whatever
    // the corpus size, map-side combine collapses everything before the
    // shuffle), and DuckDB rebuilds the identical sketch from its own
    // token counts — an EXACTLY oracle-checked approximate structure.
    // w is deliberately tight for the harness corpus so collisions
    // (est > exact) actually occur; the est >= exact invariant is
    // visible in the output columns.
    Q(
      "q_count_min", {
        val duckBucket = (row: Int) =>
          s"${duck(s"'cm$row#' || t")} % $CM_W"
        val rows = (0 until CM_D).map { r =>
          s"SELECT $r AS r, ${duckBucket(r)} AS b, cnt FROM exact"
        }.mkString(" UNION ALL ")
        raw"""WITH tok AS (
          |  SELECT unnest($duckTokens) AS t FROM documents
          |), exact AS (
          |  SELECT t, count(*) AS cnt FROM tok GROUP BY t
          |), sketch AS (
          |  SELECT r, b, CAST(sum(cnt) AS BIGINT) AS counter
          |  FROM ($rows) GROUP BY r, b
          |), est AS (
          |  SELECT t, min(counter) AS est FROM (
          |    ${(0 until CM_D).map(r =>
               s"SELECT e.t, s.counter FROM exact e JOIN sketch s ON s.r = $r AND s.b = ${duckBucket(r)}"
             ).mkString(" UNION ALL ")}
          |  ) GROUP BY t
          |)
          |SELECT exact.t, cnt AS exact_cnt, est, est - cnt AS overcount
          |FROM exact JOIN est ON exact.t = est.t""".stripMargin
      }) { (s, dir) =>
      // r20: ONE corpus tokenize pass. The sketch is a pure function of
      // the exact token counts (the oracle builds it FROM exact), so
      // derive everything from the persistScoped vocab frame: d bucket
      // rows per DISTINCT token weighted by cnt — the old shape
      // re-exploded the raw corpus for the sketch and read the exact
      // aggregate through a 3-arm union (4 evaluations of the
      // tokenize+count subtree; vocab is Heap's-law bounded, so the
      // scoped cache is a model-sized frame, not the corpus).
      val toks = Tables(s, dir, "documents").select(explode(expr(tokens)).as("t"))
      val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .persistScoped() // feeds the bucket explode AND the final join
      val rb = exact.select(col("t"), col("cnt"),
        explode(expr(s"array(${(0 until CM_D).map(r =>
          s"struct(${r} as r, ${h(s"concat('cm$r#', t)")} % $CM_W as b)").mkString(", ")})")).as("rb"))
        .select(col("t"), col("cnt"), col("rb.r").as("r"), col("rb.b").as("b"))
      val sketch = rb
        .groupBy(col("r"), col("b"))
        .agg(sum(col("cnt")).cast("long").as("counter"))
      val est = rb
        .join(broadcast(sketch), Seq("r", "b"))
        .groupBy(col("t"))
        .agg(min(col("counter")).as("est"))
      exact.join(est, Seq("t"))
        .select(col("t"), col("cnt").as("exact_cnt"), col("est"),
          (col("est") - col("cnt")).as("overcount"))
    },

    // ---- Achlioptas +-1 random projection: 64-d -> 16-d --------------------
    // The cheap deterministic dimensionality reduction before clustering
    // / coarse ANN (Achlioptas 2003: +-1 entries preserve pairwise
    // distances in expectation like Gaussian projections). The sign
    // matrix is derived from CrossHash at PLAN time, so each output dim
    // is one codegen'd 64-term double sum in fixed left-fold order — a
    // pure map stage, zero shuffles, with the identical +-1 literals
    // baked into the DuckDB oracle text. Per-ROW IEEE double arithmetic
    // in a pinned order is bit-identical cross-engine (the proven LSH
    // hyperplane pattern in Similarity); a DECIMAL(_,12) snap would
    // actually BREAK here — with +-1 signs the "product" is the raw
    // float, whose short mantissa makes decimal half-ties likely, and
    // the two engines break ties differently.
    Q(
      "q_random_projection", {
        val dims = rpSigns.zipWithIndex.map { case (signs, k) =>
          val lst = signs.mkString("[", ", ", "]")
          s"""list_reduce(list_transform(generate_series(1, 64),
             |    i -> CAST(($lst)[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
             |  (x, y) -> x + y) AS p$k""".stripMargin
        }.mkString(",\n  ")
        s"SELECT vec_id,\n  $dims\nFROM embeddings"
      }) { (s, dir) =>
      // native plane_sums loop (round 13): the 16×64 inlined term tree
      // pushed the generated map-stage method past the JIT compile
      // threshold (the PlaneCell lesson); identical left-fold values
      val wSql = rpSigns // the D suffix keeps the literals DOUBLE, not DECIMAL
        .map(_.map(w => s"${w}D").mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")
      val ps = expr(s"plane_sums(embedding, $wSql)")
      Tables(s, dir, "embeddings")
        .select(col("vec_id") +:
          rpSigns.indices.map(k => element_at(ps, k + 1).as(s"p$k")): _*)
    },

    // ---- PCA top component: exact integer Gram + pinned power iteration ----
    // The data-driven complement of the random projection: project every
    // embedding onto the dominant eigenvector of the (centered)
    // covariance — the first step of whitening, spectral outlier
    // scoring, or picking the split axis for balanced partitioning.
    // Cross-engine strategy: quantize floats to floor(x·2^10) BIGINTs
    // (power-of-two scaling is exact in binary FP, so both engines see
    // identical integers), accumulate the scaled centered second-moment
    // matrix n·G − s·sᵀ with EXACT integer sums — the only corpus-wide
    // reductions, and integer sums are order-free — then run the
    // 8 power-iteration rounds on the tiny d×d matrix in IEEE doubles
    // with every reduction a pinned left fold. Spark iterates in the
    // driver (d² scalars collected from HashAggregates — the bounded
    // telemetry pattern of k-means/BPE, not row data); DuckDB iterates
    // in unrolled MATERIALIZED CTEs; identical operation order makes
    // the vectors bit-equal, so the per-row scores agree pre-snap
    // (validated 500/500 exact at sf0.01). The projection itself is one
    // codegen'd 64-term sum — map-only, zero shuffles, the
    // q_random_projection plan shape. At 100 TB the Gram pass is one
    // scan with map-side combine to d² longs per partition; the d×N
    // explode cost could drop to a single long[d·(d+1)/2] imperative
    // aggregate (the MinHashAgg pattern) if the constant ever matters.
    Q(
      "q_pca_power", {
        val rounds = (1 to PCA_ROUNDS).map { r =>
          s"""w$r AS MATERIALIZED (
             |  SELECT r.i AS i,
             |    list_reduce(list_transform(generate_series(1, $PCA_D), k -> r.arow[k] * pv.v[k]),
             |      (x, y) -> x + y) AS w
             |  FROM arows r, v${r - 1} pv
             |), v$r AS MATERIALIZED (
             |  SELECT list_transform(wl, x -> x / nrm) AS v FROM (
             |    SELECT wl, sqrt(list_reduce(list_transform(wl, x -> x * x), (x, y) -> x + y)) AS nrm
             |    FROM (SELECT list(w ORDER BY i) AS wl FROM w$r))
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS MATERIALIZED (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_SCALE) AS BIGINT)) AS q
           |  FROM embeddings
           |), n AS (SELECT count(*) AS n FROM q),
           |s AS MATERIALIZED (
           |  SELECT i, sum(q[i]) AS s FROM q, generate_series(1, $PCA_D) t(i) GROUP BY i
           |),
           |g AS MATERIALIZED (
           |  SELECT ti.i AS i, tj.j AS j, sum(q.q[ti.i] * q.q[tj.j]) AS g
           |  FROM q, generate_series(1, $PCA_D) ti(i), generate_series(1, $PCA_D) tj(j)
           |  GROUP BY 1, 2
           |),
           |arows AS MATERIALIZED (
           |  SELECT i, list(a ORDER BY j) AS arow FROM (
           |    SELECT g.i, g.j, CAST(n.n * g.g - s1.s * s2.s AS DOUBLE) AS a
           |    FROM g, n, s s1, s s2 WHERE s1.i = g.i AND s2.i = g.j)
           |  GROUP BY i
           |),
           |v0 AS (SELECT list_transform(generate_series(1, $PCA_D), k -> 0.125) AS v),
           |$rounds
           |SELECT q.vec_id,
           |  CAST(CAST(list_reduce(list_transform(generate_series(1, $PCA_D),
           |      k -> pv.v[k] * CAST(q.q[k] AS DOUBLE)), (x, y) -> x + y)
           |    AS DECIMAL(18, 9)) AS DOUBLE) AS score
           |FROM q, v$PCA_ROUNDS pv""".stripMargin
      }) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      def quant(x: String) = s"cast(floor(cast($x as double) * $PCA_SCALE) as bigint)"
      // ONE pass, ONE buffer: gram_agg folds count, per-dim sums and
      // the Gram upper triangle into a single long[2145] imperative
      // aggregate (graft.functions.GramAgg) — replacing the former
      // double-posexplode formulation, which fanned every vector to
      // d² = 4096 rows before aggregation. Same exact integers (the
      // quantization is bit-identical), so the oracle and hashes are
      // unchanged; the collect is one row of bounded telemetry.
      val row = e
        .agg(expr(s"gram_agg(embedding, $PCA_D, $PCA_SCALE)").as("b"))
        .head().getSeq[Long](0)
      val n = row(0)
      val sv = row.slice(1, 1 + PCA_D).toArray
      val a = Array.ofDim[Double](PCA_D, PCA_D)
      var idx = 1 + PCA_D
      for (i <- 0 until PCA_D; j <- i until PCA_D) {
        // BigInt centering (ADVICE r10): with scale=1024 and |x| ≤ 1,
        // n·g_ij approaches Long.MaxValue near n ~ 3e6 vectors and
        // Long arithmetic would WRAP silently (DuckDB raises instead).
        // The exact wide product is O(d²) driver-side work — free —
        // and .toDouble of the wide value matches a HUGEINT→DOUBLE
        // round-to-nearest on the oracle side.
        val v = (BigInt(n) * row(idx) - BigInt(sv(i)) * sv(j)).toDouble
        a(i)(j) = v
        a(j)(i) = v
        idx += 1
      }
      // pinned-order power iteration: product list first, then a strict
      // left fold — operation-for-operation the DuckDB CTE rounds
      var v = Array.fill(PCA_D)(0.125)
      for (_ <- 1 to PCA_ROUNDS) {
        val w = Array.tabulate(PCA_D) { i =>
          var acc = a(i)(0) * v(0)
          var k = 1
          while (k < PCA_D) { acc = acc + a(i)(k) * v(k); k += 1 }
          acc
        }
        var nacc = w(0) * w(0)
        var k = 1
        while (k < PCA_D) { nacc = nacc + w(k) * w(k); k += 1 }
        val nrm = math.sqrt(nacc)
        v = w.map(_ / nrm)
      }
      val score = (1 to PCA_D).map { k =>
        lit(v(k - 1)) * expr(quant(s"element_at(embedding, $k)")).cast("double")
      }.reduceLeft(_ + _)
      e.select(col("vec_id"),
        call_function("dec_cast", score, lit(18), lit(9)).cast("double").as("score"))
    },

    // ---- embedding-space spectrum diagnostics ------------------------------
    // Effective rank of the embedding cloud (participation ratio,
    // Roy & Vetterli 2007): PR = tr(A)² / tr(A²) of the centered
    // scatter matrix — 1.0 when all variance lives on one axis, d when
    // isotropic. The one-number anisotropy check run before trusting
    // cosine similarity or picking an IVF cell count. Reuses the PCA
    // quantization and the one-pass gram_agg reduction (the ONLY
    // corpus-wide work — one long[2145] buffer per partition); both
    // traces are then pinned left folds over the exact-integer matrix
    // in IEEE doubles, identical operation order in both engines.
    Q(
      "q_embedding_spectrum", {
        s"""WITH q AS MATERIALIZED (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $PCA_SCALE) AS BIGINT)) AS q
           |  FROM embeddings
           |), n AS (SELECT count(*) AS n FROM q),
           |s AS MATERIALIZED (
           |  SELECT i, sum(q[i]) AS s FROM q, generate_series(1, $PCA_D) t(i) GROUP BY i
           |),
           |g AS MATERIALIZED (
           |  SELECT ti.i AS i, tj.j AS j, sum(q.q[ti.i] * q.q[tj.j]) AS g
           |  FROM q, generate_series(1, $PCA_D) ti(i), generate_series(1, $PCA_D) tj(j)
           |  GROUP BY 1, 2
           |),
           |arows AS MATERIALIZED (
           |  SELECT i, list(a ORDER BY j) AS arow FROM (
           |    SELECT g.i, g.j, CAST(n.n * g.g - s1.s * s2.s AS DOUBLE) AS a
           |    FROM g, n, s s1, s s2 WHERE s1.i = g.i AND s2.i = g.j)
           |  GROUP BY i
           |), am AS (SELECT list(arow ORDER BY i) AS rows FROM arows),
           |tr AS (
           |  SELECT
           |    list_reduce(list_transform(generate_series(1, $PCA_D),
           |      i -> rows[i][i]), (x, y) -> x + y) AS trace,
           |    list_reduce(list_transform(generate_series(1, ${PCA_D * PCA_D}),
           |      k -> rows[((k - 1) // $PCA_D) + 1][((k - 1) % $PCA_D) + 1]
           |           * rows[((k - 1) // $PCA_D) + 1][((k - 1) % $PCA_D) + 1]),
           |      (x, y) -> x + y) AS trace_sq
           |  FROM am
           |)
           |SELECT $PCA_D AS d, n.n AS n_vectors,
           |  CAST(CAST(trace / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE) * ${PCA_SCALE.toDouble * PCA_SCALE})
           |    AS DECIMAL(18, 9)) AS DOUBLE) AS total_variance,
           |  CAST(CAST(trace * trace / trace_sq AS DECIMAL(18, 9)) AS DOUBLE) AS participation_ratio,
           |  CAST(CAST(trace * trace / trace_sq / $PCA_D AS DECIMAL(18, 12)) AS DOUBLE) AS effective_rank_frac
           |FROM tr, n""".stripMargin
      }) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val row = e
        .agg(expr(s"gram_agg(embedding, $PCA_D, $PCA_SCALE)").as("b"))
        .head().getSeq[Long](0)
      val n = row(0)
      val sv = row.slice(1, 1 + PCA_D).toArray
      val a = Array.ofDim[Double](PCA_D, PCA_D)
      var idx = 1 + PCA_D
      for (i <- 0 until PCA_D; j <- i until PCA_D) {
        // BigInt centering (ADVICE r10): with scale=1024 and |x| ≤ 1,
        // n·g_ij approaches Long.MaxValue near n ~ 3e6 vectors and
        // Long arithmetic would WRAP silently (DuckDB raises instead).
        // The exact wide product is O(d²) driver-side work — free —
        // and .toDouble of the wide value matches a HUGEINT→DOUBLE
        // round-to-nearest on the oracle side.
        val v = (BigInt(n) * row(idx) - BigInt(sv(i)) * sv(j)).toDouble
        a(i)(j) = v
        a(j)(i) = v
        idx += 1
      }
      // pinned left folds, operation-for-operation the DuckDB
      // list_reduce rounds: seed with the first term, add in index order
      var trace = a(0)(0)
      var i2 = 1
      while (i2 < PCA_D) { trace = trace + a(i2)(i2); i2 += 1 }
      var traceSq = a(0)(0) * a(0)(0)
      var k = 1
      while (k < PCA_D * PCA_D) {
        val v = a(k / PCA_D)(k % PCA_D)
        traceSq = traceSq + v * v
        k += 1
      }
      val nd = n.toDouble
      val totalVar = trace / (nd * nd * (PCA_SCALE.toDouble * PCA_SCALE))
      val pr = trace * trace / traceSq
      import s.implicits._
      Seq((PCA_D, n, totalVar, pr, pr / PCA_D))
        .toDF("d", "n_vectors", "total_variance", "participation_ratio", "effective_rank_frac")
        .select(col("d"), col("n_vectors"),
          call_function("dec_cast", col("total_variance"), lit(18), lit(9)).cast("double").as("total_variance"),
          call_function("dec_cast", col("participation_ratio"), lit(18), lit(9)).cast("double").as("participation_ratio"),
          call_function("dec_cast", col("effective_rank_frac"), lit(18), lit(12)).cast("double").as("effective_rank_frac"))
    },

    // ---- cross-source corpus overlap ---------------------------------------
    // Pairwise shingle-set overlap between sources — the planning pass
    // before a cross-source dedup or mixing decision: which domains
    // duplicate each other, and is one contained in another (mirror
    // sites, syndication)? Round-13 formulation: instead of a distinct
    // + inverted self-join (3 corpus-wide exchanges), each shingle
    // aggregates its source-membership BITMASK in one `bit_or` pass —
    // a fixed per-key HashAggregate buffer, duplicates are idempotent
    // so no distinct is needed, and the ONLY corpus shuffle is that
    // groupBy. Round 19 (VERDICT r18 #2) lifts the 62-source BIGINT
    // ceiling: the mask is now ⌈|S|/62⌉ words wide, corpus-derived —
    // a real crawl has thousands of domains. Round 20 (VERDICT r19 #5)
    // scale-proofs the pair stage: every pairwise intersection and set
    // size now comes from EXPLODING each distinct mask's set-bit sids
    // (O(popcount) native loop, C(popcount,2) pairs — bounded by true
    // co-occurrence), never from nested-loop joining the |S|²/2 pair
    // grid against the histogram (which is bounded by membership-
    // pattern DIVERSITY, not a constant — quadratic in |S| at web-
    // domain granularity). Sources are a bounded set (the Markov-vocab
    // rule): the dense id map collects |S| rows. Jaccard and
    // containment stay single int/int divisions.
    Q("q_source_overlap",
      sourceOverlapOracle("source", OVERLAP_GRID_BUDGET)) { (s, dir) =>
      sourceOverlapFrame(s, dir, "source")
    },

    // The SAME kernel forced past one mask word: a derived fine-grained
    // source key (source × a 4-way content-hash split → 80 sources at
    // every SF) exercises the multi-word path under the hash gate —
    // the derived-corpus fixture rule (r18); the base query above runs
    // whatever width the real corpus needs.
    Q("q_source_overlap_many",
      sourceOverlapOracle(duckFineSrc, OVERLAP_GRID_BUDGET)) { (s, dir) =>
      sourceOverlapFrame(s, dir, fineSrc, memo = Some(true))
    },

    // The kernel FORCED past the grid budget (budget 0 → the scale
    // arm: co-occurring pairs only, no |S|² zero-fill) so the branch
    // that runs at web-domain source counts stays hash-gate-verified —
    // the q_ivf_pruned_assign forced-path rule (VERDICT r19 #5).
    Q("q_source_overlap_cooc",
      sourceOverlapOracle(duckFineSrc, 0)) { (s, dir) =>
      sourceOverlapFrame(s, dir, fineSrc, gridBudget = 0, memo = Some(false))
    },

    // ---- per-source data card ----------------------------------------------
    // The summary table a dataset release publishes per source: volume
    // (docs, tokens, chars), mean document length, and language-mix
    // entropy (how monolingual a source is — the signal for per-source
    // language routing). All volume aggregates are exact integers;
    // mean_chars is one int/int division (identical IEEE op in both
    // engines); entropy follows the q_tfidf/q_lm_score log recipe —
    // each p·ln(p) term's ln is snapped to DECIMAL before the product,
    // the term snapped again, and the sum runs in exact DECIMAL (the
    // per-source lang set is tiny, so the decimal sum is bounded).
    Q(
      "q_data_card",
      raw"""WITH base AS (
        |  SELECT source, lang, n_chars,
        |    len($duckTokens) AS n_tok
        |  FROM documents
        |), per_source AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |    count(DISTINCT lang) AS n_langs
        |  FROM base GROUP BY source
        |), lang_p AS (
        |  SELECT b.source, b.lang, count(*) AS cnt, any_value(ps.n_docs) AS tot
        |  FROM base b JOIN per_source ps ON ps.source = b.source
        |  GROUP BY b.source, b.lang
        |), ent AS (
        |  SELECT source,
        |    CAST(sum(CAST(-(CAST(cnt AS DOUBLE) / tot) *
        |      CAST(CAST(ln(CAST(cnt AS DOUBLE) / tot) AS DECIMAL(18, 9)) AS DOUBLE)
        |      AS DECIMAL(28, 12))) AS DECIMAL(28, 12)) AS h
        |  FROM lang_p GROUP BY source
        |)
        |SELECT ps.source, ps.n_docs, ps.n_tokens, ps.n_chars,
        |  CAST(ps.n_chars AS DOUBLE) / ps.n_docs AS mean_chars,
        |  ps.n_langs,
        |  CAST(ent.h AS DOUBLE) AS lang_entropy
        |FROM per_source ps JOIN ent ON ent.source = ps.source""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          expr(s"size($tokens)").as("n_tok"))
        .persistScoped() // feeds the per-source and per-(source,lang) aggs
      val perSource = base.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"), countDistinct(col("lang")).as("n_langs"))
      val ent = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(perSource.select(col("source"), col("n_docs").as("tot"))), "source")
        .select(col("source"),
          expr("cast(-(cast(cnt as double) / tot) * " +
            "cast(dec_cast(ln(cast(cnt as double) / tot), 18, 9) as double) " +
            "as decimal(28,12))").as("term"))
        .groupBy(col("source"))
        .agg(sum(col("term")).cast("decimal(28,12)").as("h"))
      perSource.join(ent, "source")
        .select(
          col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
          (col("n_chars").cast("double") / col("n_docs")).as("mean_chars"),
          col("n_langs"),
          col("h").cast("double").as("lang_entropy"))
    },

    // ---- DSIR importance weights (Xie et al. 2023, NeurIPS) ----------------
    // Data Selection via Importance Resampling: score every raw document
    // by how much more likely its hashed n-gram bag is under a TARGET
    // distribution than under the RAW corpus distribution —
    //   w(d) = Σ_f cnt_d[f] · ln( p_tgt[f] / p_raw[f] )
    // with f = CrossHash(gram) % DSIR_B bucketized features (distinct
    // unigrams + bigrams per doc) and Laplace-smoothed bucket
    // distributions. The target here is the corpus's `lang = 'en'`
    // slice — the stand-in for the high-quality reference corpus
    // (Wikipedia/books) the method conditions on; swapping the target
    // predicate is the production knob. Scale shape: one explode →
    // ONE (doc, bucket) HashAggregate (scalars only); the model is a
    // ≤ DSIR_B-row frame (a model parameter, never corpus-sized) built
    // from one more hash aggregate and joined back BROADCAST — nothing
    // quadratic, no corpus-sized collect, weights are a map-side join +
    // per-doc sum. Determinism: each bucket's log-ratio is computed as
    // ln((tgt+1)/(raw+1) · (Tr+B)/(Tt+B)) with the divisions/multiply
    // pinned in that order (identical IEEE ops on identical exact-int
    // inputs — no BIGINT product that could overflow at 100 TB token
    // counts), snapped per-TERM through DECIMAL(18,9) (the
    // q_tfidf/q_lm_score libm rule), then summed per doc in exact
    // DECIMAL against exact integer counts.
    Q(
      "q_dsir_weights",
      raw"""WITH $duckDsirCtes
        |SELECT doc_id, lang, n_feats, weight FROM dweights""".stripMargin) {
      (s, dir) => dsirWeightsMemo(s, dir, rebuildMemo = true)
    },

    // ---- DSIR Gumbel-top-k selection ----------------------------------------
    // The resampling half of DSIR: sampling-without-replacement
    // proportional to exp(w(d)) is EXACTLY "rank by w(d) + Gumbel noise
    // and keep the top k" (the Gumbel-top-k identity the paper uses).
    // The noise is hash-seeded — u = (CrossHash('dsirg#'||doc_id) %
    // 2^20 + 1) / (2^20 + 1), g = −ln(−ln u) — so both engines draw the
    // SAME sample and the query stays hash-gate-verifiable while
    // remaining a faithful Gumbel draw per doc. k is corpus-derived
    // (ceil(sqrt(N)), the ncIvf integer rule) so the output stays
    // bounded and the Spark plan is a TakeOrderedAndProject (O(N log k)
    // per partition, no global sort); a production selection with a
    // corpus-fraction budget runs the same scored frame through one
    // distributed sort instead — the score computation is the operator,
    // the cutoff is a driver choice.
    Q(
      "q_dsir_select",
      raw"""WITH $duckDsirCtes, scored AS (
        |  SELECT doc_id, lang, weight,
        |    weight + CAST(CAST(-ln(-ln(
        |        CAST(${duck("'dsirg#' || doc_id::VARCHAR")} % 1048576 + 1 AS DOUBLE) / 1048577))
        |      AS DECIMAL(18,9)) AS DOUBLE) AS score
        |  FROM dweights
        |)
        |SELECT rank, doc_id, lang, weight, score FROM (
        |  SELECT doc_id, lang, weight, score,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM documents)""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val k = math.ceil(math.sqrt(
          graft.io.Tables.rowCount(s, dir, "documents").toDouble)).toInt
        // numerator cast to DOUBLE, divisor an INTEGER literal: a
        // `1048577.0` literal parses as DECIMAL in BOTH engines and
        // their decimal-division scale rules differ — u must be the
        // same IEEE double ratio on both sides
        val gumbel = s"cast(dec_cast(-ln(-ln(cast(${h("concat('dsirg#', cast(doc_id as string))")}" +
          " % 1048576 + 1 as double) / 1048577)), 18, 9) as double)"
        dsirWeightsMemo(s, dir, rebuildMemo = false)
          .select(col("doc_id"), col("lang"), col("weight"),
            (col("weight") + expr(gumbel)).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(k)
          // rank re-derived over the k survivors only (k = O(sqrt N) rows,
          // so the unpartitioned window is a bounded single task, the
          // q_vocab_topk shape) — identical to the oracle's global rank
          // because score DESC, doc_id is a total order
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("rank"), col("doc_id"), col("lang"), col("weight"), col("score"))
    },

    // ---- DoReMi domain reweighting (Xie et al. 2023, NeurIPS) ---------------
    // The Group-DRO multiplicative-weights update DoReMi runs to choose
    // a training MIXTURE over domains: per domain i,
    //   α'ᵢ ∝ αᵢ · exp(η · excessᵢ),   α ← (1−c)·α'/Σα' + c/k
    // (η = 1, smoothing c = 0.01, T fixed rounds). The per-domain excess
    // loss here is the engine-level stand-in for the proxy-model signal
    // the paper trains: mean per-token surprisal under the corpus
    // UNIGRAM LM (hard domains read above the corpus mean ⇒ upweighted),
    // clipped at 0 — swapping in real proxy/reference model losses is a
    // column swap, the update loop is the operator. Complements
    // q_dsir_weights: DSIR scores INSTANCES against a target, DoReMi
    // reweights DOMAINS against worst-case excess loss.
    // Scale shape: one explode → vocabulary count aggregate → one
    // shuffle join back (the q_lm_score pattern) → per-doc then
    // per-domain scalars; the iteration runs on the DOMAIN frame (a
    // model parameter — dozens of rows at any corpus size) as T chained
    // unpartitioned-window steps, one bounded single-task stage.
    // Determinism: α is DECIMAL(18,12) and x = exp(excess) DECIMAL(18,6);
    // each round multiplies their exact int64-safe DOUBLE images and
    // snaps the product back at scale 12 with dec_cast on the Spark
    // side and the duckSnap VARCHAR path on the oracle side — the ONLY
    // pairing that agrees on short-mantissa products (a decimal×decimal
    // downscale is out: DuckDB TRUNCATES decimal rescales, measured
    // 2e-12 drift; a direct double→DECIMAL cast is out: DuckDB rounds
    // the exact binary value where Spark rounds the shortest repr —
    // the r15 duckProd12 lesson). Z is then an exact DECIMAL window sum
    // of identical snapped terms, and the one double division runs on
    // int64-safe (18,12) images.
    Q(
      "q_doremi_weights",
      raw"""WITH tok AS (
        |  SELECT doc_id, source, unnest($duckTokens) AS w FROM documents
        |), cnts AS (
        |  SELECT w, count(*) AS cnt FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT sum(cnt) AS t FROM cnts
        |), perdoc AS (
        |  SELECT doc_id, source, count(*) AS len,
        |    CAST(CAST(sum(${duckSnap("ln(CAST(cnt AS DOUBLE) / t)", 9)})
        |      AS DECIMAL(28,9)) AS DOUBLE) AS lpsum
        |  FROM tok JOIN cnts USING (w) CROSS JOIN tot
        |  GROUP BY 1, 2
        |), dloss AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(CAST(sum(${duckSnap("-lpsum / len", 9)}) AS DECIMAL(28,9))
        |      AS DOUBLE) / count(*) AS loss
        |  FROM perdoc GROUP BY 1
        |), ref AS (
        |  SELECT CAST(CAST(sum(${duckSnap("-lpsum / len", 9)}) AS DECIMAL(28,9))
        |      AS DOUBLE) / count(*) AS rl
        |  FROM perdoc
        |), r0 AS (
        |  SELECT source, n_docs, loss,
        |    greatest(CAST(0 AS DOUBLE), loss - rl) AS excess,
        |    ${duckSnap("exp(greatest(CAST(0 AS DOUBLE), loss - rl))", 6)} AS x,
        |    count(*) OVER () AS k,
        |    ${duckSnap("CAST(1 AS DOUBLE) / count(*) OVER ()", 12)} AS alpha
        |  FROM dloss CROSS JOIN ref
        |), $duckDoremiRounds
        |SELECT source, n_docs, loss,
        |  CAST(${duckSnap("excess", 9)} AS DOUBLE) AS excess,
        |  CAST(alpha AS DOUBLE) AS alpha
        |FROM r$DOREMI_T""".stripMargin) { (s, dir) =>
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), explode(expr(tokens)).as("w"))
      val cnts = tok.groupBy(col("w").as("c_w")).agg(count(lit(1)).as("cnt"))
      val tot = cnts.agg(sum(col("cnt")).as("t"))
      val perdoc = tok.join(cnts, col("w") === col("c_w"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"),
          expr("dec_cast(ln(cast(cnt as double) / t), 18, 9)").as("lp"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("len"),
          sum(col("lp")).cast("decimal(28,9)").cast("double").as("lpsum"))
        .persistScoped() // feeds the per-domain aggregate AND the corpus mean
      val lossTerm = "cast(-lpsum / len as decimal(18,9))"
      val dloss = perdoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        (sum(expr(lossTerm)).cast("decimal(28,9)").cast("double") /
          count(lit(1))).as("loss"))
      val ref = perdoc.agg(
        (sum(expr(lossTerm)).cast("decimal(28,9)").cast("double") /
          count(lit(1))).as("rl"))
      var fr = dloss.crossJoin(broadcast(ref))
        .select(col("source"), col("n_docs"), col("loss"),
          expr("greatest(cast(0 as double), loss - rl)").as("excess"),
          expr("dec_cast(exp(greatest(cast(0 as double), loss - rl)), 18, 6)").as("x"))
        .withColumn("k", expr("count(*) over ()"))
        .withColumn("alpha", expr("dec_cast(cast(1 as double) / k, 18, 12)"))
      // T multiplicative-weights rounds, each one window step over the
      // bounded domain frame — the SAME arithmetic the oracle unrolls
      // (duckDoremiRounds): α·x on the decimals' exact double images,
      // dec_cast snap (== the oracle's VARCHAR path), exact DECIMAL
      // window sum, int64-safe (18,12)→DOUBLE images around the one
      // division
      for (_ <- 1 to DOREMI_T) {
        fr = fr
          .withColumn("p12",
            expr("dec_cast(cast(alpha as double) * cast(x as double), 18, 12)"))
          .withColumn("z12", expr("cast(sum(p12) over () as decimal(18,12))"))
          .withColumn("alpha", expr(
            """dec_cast(cast(0.99 as double) * (cast(p12 as double) / cast(z12 as double))
              |  + cast(0.01 as double) / k, 18, 12)""".stripMargin))
          .drop("p12", "z12")
      }
      fr.select(col("source"), col("n_docs"), col("loss"),
        expr("cast(dec_cast(excess, 18, 9) as double)").as("excess"),
        col("alpha").cast("double").as("alpha"))
    })

  /** DoReMi multiplicative-weights rounds — a FIXED hyperparameter (the
    * paper runs its update per proxy-training step; a fixed round count
    * is the batch-operator shape), never data-derived: loop depth must
    * come from exact integers or constants (docs/determinism.md r16) and
    * here it is simply constant. `final` so it inlines at object init
    * (the DSIR_B declaration-order note below applies verbatim). */
  private final val DOREMI_T = 5

  /** DuckDB twin of Spark's `dec_cast(double, 18, s)`: snap through
    * VARCHAR so DuckDB rounds the double's SHORTEST repr half-up —
    * exactly Spark's Cast/dec_cast string path. A direct
    * double→DECIMAL cast in DuckDB rounds the exact binary value and a
    * decimal→decimal downscale TRUNCATES (measured: 1.5e-12 → 1e-12
    * at scale 12) — both silently diverge from Spark on short-mantissa
    * values; the VARCHAR path (the Similarity.duckProd12 rule) is the
    * only rendering that matches term for term. */
  private def duckSnap(x: String, s: Int): String =
    s"CAST(CAST($x AS VARCHAR) AS DECIMAL(18,$s))"

  /** The T unrolled DoReMi round CTEs (r1..rT), each reading r(n−1):
    * the α·x product is computed on the DECIMALS' exact double images
    * and snapped back through [[duckSnap]] (never a decimal×decimal
    * downscale — DuckDB truncates those), Z is an exact DECIMAL window
    * sum of the snapped terms, and the ONE double division runs on
    * int64-safe (18,12) images — the DuckDB twin of the Spark loop
    * body in q_doremi_weights. */
  private lazy val duckDoremiRounds: String = (1 to DOREMI_T).map { r =>
    val p12 = duckSnap("CAST(alpha AS DOUBLE) * CAST(x AS DOUBLE)", 12)
    s"""r$r AS (
       |  SELECT source, n_docs, loss, excess, x, k,
       |    ${duckSnap(
        "CAST(0.99 AS DOUBLE) * (CAST(p12 AS DOUBLE) / CAST(z12 AS DOUBLE)) " +
          "+ CAST(0.01 AS DOUBLE) / k", 12)} AS alpha
       |  FROM (
       |    SELECT *, $p12 AS p12,
       |      CAST(sum($p12) OVER () AS DECIMAL(18,12)) AS z12
       |    FROM r${r - 1})
       |)""".stripMargin
  }.mkString(", ")

  /** DSIR feature-hash bucket count — a model hyperparameter (the paper
    * uses 10k buckets for its hashed n-grams; smaller here keeps the
    * harness model frame tiny, the semantics are identical). The model
    * frame is ≤ DSIR_B rows at ANY corpus size — the broadcast-side
    * bound every consumer relies on. (`final` so the literal inlines at
    * compile time — a plain val here reads 0 during object init, the
    * declaration-order trap the other query modules dodge the same way.) */
  private[graft] final val DSIR_B = 1024

  private val dsirModels =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, Array[Long]]]()
  private def dsirModelMap(s: org.apache.spark.sql.SparkSession) =
    dsirModels.synchronized {
      var m = dsirModels.get(s)
      if (m == null) { m = scala.collection.concurrent.TrieMap.empty; dsirModels.put(s, m) }
      m
    }

  /** Trained DSIR log-ratio table for (session, dir) as SCALE-9
    * UNSCALED longs indexed by bucket, training on demand — the model
    * hand-off to the streaming scorer
    * ([[graft.streaming.Streams.dsirScore]]). ALL DSIR_B buckets get a
    * value (a left join against a bucket spine; absent buckets take
    * the Laplace-smoothed raw=tgt=0 log-ratio) because a STREAMED doc
    * may hash a gram into a bucket the training corpus never touched —
    * the batch query's inner join never sees one, but the scorer must
    * not NPE on it. The lr arithmetic is the dsirWeights expression
    * text verbatim, so the streaming score stays bit-identical to the
    * batch aggregate on training-corpus docs (the batch-twin gate). */
  private[graft] def dsirModel(
      s: org.apache.spark.sql.SparkSession, dir: String): Array[Long] =
    // exported artifact dir → the persisted bucket table (round 20);
    // raw corpus → train on demand
    dsirModelMap(s).getOrElseUpdate(dir,
      graft.io.ModelStore.loadDsir(s, dir).getOrElse {
      val agg = dsirFeats(s, dir).groupBy(col("f")).agg(
        sum(col("cnt")).as("raw"),
        coalesce(sum(when(col("lang") === "en", col("cnt"))), lit(0L)).as("tgt"))
      val tot = agg.agg(
        sum(col("raw")).as("tr"), coalesce(sum(col("tgt")), lit(0L)).as("tt"))
      val rows = s.range(DSIR_B).select(col("id").as("sf"))
        .join(agg, col("sf") === col("f"), "left")
        .crossJoin(broadcast(tot))
        .select(col("sf"), expr(
          s"""dec_cast(ln(
             |  (cast(coalesce(tgt, 0) + 1 as double) / (coalesce(raw, 0) + 1)) *
             |  (cast(tr + $DSIR_B as double) / (tt + $DSIR_B))), 18, 9)""".stripMargin)
          .as("lr"))
        .collect() // model-sized: exactly DSIR_B rows at any corpus size
      val lr = new Array[Long](DSIR_B)
      rows.foreach { r =>
        lr(r.getLong(0).toInt) =
          r.getDecimal(1).movePointRight(9).longValueExact()
      }
      lr
    })

  /** [[dsirWeights]] under the [[graft.io.KernelMemo]] protocol —
    * builder: q_dsir_weights (always re-runs the full explode +
    * model-train pipeline, the honest bench cost); reuser:
    * q_dsir_select (its own honest cost is the Gumbel rank it exists
    * to run, not a second weight derivation). The memoized frame is
    * the per-doc SCALAR ledger (doc_id, lang, n_feats, weight) — the
    * CC-label-memo class (4 scalars per doc, no payloads), the
    * production "score once, consume many" shape. */
  private def dsirWeightsMemo(
      s: org.apache.spark.sql.SparkSession, dir: String,
      rebuildMemo: Boolean): org.apache.spark.sql.DataFrame =
    graft.io.KernelMemo(s, dir, "dsir_weights", rebuildMemo)(dsirWeights(s, dir))

  /** Per-doc DSIR importance weights: (doc_id, lang, n_feats, weight).
    * Shared by q_dsir_weights (surfaces it) and q_dsir_select (ranks
    * it under Gumbel noise) — one formulation, no drift. */
  /** The (doc_id, lang, f, cnt) hashed-gram feature frame: distinct
    * unigrams + distinct bigrams per doc, hashed to DSIR_B buckets —
    * shingles() is already distinct-per-doc and returns the empty
    * array below 2 tokens, so the concat explodes each distinct gram
    * exactly once (unigrams never collide with bigrams — tokens cannot
    * contain the separator space). Shared by [[dsirWeights]] and the
    * [[dsirModel]] trainer. */
  private def dsirFeats(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(expr(s"concat(array_distinct($tokens), shingles($tokens, 2))")).as("g"))
      .select(col("doc_id"), col("lang"),
        expr(s"${h("concat('dsir#', g)")} % $DSIR_B").as("f"))
      .groupBy(col("doc_id"), col("lang"), col("f"))
      .agg(count(lit(1)).as("cnt"))

  private def dsirWeights(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val feats = dsirFeats(s, dir)
      .persistScoped() // feeds the model aggregate AND the weight join
    val agg = feats.groupBy(col("f")).agg(
      sum(col("cnt")).as("raw"),
      coalesce(sum(when(col("lang") === "en", col("cnt"))), lit(0L)).as("tgt"))
    // corpus totals ride as one broadcast scalar row (the q_tfidf `n`
    // idiom — no driver count job)
    val tot = agg.agg(sum(col("raw")).as("tr"), sum(col("tgt")).as("tt"))
    val model = agg.crossJoin(broadcast(tot))
      .select(col("f"), expr(
        s"""dec_cast(ln(
           |  (cast(tgt + 1 as double) / (raw + 1)) *
           |  (cast(tr + $DSIR_B as double) / (tt + $DSIR_B))), 18, 9)""".stripMargin)
        .as("lr"))
    feats.join(broadcast(model), "f")
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        sum(col("cnt")).as("n_feats"),
        // cnt narrowed to DECIMAL(9,0) before the product: long(20,0) ×
        // lr(18,9) would need precision 39 > 38 and Spark silently
        // DROPS A SCALE DIGIT (rounds each term at scale 8 — the
        // docs/determinism.md decimal-overflow trap, caught by the
        // hash gate);
        // (9,0)×(18,9) = (28,9) stays exact. cnt is a per-(doc,bucket)
        // distinct-gram count, bounded by document length — never 1e9.
        sum(col("cnt").cast("decimal(9,0)") * col("lr"))
          .cast("decimal(28,9)").cast("double").as("weight"))
  }

  /** DuckDB twin of [[dsirWeights]] as CTE text ending in `dweights`. */
  private lazy val duckDsirCtes: String =
    raw"""tok AS (
      |  SELECT doc_id, lang, $duckTokens AS w FROM documents
      |), grams AS (
      |  SELECT doc_id, lang, unnest(list_concat(
      |    list_distinct(w),
      |    list_distinct(list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1])))) AS g
      |  FROM tok
      |), feats AS (
      |  SELECT doc_id, lang, (${duck("'dsir#' || g")} % $DSIR_B) AS f,
      |    count(*) AS cnt
      |  FROM grams GROUP BY 1, 2, 3
      |), model AS (
      |  SELECT f,
      |    CAST(ln(
      |      (CAST(tgt + 1 AS DOUBLE) / (raw + 1)) *
      |      (CAST(tr + $DSIR_B AS DOUBLE) / (tt + $DSIR_B))) AS DECIMAL(18,9)) AS lr
      |  FROM (
      |    SELECT f, sum(cnt) AS raw,
      |      coalesce(sum(CASE WHEN lang = 'en' THEN cnt END), 0) AS tgt
      |    FROM feats GROUP BY 1
      |  ) CROSS JOIN (
      |    SELECT sum(cnt) AS tr,
      |      coalesce(sum(CASE WHEN lang = 'en' THEN cnt END), 0) AS tt
      |    FROM feats
      |  )
      |), dweights AS (
      |  SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_feats,
      |    CAST(CAST(sum(CAST(cnt AS DECIMAL(9,0)) * lr) AS DECIMAL(28,9)) AS DOUBLE) AS weight
      |  FROM feats JOIN model USING (f)
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** 16×64 ±1 projection matrix, a pure function of [[CrossHash]] — the
    * same plan-time-constant trick as the LSH hyperplanes in
    * [[Similarity]], so both engines see literally the same weights. */
  private lazy val rpSigns: IndexedSeq[IndexedSeq[Double]] =
    (0 until 16).map { k =>
      (1 to 64).map(i =>
        if (graft.functions.CrossHash.local(s"rp#$k#$i") % 2 == 0) 1.0 else -1.0)
    }
}
