package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine: watermarked windowed
  * aggregation and stateful gap-sessionization over the same `events`
  * schema the batch engine uses.
  *
  * Scale shape: both operators shuffle once on their grouping key
  * (event_type+window / user_id) and keep per-key state in the state
  * store — the standard Structured Streaming pattern that scales with
  * executor count. Watermarks bound state size; without them a 100 TB
  * backfill would accumulate unbounded session state.
  */
object Streams {

  final case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      sum_value: Double)

  final case class SessionState(
      start: Long, last: Long, n: Long, total: Double)

  val gapMs: Long = 30L * 60 * 1000

  /** Tumbling 1-hour windowed counts/sums per event_type, 2h watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    hourly(events.withWatermark("ts", "2 hours"))

  /** Hourly counts/sums per event_type of a watermarked stream. */
  private def hourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(
        col("window.start").as("hour"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Gap-based sessionization (30-min inactivity closes a session) with
    * processing-time-independent event-time state timeouts. Emits a
    * session when the gap passes the watermark. Batch twin:
    * [[graft.queries.Events]] `q_sessionize`.
    */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(
              userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= Session(
                    userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Gap-based sessionization via the `session_window` builtin — the
    * declarative twin of [[sessionize]]: Catalyst plans the session merge
    * natively (UpdatingSessionsExec + merging state), no user state
    * machine. Window end is exclusive (`last event + gap`), where
    * [[sessionize]] reports the last event itself — both shapes shuffle
    * once on the grouping key and scale identically; prefer this one
    * unless the session logic needs custom state. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream join: clicks enriched with the purchase that follows
    * within one hour, both sides watermarked so the state store evicts
    * rows once the join window can no longer match (the condition that
    * makes stream-stream joins bounded-state at scale). */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    c.join(
      p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("click_ts"), col("purchase_id"), col("purchase_ts"))
  }

  /** LEFT OUTER stream-stream join — the conversion-FAILURE feed.
    * [[clickToPurchase]] emits matches; an attribution pipeline equally
    * needs the clicks that DIDN'T convert, and only a watermarked outer
    * join can say so correctly in streaming: an unmatched click is
    * emitted (purchase columns null) exactly when the GLOBAL watermark
    * passes the end of its match window — i.e. when no future purchase
    * could still pair with it — which is the state-eviction point, so
    * join state stays bounded by the time-range condition. `watermark`
    * is the lateness horizon on both sides (the eviction delay knob);
    * the join condition is identical to the inner variant. */
  def clickToPurchaseOuter(
      clicks: DataFrame, purchases: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    c.join(
      p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Stream-static enrichment join: each micro-batch joins the static
    * dimension (re-read per batch from its source, broadcast when small)
    * with NO streaming state — stream-static equi-joins are stateless by
    * construction, so no watermark is needed. The standard shape for
    * attaching slowly-changing reference data to a 100 TB/day stream. */
  def enrichStatic(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming decontamination — the streaming twin of
    * `q_decontaminate`: a stateless per-row gate dropping documents that
    * share any 5-gram with the eval set. The eval shingles ride the plan
    * as a literal string array (benchmark sets are tiny) and the overlap
    * check is all codegen'd (`shingles` + `arrays_overlap`, no
    * interpreted lambda); at larger eval sizes the same plan swaps in a
    * broadcast Bloom filter over shingle hashes or the stream-static
    * semi-join of [[enrichStatic]]'s shape. No state, no watermark:
    * works in every output mode. NULL/short texts cannot be
    * contaminated, so they pass through. */
  def decontaminate(docs: DataFrame, evalShingles: Seq[String]): DataFrame = {
    graft.functions.GraftRuntime.ensure(docs.sparkSession)
    docs
      .withColumn("w", expr("split(trim(text), '\\\\s+')"))
      .withColumn(
        "contaminated",
        coalesce(
          expr("size(w) >= 5") &&
            arrays_overlap(expr("shingles(w, 5)"), typedLit(evalShingles)),
          lit(false)))
      .filter(!col("contaminated"))
      .drop("w", "contaminated")
  }

  /** Streaming classifier scoring — the stateless twin of
    * `q_classifier_score`: each arriving document is scored under the
    * TRAINED hashed-linear model (train offline with
    * `q_classifier_train`, score the stream online — the standard
    * curation deployment). The weight vector rides the plan as a
    * literal array (bounded model, ~4 KB of longs) and the score is a
    * per-row integer fold over the tokens — no explode, no aggregation,
    * NO STATE: the same exact BIGINT sum the batch explode+groupBy
    * computes (integer addition is order-free), so stream and batch
    * decisions are bit-identical (gated in StreamingSpec). Works in
    * every output mode; at 100 TB/day this is a pure map over the
    * stream. */
  def scoreDocs(docs: DataFrame, weights: Array[Long]): DataFrame = {
    graft.functions.GraftRuntime.ensure(docs.sparkSession)
    // the bucket modulus is a MODEL INVARIANT shared with the batch
    // trainer: a weight vector of any other length would silently hash
    // tokens into a different bucket count and diverge from
    // q_classifier_score (and length 1 would generate malformed SQL) —
    // fail loudly instead (ADVICE r13)
    require(weights.length == graft.queries.TextAnalysis.ClsB + 1,
      s"scoreDocs weights must have length ClsB + 1 = " +
        s"${graft.queries.TextAnalysis.ClsB + 1} (4096 token buckets + bias); " +
        s"got ${weights.length} — stale or foreign model?")
    // ONE native loop per row (graft.functions.HashedScore, round 14):
    // the previous aggregate-HOF form ran interpreted AND its
    // 4097-literal weight array pushed the generated stage past
    // janino's 64 KB method limit (whole-stage interpreted fallback —
    // the plane-weights lesson recurring in the streaming path).
    // Same exact integer sum, same CrossHash profile; weights ride as
    // a reference long[] (StreamBench: 11k -> 21k docs/s,
    // docs/stream_bench.md).
    val warr = weights.mkString("L,") + "L"
    docs
      .withColumn("score",
        expr(s"hashed_score(split(trim(text), '\\\\s+'), array($warr))"))
      .withColumn("cls_flag", when(col("score") > 0, "keep").otherwise("drop"))
  }

  /** Streaming HTML extraction (round 18) — the crawl FRONT END as a
    * stateless map stage: input (doc_id, html, ...) runs the
    * q_html_extract tag-strip chain (block closers → newline, tag
    * strip → space, entity decode after stripping, whitespace
    * normalize — all codegen'd string ops, [[graft.queries.Html]]'s
    * ONE formulation), replacing `html` with the extracted `text` plus
    * `n_tags`. Pure map, NO STATE; boilerplate-LINE removal stays a
    * batch concern by design (the line-df signal is a corpus-wide
    * aggregate a stream cannot see — the dedup_claim split rule). */
  def extractHtml(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tags",
        expr("cast(size(regexp_extract_all(html, '<[^>]*>', 0)) as bigint)"))
      .withColumn("text", expr(graft.queries.Html.extractSql("html")))
      .drop("html")

  /** Streaming URL gate (round 19, VERDICT r18 #3) — the tier BEFORE
    * [[extractHtml]] in a crawl direction, as a stateless map stage:
    * input carries a `url` column; the row is annotated with the
    * parsed scheme/host/path, the NORMALIZED url (lowercased
    * www-stripped host, port/fragment dropped, tracking params
    * filtered — [[graft.queries.Url]]'s ONE formulation), the
    * precedence-ordered drop `reasons`, and the keep/drop `verdict`;
    * drops are filtered out. NO STATE; the blocklist is a host-
    * granular static FRAME (round 20, VERDICT r19 #3) probed through
    * one stream-static broadcast join under the row budget and the
    * bloom-prefilter + exact-confirm arms past it — identical blocked
    * set either way. URL DEDUP stays a claim-ledger concern
    * (`url_dedup_claim` on the stamped `norm` — the corpus-wide
    * first-arrival signal a stateless stage cannot see). */
  def urlFilter(
      urls: DataFrame, blocklist: DataFrame, blkRows: Long,
      rowBudget: Long = graft.queries.Url.UrlBlockRowBudget): DataFrame =
    graft.queries.Url.urlGateOf(urls, blocklist, blkRows, rowBudget)
      .filter(col("verdict") === "keep")

  /** Streaming language ID under the TRAINED char-trigram model (round
    * 18) — train offline ([[graft.queries.LangId.trainedModel]] on the
    * model_dir corpus), score the stream online: ONE native loop per
    * row ([[graft.functions.LangIdScore]], model as a ColumnBridge
    * reference object — the giant-literal rule at k×1025 weights),
    * first-index-of-max argmax stamped as `lang_predicted` (classes
    * sorted, so ties resolve to the lexicographically smallest lang —
    * the formulation shared with q_langid_score). `classes` is the
    * CORPUS-DERIVED class list the model was trained with
    * ([[graft.queries.LangId.langsOf]], round 19). Annotate-only;
    * pure map, NO STATE. */
  def langidAnnotate(
      docs: DataFrame, model: Array[Array[Long]], classes: Seq[String]): DataFrame = {
    require(model.length == classes.size &&
      model.forall(_.length == graft.queries.LangId.LangB + 1),
      s"langidAnnotate model must be ${classes.size} × " +
        s"${graft.queries.LangId.LangB + 1}; got " +
        s"${model.length} × ${model.headOption.map(_.length).getOrElse(0)} — " +
        "stale or foreign model?")
    import org.apache.spark.sql.graft.ColumnBridge
    val sc = ColumnBridge.column(graft.functions.LangIdScore(
      ColumnBridge.expression(col("text")),
      model.map(ws =>
        scala.collection.immutable.ArraySeq.unsafeWrapArray(ws): Seq[Long]).toSeq))
    val clsArr = classes.map("'" + _ + "'").mkString("array(", ", ", ")")
    docs
      .withColumn("lidsc", sc)
      .withColumn("lang_predicted",
        expr(s"element_at($clsArr, cast(array_position(lidsc, array_max(lidsc)) as int))"))
      .drop("lidsc")
  }

  /** Streaming DSIR importance scorer — the stateless twin of the batch
    * `q_dsir_weights` frame (round 17): each arriving doc gets
    * `n_feats` and `dsir_weight` under the TRAINED per-bucket log-ratio
    * table ([[graft.queries.Curation.dsirModel]] — train offline on the
    * reference corpus, score the stream online; the paper's deployment
    * shape). ONE native loop per row ([[graft.functions.DsirScore]]):
    * distinct unigrams + bigrams, active-profile CrossHash buckets, an
    * exact scale-9 integer sum — bit-identical to the batch explode +
    * DECIMAL aggregate (StreamingSpec batch-twin gate). The model rides
    * as a reference long[] via ColumnBridge — a 1024-element SQL
    * literal array would re-create the giant-literal hazard. Pure map,
    * NO STATE; selection (the Gumbel top-k half) stays a batch concern
    * by design — a stream cannot rank globally. */
  def dsirScore(docs: DataFrame, lrScaled: Array[Long]): DataFrame = {
    require(lrScaled.length == graft.queries.Curation.DSIR_B,
      s"dsirScore model must have length DSIR_B = " +
        s"${graft.queries.Curation.DSIR_B}; got ${lrScaled.length} — " +
        "stale or foreign model?")
    import org.apache.spark.sql.graft.ColumnBridge
    val scored = ColumnBridge.column(graft.functions.DsirScore(
      ColumnBridge.expression(expr("split(trim(text), '\\\\s+')")),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(lrScaled)))
    docs
      .withColumn("ds", scored)
      .withColumn("n_feats", col("ds.n_feats"))
      .withColumn("dsir_weight", col("ds.weight"))
      .drop("ds")
  }

  /** Streaming unigram-LM encode — the stateless twin of the batch
    * `q_unigram_encode` (round 17): each arriving doc gets its
    * `n_words`/`n_pieces`/`n_chars_alpha` under the TRAINED piece table
    * ([[graft.queries.Bpe.unigramModel]] — train offline, tokenize the
    * stream online, the serving-tier shape of a tokenizer). ONE native
    * loop per row ([[graft.functions.UnigramDocStats]] — the SAME
    * Viterbi DP core as the batch trainer's `unigram_segment`, shared
    * via [[graft.functions.UnigramDp]], so stream and batch counts are
    * bit-identical by construction; StreamingSpec batch-twin gate).
    * The model rides as a reference object via ColumnBridge. Pure map,
    * NO STATE. The chars column is `n_chars_alpha` (not `n_chars`) so
    * a documents frame's own n_chars passes through untouched. */
  def unigramEncode(docs: DataFrame, model: Seq[(String, Long)]): DataFrame = {
    require(model.nonEmpty, "unigramEncode needs a trained piece table")
    import org.apache.spark.sql.graft.ColumnBridge
    val statsCol = ColumnBridge.column(graft.functions.UnigramDocStats(
      ColumnBridge.expression(expr("split(trim(text), '\\\\s+')")),
      model.map(_._1), model.map(_._2)))
    docs
      .withColumn("us", statsCol)
      .withColumn("n_words", col("us.n_words"))
      .withColumn("n_pieces", col("us.n_pieces"))
      .withColumn("n_chars_alpha", col("us.n_chars"))
      .drop("us")
  }

  /** Streaming PQ encode — the stateless twin of the batch `q_pq_encode`
    * codes frame (round 15): each arriving vector quantizes to its
    * (subspace → code) rows under the TRAINED codebook, which rides the
    * plan as the same `pq_codes` literal the batch kernel uses (train
    * offline with the q_ann_pq machinery, encode the stream online —
    * how an IVF-PQ index ingests at serving time). One native loop per
    * row, no explode of scalar streams, no aggregation, NO STATE —
    * bit-identical codes to the batch frame by construction (the
    * expression IS the batch kernel; gated in StreamingSpec), a pure
    * map at 100 TB/day.
    *
    * Input schema: (vec_id LONG, embedding ARRAY<FLOAT>). */
  def encodePq(vecs: DataFrame, cb: Seq[(Int, Int, Seq[Float])]): DataFrame = {
    graft.functions.GraftRuntime.ensure(vecs.sparkSession)
    vecs.select(col("vec_id"),
      posexplode(expr(graft.queries.Similarity.pqCodesSql("embedding", cb)))
        .as(Seq("m", "code")))
  }

  /** Streaming residual-IVFADC ingest — the serving-tier add() path of
    * the trained IVF-PQ index (`q_ann_ivfadc`): each arriving vector
    * routes to its nearest coarse centroid (exact-DECIMAL argmax, the
    * kmAssign contract), subtracts it, and product-quantizes the
    * residual — ONE stateless native expression
    * ([[graft.functions.IvfAdcEncode]]) carrying the trained model as
    * a reference object, so there is no stream-side join and no state
    * store; (cell, codes) are bit-identical to the batch pipeline by
    * construction (StreamingSpec batch-twin gate). Output one row per
    * (vector, subspace): (vec_id, cell, m, code). */
  def encodeIvfadc(
      vecs: DataFrame,
      cents: Seq[(Long, Seq[Float])],
      cb: Seq[(Int, Int, Seq[Float])]): DataFrame = {
    graft.functions.GraftRuntime.ensure(vecs.sparkSession)
    // narrowed contract (r15 ADVICE): flat routing is batch-identical
    // only below the batch pipeline's pruning switch — enforced again
    // here so a caller bypassing ivfadcEncodeSql still hits the wall
    require(cents.length <= graft.queries.Similarity.PRUNE_SWITCH_C,
      s"encodeIvfadc: |C|=${cents.length} exceeds the flat-routing contract " +
        s"(PRUNE_SWITCH_C=${graft.queries.Similarity.PRUNE_SWITCH_C}); batch prunes past it")
    vecs.select(col("vec_id"),
        expr(graft.queries.Similarity.ivfadcEncodeSql("embedding", cents, cb)).as("enc"))
      .select(col("vec_id"), col("enc.cell").as("cell"),
        posexplode(col("enc.codes")).as(Seq("m", "code")))
  }

  /** Streaming decontamination gate — the ingest-tier twin of the
    * `q_decontaminate_bloom` PREFILTER: each arriving document's
    * distinct 5-gram shingles probe the offline-built eval-set bloom
    * (train the bloom on the benchmark suite offline, gate the crawl
    * online), ONE stateless native expression per row
    * ([[graft.functions.BloomHits]] — no explode, no aggregation
    * state, no stream-side join). Bloom semantics are the bloom's: no
    * false negatives (a contaminated doc can never pass), FP per its
    * sizing — flagged docs go to the batch confirm join, exactly the
    * prefilter/confirm split of the batch path. Output: (doc_id,
    * n_candidates, flagged). Hits are bit-identical to the batch
    * prefilter for the same bloom bytes (StreamingSpec batch-twin). */
  def gateContaminated(docs: DataFrame, bloom: Array[Byte]): DataFrame =
    docs.select(col("doc_id"), contaminationHits(docs.sparkSession, bloom).as("n_candidates"))
      .withColumn("flagged", col("n_candidates") > 0)

  /** The stateless bloom-probe column behind [[gateContaminated]] and
    * the composed ingest chain ([[Ingest]]): distinct-5-gram hits
    * against the offline-trained eval bloom, constructed DIRECTLY from
    * the bloom bytes (r15 ADVICE) — under the raised runtime ceilings
    * the serialized filter can reach 256 MiB, and a ~340 MB base64
    * literal through the SQL parser per query build is the
    * giant-literal hazard again. The SQL rendering
    * (`bloom_hits(..., unbase64('...'))`) stays available for tests;
    * production ingest takes this path. */
  def contaminationHits(
      spark: SparkSession, bloom: Array[Byte]): org.apache.spark.sql.Column = {
    graft.functions.GraftRuntime.ensure(spark)
    import org.apache.spark.sql.graft.ColumnBridge
    require(bloom.nonEmpty, "contaminationHits: empty bloom filter")
    val shinglesCol = expr(s"shingles(${graft.queries.TextAnalysis.tokens}, 5)")
    ColumnBridge.column(
      graft.functions.BloomHits(
        ColumnBridge.expression(shinglesCol),
        java.util.Base64.getEncoder.encodeToString(bloom)))
  }

  /** Streaming exact-dedup on event_id: duplicates arriving within the
    * watermark horizon are dropped with bounded state (the streaming twin
    * of `q_dedup_exact`; at 100 TB/day the watermark bounds the key
    * state the store must hold). */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Chained stateful pipeline: exact dedup THEN windowed aggregation in
    * one streaming query (multiple stateful operators — supported since
    * the watermark-propagation work in Spark 3.4+). The dedup state and
    * the window state live in separate store instances; ONE watermark
    * declaration upstream drives eviction in both (redefining it between
    * stateful operators is disallowed). */
  def dedupThenWindow(events: DataFrame): DataFrame =
    hourly(dedup(events)) // dedup declares the watermark

  final case class BandClaim(bucket: Long, doc_id: Long, keeper_id: Long)

  /** Streaming NEAR-dup detection — the incremental twin of the batch
    * MinHash+LSH pipeline (`q_dedup_minhash_lsh`): each document's
    * shingle set is hashed to 4 LSH band buckets (same CrossHash-seeded
    * XOR permutations as the batch path), and per bucket the FIRST
    * document to arrive claims it; every arrival emits a claim record
    * `(bucket, doc_id, keeper_id)`. A document is a near-dup candidate
    * iff any of its claims has `keeper_id != doc_id` — exactly the batch
    * candidate-pair semantics, computed incrementally.
    *
    * Input schema: (doc_id LONG, text STRING). State: one long per
    * band bucket, updated in event order within a micro-batch (doc_id
    * tie-break) — so the keeper choice is deterministic for any batch
    * arrangement of the same arrival order. At corpus scale the state
    * store shards by bucket hash.
    *
    * DEDUP HORIZON (round 19, VERDICT r18 #1): with `horizonMs` set the
    * input must carry an event-time `ts` TIMESTAMP column; a bucket's
    * claim state EVICTS once the watermark passes the keeper's claim
    * time + horizon ([[firstClaimHorizon]]), so a months-long ingest
    * direction's state is bounded by the horizon's distinct-signature
    * volume, not the stream's lifetime. Rows later than `lateness`
    * (event time below the watermark) are dropped — the standard
    * watermark contract. Without `horizonMs` the state is unbounded
    * (claims live forever — the full-corpus dedup semantics).
    */
  def nearDedup(
      docs: DataFrame, horizonMs: Option[Long] = None,
      lateness: String = "0 seconds"): Dataset[BandClaim] = {
    graft.functions.GraftRuntime.ensure(docs.sparkSession)
    val seeds = (0 until 16).map(i => graft.functions.CrossHash.local(s"seed#$i"))
    val seedArr = seeds.map(sd => s"${sd}L").mkString(",")
    // signature + band buckets as ONE native loop per row
    // (graft.functions.MinHashBands). The original HOF formulation
    // (transform(seeds, sd -> array_min(transform(hs, v -> v ^ sd)))
    // + 16 element_at band references) ran interpreted and
    // CollapseProject re-inlined the whole signature computation into
    // every band expression — StreamBench r14 measured the stream at
    // ~500 rows/s, ~20x under the batch kernel's per-row cost; the
    // native loop (same CrossHash profile, same xor-min sigs, same
    // (band, 4-slot) partitioning — the batch-twin equality gate in
    // StreamingSpec is unchanged) runs at ~4.4k docs/s single-node
    // (docs/stream_bench.md), 8x the HOF form.
    bandClaims(horizonMs, lateness) { ts =>
      docs
        .selectExpr(Seq("doc_id", "shingles(split(trim(text), '\\\\s+'), 3) AS sh") ++ ts: _*)
        .where("size(sh) > 0")
        .selectExpr(Seq("doc_id", s"minhash_bands(sh, array($seedArr), 4) AS bks") ++ ts: _*)
        .where("bks IS NOT NULL")
        .selectExpr(Seq("doc_id", "explode(bks) AS bucket") ++ ts: _*)
    }
  }

  /** Streaming EXACT URL dedup — the claim-ledger twin of
    * `q_url_dedup`, completing the crawl funnel the r19 URL tier
    * started (round 20, VERDICT r19 #2): each arriving row's claim
    * key is the CrossHash of its NORMALIZED url, and per key the
    * first arrival claims it — so a refetch (mirror scheme, tracking
    * decoration, explicit port, www. prefix) is flagged a loser
    * BEFORE the expensive extract/langid/score stages run. The
    * normalization is [[graft.queries.Url.parseNorm]] — the ONE
    * formulation q_url_dedup groups on — reused verbatim; rows
    * already carrying a `norm` column (the `url_filter` stage output)
    * skip the re-parse. Same (bucket, doc_id, keeper_id) ledger
    * schema and [[firstClaim]]/[[firstClaimHorizon]] fold as
    * dedup_claim, so `apply_claims`, the idempotent claim sink, and
    * compaction all compose unchanged. The 60-bit hash key makes this
    * a CANDIDATE tier like every claim ledger (a cross-norm hash
    * collision can only add a false loser; exact confirm stays a
    * batch concern — the prefilter/confirm split). With `horizonMs`
    * set the input carries event-time `ts` and a url's claim evicts
    * at the horizon (recrawl-friendly: the same url is admitted once
    * per horizon window). */
  def urlDedup(
      urls: DataFrame, horizonMs: Option[Long] = None,
      lateness: String = "0 seconds"): Dataset[BandClaim] = {
    graft.functions.GraftRuntime.ensure(urls.sparkSession)
    val normed =
      if (urls.columns.contains("norm")) urls
      else graft.queries.Url.parseNorm(urls)
    bandClaims(horizonMs, lateness)(ts => normed.selectExpr(
      Seq("doc_id", s"${graft.functions.CrossHash.h("norm")} AS bucket") ++ ts: _*))
  }

  /** The (bucket, doc_id, keeper_id) claims of the `(doc_id, bucket)`
    * frame `keys` builds — given `Seq("ts")` to carry along when a
    * horizon is set: the [[firstClaimHorizon]] fold under a watermark on
    * `ts` with a horizon, else the unbounded [[firstClaim]] fold. */
  private def bandClaims(horizonMs: Option[Long], lateness: String)(
      keys: Seq[String] => DataFrame): Dataset[BandClaim] = {
    val df = keys(horizonMs.map(_ => "ts").toSeq)
    val spark = df.sparkSession
    import spark.implicits._
    horizonMs match {
      case Some(h) =>
        firstClaimHorizon(df.withWatermark("ts", lateness)
          .as[(Long, Long, java.sql.Timestamp)], h)(BandClaim.apply)
      case None => firstClaim(df.as[(Long, Long)])(BandClaim.apply)
    }
  }

  /** The shared first-ARRIVAL-wins claim fold behind [[nearDedup]],
    * [[simhashBlocksDedup]] and [[mediaDedup]] — one protocol, one
    * implementation (a fix to the claim semantics can never leave the
    * three ledgers inconsistent). Input: (key, bucket) pairs. Per
    * bucket, the stored keeper is NEVER replaced: a lower key arriving
    * in a LATER micro-batch is a loser of the stored keeper, not a
    * retroactive winner — Append mode cannot re-emit the earlier
    * arrival's claims, so a keeper steal would leave a true duplicate
    * pair with neither side flagged (round-17 review finding). Within
    * the bucket's FIRST micro-batch the smallest key claims
    * (deterministic for any batch arrangement of the same arrival
    * order — the id tie-break); after that, claims are strictly
    * arrival-ordered, exactly the docstring contract. */
  private def firstClaim[T: org.apache.spark.sql.Encoder](
      keys: Dataset[(Long, Long)])(mk: (Long, Long, Long) => T): Dataset[T] = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.groupByKey(_._2)
      .flatMapGroupsWithState[Long, T](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (bucket, rows, state: GroupState[Long]) =>
          val ids = rows.map(_._1).toSeq.sorted
          val stored = state.getOption
          var keeper = stored.getOrElse(Long.MaxValue)
          val out = ids.map { id =>
            if (stored.isEmpty && id < keeper) keeper = id
            mk(bucket, id, keeper)
          }
          if (stored.isEmpty && keeper != Long.MaxValue) state.update(keeper)
          out.iterator
      }
  }

  /** Horizon-bounded twin of [[firstClaim]] (round 19, VERDICT r18 #1):
    * the input carries an event-time column (the caller declares the
    * watermark), and a bucket's stored keeper EVICTS once the watermark
    * passes the keeper's claim time + `horizonMs` — the dedup horizon.
    * State is bounded by the horizon's distinct-signature volume
    * instead of the stream's lifetime, and a duplicate arriving past
    * the horizon is admitted as a fresh keeper (exactly once per
    * horizon window). WITHIN the horizon the fold is exactly the
    * [[firstClaim]] protocol: first-arrival-wins, id tie-break within
    * the bucket's first micro-batch, never a keeper steal.
    *
    * Eviction is visible at WATERMARK time, not timer-fire time: a
    * stored keeper with claim time + horizon <= current watermark is
    * treated as evicted even when its bucket receives data in the very
    * micro-batch its timer would have fired (Spark only delivers
    * timeout callbacks to groups with no data in the batch) — the
    * timeout callback is pure garbage collection, never semantics. */
  /** Saturating `a + b` for claim-time + horizon arithmetic (ADVICE
    * r19): a pathological `horizon_ms` near Long.MaxValue must clamp to
    * "never expires", not wrap negative — a wrapped sum reads as
    * already-expired every batch and the horizon silently degenerates
    * to ~zero (dedup stops working). */
  private def satAdd(a: Long, b: Long): Long = {
    val s = a + b
    if (((a ^ s) & (b ^ s)) < 0) Long.MaxValue else s
  }

  private def firstClaimHorizon[T: org.apache.spark.sql.Encoder](
      keys: Dataset[(Long, Long, java.sql.Timestamp)], horizonMs: Long)(
      mk: (Long, Long, Long) => T): Dataset[T] = {
    val spark = keys.sparkSession
    import spark.implicits._
    require(horizonMs > 0, s"dedup horizon must be positive, got $horizonMs ms")
    keys.groupByKey(_._2)
      .flatMapGroupsWithState[(Long, Long), T](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (bucket, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val stored = state.getOption.filter(st => satAdd(st._2, horizonMs) > wm)
            val evs = rows.toSeq.sortBy(_._1)
            var keeper = stored.map(_._1).getOrElse(Long.MaxValue)
            var claimMs = stored.map(_._2).getOrElse(Long.MinValue)
            val out = evs.map { case (id, _, ts) =>
              if (stored.isEmpty && id < keeper) { keeper = id; claimMs = ts.getTime }
              mk(bucket, id, keeper)
            }
            if (keeper != Long.MaxValue) {
              state.update((keeper, claimMs))
              // re-arm per invocation (Spark clears the timer whenever
              // the function runs); clamp above the watermark — a
              // just-expiring bucket's fresh keeper claims NOW, so its
              // horizon necessarily ends in the future
              state.setTimeoutTimestamp(math.max(satAdd(claimMs, horizonMs), wm + 1))
            }
            out.iterator
          }
      }
  }

  /** Streaming EXACT-recall SimHash dedup — the incremental twin of
    * `q_dedup_simhash_blocks`' candidate tier (round 17): each
    * arriving document's 60-bit SimHash and its C(B,5)
    * block-combination claim keys are computed in ONE native per-row
    * loop ([[graft.functions.SimhashBlockKeys]] — the MinHashBands
    * rule; the canonical mask family is shared with the batch query),
    * and per key the first document to arrive claims it. Two
    * signatures at hamming ≤ 5 share a key for SOME mask by pigeonhole
    * (SimhashBlocksSpec), so a document with any
    * `keeper_id != doc_id` claim is a near-dup CANDIDATE with EXACT
    * recall at hamming ≤ 5 — where the banded [[nearDedup]] prefilter
    * is probabilistic, this one can never miss; exact per-pair hamming
    * verification stays a batch/serving concern (the
    * prefilter/confirm split). B is the caller's dedup-horizon choice
    * (the `semanticDedup(bits)` rule — a stream cannot observe corpus
    * size; batch derives it): state is C(B,5) longs per distinct
    * signature, the mediaDedup claim-volume class. */
  def simhashBlocksDedup(
      docs: DataFrame, bB: Int = 10, horizonMs: Option[Long] = None,
      lateness: String = "0 seconds"): Dataset[BandClaim] = {
    graft.functions.GraftRuntime.ensure(docs.sparkSession)
    bandClaims(horizonMs, lateness) { ts =>
      docs
        .selectExpr(Seq("doc_id",
          s"simhash_block_keys(split(trim(text), '\\\\s+'), $bB) AS bks") ++ ts: _*)
        .where("bks IS NOT NULL")
        .selectExpr(Seq("doc_id", "explode(bks) AS bucket") ++ ts: _*)
    }
  }

  final case class ItemClaim(bucket: Long, item_key: Long, keeper_key: Long)

  /** Streaming perceptual MEDIA dedup — the incremental twin of
    * `q_media_dedup`'s candidate tier: each arriving image / video
    * frame / audio payload is dHashed over its REAL decoded 8×8 grid
    * (gray pixels for rasters, Walsh–Hadamard band energies for audio)
    * ([[graft.multimodal.Media.dHashItems]] — a stateless flatMap, the
    * expensive decode rides the stream as a pure map), the 56-bit hash
    * emits the SAME 57 hamming-ball probe keys as the batch ball join
    * ([[graft.multimodal.Media.BALL_FLIP_SQL]], VERDICT r16 #1 — the
    * r16 band buckets had a 2^14 key floor), and per ball key the
    * first item to arrive claims it. An item is a near-dup CANDIDATE
    * iff any of its claims has `keeper_key != item_key` — i.e. an
    * earlier item sits at hamming ≤ 2 (or equal hash): the batch
    * candidate semantics, computed incrementally AND exact at radius 2
    * (ball-key sharing ⟺ distance ≤ 2, the midpoint theorem); exact
    * per-pair verification stays a batch/serving concern, the
    * prefilter/confirm split of the text pipelines. Item key packs
    * (media_id, frame_no) via the guarded [[graft.multimodal.Media
    * .ikeySql]]; `bucket` IS the 56-bit ball key.
    *
    * TWO-LEVEL claim tier (round 17, closes the 57-writes-per-item
    * headroom): stage 1 is an exact-collapse state keyed by the RAW
    * dHash — only the FIRST arrival of each distinct hash fans out its
    * 57 ball keys; every later arrival emits ONE probe row on the raw
    * hash, which the first arrival's own ball set contains, so stage 2
    * resolves its keeper with a single state read. The candidate SET
    * is unchanged (an exact-dup item always finds its hash's first
    * arrival; a first arrival shares a midpoint bucket with an earlier
    * neighbour's fan-out iff hamming ≤ 2 — every earlier item's ball
    * is claimed by that hash's first arrival at an id ≤ its own), the
    * batch-twin gate proves it, and state writes drop from 57·items to
    * 57·H + (items − H) — on a dup-heavy media stream the dominant
    * term is the cheap probe, exactly where production volume lives.
    * Out-of-order arrivals follow the firstClaim protocol at BOTH
    * levels (a lower key arriving later is a loser, never a keeper
    * steal). */
  def mediaDedup(
      media: Dataset[graft.multimodal.Media.MediaRecord]): Dataset[ItemClaim] = {
    val spark = media.sparkSession
    import spark.implicits._
    graft.functions.GraftRuntime.ensure(spark)
    val items = graft.multimodal.Media.dHashItems(media)
      .selectExpr(s"${graft.multimodal.Media.ikeySql} AS ikey", "dhash")
      .as[(Long, Long)]
    // stage 1: exact-collapse — first arrival per distinct hash fans
    // out the ball, later arrivals probe the raw hash only
    val keyed = items.groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (dhash, rows, state: GroupState[Long]) =>
          val ids = rows.map(_._1).toSeq.sorted
          val first = !state.exists
          if (first) state.update(1L)
          ids.iterator.zipWithIndex.flatMap { case (id, i) =>
            if (first && i == 0)
              graft.multimodal.Media.ballKeys(dhash).iterator.map(b => (id, b))
            else Iterator.single((id, dhash))
          }
      }
    firstClaim(keyed)(ItemClaim.apply)
  }

  /** Horizon-bounded twin of [[mediaDedup]] (round 19, VERDICT r18 #1):
    * the input DataFrame carries the MediaRecord columns plus an
    * event-time `ts` TIMESTAMP column, and BOTH state tiers evict at
    * the dedup horizon — stage 1's per-distinct-hash collapse state and
    * stage 2's per-ball-key claim state each expire once the watermark
    * passes their keeper's claim time + `horizonMs`. The two tiers stay
    * consistent by construction: a ball bucket's claim time IS the
    * fanning arrival's event time, i.e. stage 1's claim time for that
    * hash, so an item whose hash re-fans-out after the horizon finds
    * its old ball claims expired too (both sides use watermark-time
    * visibility, the [[firstClaimHorizon]] rule). The watermark is
    * re-declared between the tiers — a flatMapGroupsWithState output
    * attribute carries no event-time tag — with the same `lateness`,
    * so the stage-2 watermark tracks the same event-time column.
    *
    * Requires `statefulOperator.checkCorrectness` relaxed AT START
    * TIME: the analyzer flags EVERY watermark-above-stateful pattern
    * because a generic flatMapGroupsWithState may emit rows older than
    * watermark + delay (late downstream). Stage 1 here emits only rows
    * stamped with their OWN input row's event time — inputs the
    * stage-1 watermark already admitted — and stage 2 runs the same
    * lateness, so no emitted row can be late at stage 2 by
    * construction. The caller wraps its `.start()` in
    * [[relaxedStatefulCheck]] (ADVICE r19: the override is scoped to
    * the one query whose safety proof this is, never left disabled on
    * the shared session). */
  def mediaDedupHorizon(
      media: DataFrame, horizonMs: Long,
      lateness: String = "0 seconds"): Dataset[ItemClaim] = {
    val spark = media.sparkSession
    import spark.implicits._
    graft.functions.GraftRuntime.ensure(spark)
    require(horizonMs > 0, s"dedup horizon must be positive, got $horizonMs ms")
    val recs = media
      .select(
        struct(col("media_id"), col("kind"), col("payload"), col("meta")).as("_1"),
        col("ts").as("_2"))
      .as[(graft.multimodal.Media.MediaRecord, java.sql.Timestamp)]
    val items = graft.multimodal.Media.dHashItemsTs(recs)
      .selectExpr(s"${graft.multimodal.Media.ikeySql} AS ikey", "dhash", "ts")
      .withWatermark("ts", lateness)
      .as[(Long, Long, java.sql.Timestamp)]
    // stage 1: horizoned exact-collapse — first arrival per LIVE distinct
    // hash fans out the ball, later arrivals probe the raw hash only
    val keyed = items.groupByKey(_._2)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, java.sql.Timestamp)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (dhash, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val stored = state.getOption.filter(st => satAdd(st._2, horizonMs) > wm)
            val evs = rows.toSeq.sortBy(_._1)
            val first = stored.isEmpty
            val claimMs = if (first) evs.head._3.getTime else stored.get._2
            state.update((1L, claimMs))
            state.setTimeoutTimestamp(math.max(satAdd(claimMs, horizonMs), wm + 1))
            evs.iterator.zipWithIndex.flatMap { case ((id, _, ts), i) =>
              if (first && i == 0)
                graft.multimodal.Media.ballKeys(dhash).iterator.map(b => (id, b, ts))
              else Iterator.single((id, dhash, ts))
            }
          }
      }
    firstClaimHorizon(
      keyed.toDF("ikey", "bucket", "ts")
        .withWatermark("ts", lateness)
        .as[(Long, Long, java.sql.Timestamp)], horizonMs)(ItemClaim.apply)
  }

  /** Run `start` — which must synchronously `.start()` its streaming
    * query — with `statefulOperator.checkCorrectness` disabled,
    * restoring the session's prior value before returning (ADVICE r19:
    * the raw `spark.conf.set` left the analyzer safety check silently
    * off for every LATER streaming query on the shared session). Safe
    * to restore right after `.start()`: the start-time analysis check
    * runs synchronously inside it, and the running stream re-analyzes
    * batches against the session CLONE captured at start. Only
    * [[mediaDedupHorizon]] queries (watermark re-declared between two
    * stateful stages, safety proven in its scaladoc) need this. */
  def relaxedStatefulCheck[A](spark: SparkSession)(start: => A): A = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try start
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  final case class CellClaim(cell: Int, vec_id: Long, keeper_id: Long, dot: Double)

  /** Streaming SEMANTIC dedup — the incremental twin of the batch
    * SemDeDup pipeline (`q_dedup_semantic`): each arriving embedding is
    * assigned to a hyperplane-sign cell by the SAME plane family as the
    * batch kernel ([[graft.queries.Similarity.semCellCol]], `sem#` seed
    * space), and per cell the state holds the EXEMPLARS kept so far. A
    * new arrival is compared (exact per-row double dot, index order)
    * against its cell's exemplars: the first match at dot ≥ 0.35 claims
    * it (`keeper_id` = that exemplar, `dot` = the matching similarity);
    * otherwise the vector becomes a new exemplar and claims itself.
    *
    * Scale accounting: state per cell is the cell's EXEMPLAR list,
    * which the corpus-scaled cell geometry bounds by design (expected
    * cell occupancy ≈ SEM_CELL_TARGET when `bits` is sized to the
    * expected corpus — a streaming deployment picks `bits` for its
    * dedup horizon, since an unbounded stream has no corpus count to
    * derive it from). The state store shards by cell; per-arrival work
    * is |exemplars-in-cell| dots, never corpus-wide. Within a
    * micro-batch rows process in vec_id order, so the exemplar choice
    * is deterministic for any batch arrangement of one arrival order.
    *
    * Input schema: (vec_id LONG, embedding ARRAY<FLOAT> of 64). */
  def semanticDedup(vecs: DataFrame, bits: Int = 8): Dataset[CellClaim] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    graft.functions.GraftRuntime.ensure(spark)
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    vecs
      .select(col("vec_id"), col("embedding"),
        graft.queries.Similarity.semCellCol("embedding", bits).cast("int").as("cell"))
      .as[(Long, Seq[Float], Int)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[List[(Long, Seq[Float])], CellClaim](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (cell, rows, state: GroupState[List[(Long, Seq[Float])]]) =>
          var kept = state.getOption.getOrElse(Nil)
          val out = rows.toSeq.sortBy(_._1).map { case (id, emb, _) =>
            kept.iterator
              .map(k => (k._1, dot(k._2, emb)))
              .find(_._2 >= 0.35) match {
              case Some((keeper, d)) => CellClaim(cell, id, keeper, d)
              case None =>
                kept = kept :+ ((id, emb))
                CellClaim(cell, id, id, dot(emb, emb))
            }
          }
          state.update(kept)
          out.iterator
      }
  }

  final case class UserStats(user_id: Long, n_events: Long, sum_value: Double)

  /** Per-user running counters on the Spark 4 `transformWithState`
    * arbitrary-state API (state-store v2): one `ValueState` cell per
    * user updated in place, an updated row emitted per user per
    * micro-batch. The v2 API is the scale successor of
    * `flatMapGroupsWithState` — typed state cells (value/list/map) with
    * per-cell TTL, queryable state metadata, and RocksDB changelog
    * checkpointing behind it. */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserStats] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)](
        "stats",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStats] = {
      var (n, total) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { e => n += 1; total += e.value }
      state.update((n, total))
      Iterator.single(UserStats(key, n, total))
    }
  }

  final case class HotToken(shard: Int, t: String, lb: Long)

  /** Sharded streaming Misra–Gries: each shard (token-hash bucket) keeps
    * ONE O(k) summary in a `ValueState` cell, updated per micro-batch —
    * the streaming twin of `q_heavy_hitters`, same algorithm object
    * ([[graft.functions.MisraGries]]). A token lives in exactly one
    * shard, so each summary covers its shard's full substream and the
    * per-shard guarantee holds across any batch boundaries: after any
    * batch, a token with substream frequency > n_shard/(k+1) is present.
    * Shards bound state at `shards × k` counters TOTAL regardless of
    * vocabulary size — contrast a per-token counter stream, whose state
    * grows with the vocabulary. Union-with-prune of the shard summaries
    * (mergeable summaries) yields the global candidate set. */
  class MgShardProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (Int, String), HotToken] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]](
        "mg",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Int,
        rows: Iterator[(Int, String)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HotToken] = {
      val buf =
        if (state.exists()) graft.functions.MisraGries.deserialize(state.get())
        else new java.util.HashMap[String, Long]()
      rows.foreach(r => graft.functions.MisraGries.ingest(buf, r._2, k))
      state.update(graft.functions.MisraGries.serialize(buf))
      graft.functions.MisraGries.sorted(buf).iterator
        .map { case (t, lb) => HotToken(key, t, lb) }
    }
  }

  /** Streaming heavy-hitter candidates over a text-document stream
    * (Update mode: each batch re-emits the updated shard summaries). */
  def hotTokens(docs: DataFrame, k: Int = 16, shards: Int = 8): Dataset[HotToken] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("t"))
      .select(
        (((xxhash64(col("t")) % shards) + shards) % shards).cast("int").as("shard"),
        col("t"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .transformWithState(
        new MgShardProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Running per-user stats stream (Update mode). Needs the RocksDB
    * state store provider (set by [[graft.io.Sessions]] for streaming
    * workloads or per query). */
  def runningStats(events: Dataset[Event]): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One micro-batch of the idempotent foreachBatch sink, exposed so a
    * crash-replay (same batchId delivered twice) is directly testable:
    * the batch is merged to one row per event_id — the lexicographic
    * MINIMUM of (ts, user_id, event_type, value), a TOTAL order, so a
    * replay reproduces the identical row even when two records share
    * (event_id, ts) (min_by on ts alone would be tie-arbitrary across
    * partial-merge orders) — and written with DYNAMIC partition
    * overwrite into its own `batch_id=<id>` partition. A replayed
    * batch overwrites exactly its own partition instead of
    * double-appending: idempotent DELIVERY on top of at-least-once
    * semantics, with no streaming-native sink required. */
  def upsertBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch
      .groupBy(col("event_id"))
      .agg(min(struct(col("ts"), col("user_id"), col("event_type"), col("value"))).as("m"))
      .select(
        col("event_id"), col("m.ts").as("ts"), col("m.user_id").as("user_id"),
        col("m.event_type").as("event_type"), col("m.value").as("value"))
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Merge-on-read keyed view of the sink directory: one row per
    * event_id — the row from the HIGHEST batch_id that wrote the key
    * (latest write wins; within a batch [[upsertBatch]] already merged
    * to one row, so batch_id alone is a total order per key). One hash
    * aggregate keyed on event_id (batch_id leads the max-struct, no
    * window sort, no list buffers) — the same plan at 100 partitions or
    * 100 TB of them. Readers get exactly-once per-key semantics over
    * the at-least-once append-of-partitions physical layout. */
  def keyedView(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .groupBy(col("event_id"))
      .agg(max(struct(
        col("batch_id"), col("ts"), col("user_id"), col("event_type"), col("value"))).as("m"))
      .select(
        col("event_id"), col("m.ts").as("ts"), col("m.user_id").as("user_id"),
        col("m.event_type").as("event_type"), col("m.value").as("value"),
        col("m.batch_id").as("batch_id"))

  /** Periodic compaction: fold every partition with batch_id <=
    * `upToBatch` into the single partition `batch_id=upToBatch` (its
    * content becomes the keyed view of those batches), then delete the
    * superseded partitions. Crash-safe for readers at every step: the
    * compacted partition carries the highest batch_id of the folded
    * range, so [[keyedView]]'s latest-wins merge returns identical rows
    * whether the stale partitions are still present (crash before
    * delete) or gone. `upToBatch` must not exceed the last COMMITTED
    * batch — the one micro-batch Structured Streaming may replay after
    * a crash is the uncommitted head, and a replay overwrites its own
    * partition wholesale. Bounds merge-on-read amplification: readers
    * touch one compacted partition plus the uncompacted tail. */
  def compact(spark: SparkSession, outDir: String, upToBatch: Long): Unit = {
    // stage → publish: Spark refuses (rightly) to overwrite a path it is
    // reading, so the folded view materializes to a scratch dir first —
    // the same write-temp-then-commit shape a production compactor uses
    val tmpDir = s"$outDir.compact-tmp-$upToBatch"
    spark.read.parquet(outDir)
      .filter(col("batch_id") <= upToBatch)
      .groupBy(col("event_id"))
      .agg(max(struct(
        col("batch_id"), col("ts"), col("user_id"), col("event_type"), col("value"))).as("m"))
      .select(
        col("event_id"), col("m.ts").as("ts"), col("m.user_id").as("user_id"),
        col("m.event_type").as("event_type"), col("m.value").as("value"))
      .write.mode("overwrite").parquet(tmpDir)
    // publish into exactly the batch_id=upToBatch partition (dynamic
    // overwrite commits staged files, so a crash mid-publish leaves the
    // previous partition content in place)
    spark.read.parquet(tmpDir)
      .withColumn("batch_id", lit(upToBatch))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
    // the folded partition now shadows every older one per key — delete
    // the stale partitions (a crash before/midway leaves correctness
    // intact, only the space savings pending)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch_id=")) {
        val id = name.stripPrefix("batch_id=").toLong
        if (id < upToBatch) fs.delete(st.getPath, true)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
  }

  // ---- claim-ledger persistence (round 18, VERDICT r17 #5) ----------------
  // The keyedView/compact machinery applied to claim ledgers: a
  // long-running dedup_claim direction appends one micro-batch of
  // claims per trigger, and the ledger grows without bound. Claims are
  // FIRST-arrival-wins (the firstClaim protocol), so the ledger fold is
  // the mirror image of the event upsert's latest-wins: one row per
  // (bucket, id) from the LOWEST batch that wrote it. A ledger row's
  // schema is positional — (bucket, idCol, keeperCol) — shared by the
  // doc ledgers (doc_id/keeper_id) and the media ledger
  // (item_key/keeper_key).

  /** Idempotent per-batch claim delivery: fold the batch per
    * (bucket, id) (min keeper — idempotent, deterministic), stamp
    * batch_id, dynamic-overwrite that one partition. A crash-replayed
    * micro-batch overwrites its own partition wholesale, exactly the
    * [[upsertBatch]] contract. Used by DistMain for claim-op stages. */
  def upsertClaimBatch(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    val Array(bCol, iCol, kCol) = batch.columns
    batch
      .groupBy(col(bCol), col(iCol))
      .agg(min(col(kCol)).as(kCol))
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Merge-on-read first-arrival-wins view of a claim ledger: one row
    * per (bucket, id), keeper from the LOWEST batch_id that wrote the
    * key (batch_id leads the min-struct — no window sort, one hash
    * aggregate at any ledger size). A legacy flat ledger (no batch_id)
    * passes through unchanged. */
  def claimView(spark: SparkSession, outDir: String): DataFrame = {
    val df = spark.read.parquet(outDir)
    if (!df.columns.contains("batch_id")) df
    else {
      val Seq(bCol, iCol, kCol) = df.columns.filterNot(_ == "batch_id").toSeq
      df.groupBy(col(bCol), col(iCol))
        .agg(min(struct(col("batch_id"), col(kCol))).as("m"))
        .select(col(bCol), col(iCol), col(s"m.$kCol").as(kCol))
    }
  }

  /** Periodic ledger compaction: fold every partition with batch_id <=
    * `upToBatch` into the partition labeled with the LOWEST folded
    * batch id — first-arrival-wins means the compacted rows must keep
    * winning ties against any stale partition a crash leaves behind
    * (the mirror of [[compact]]'s highest-label rule for latest-wins
    * upserts). Crash-safe at every step: [[claimView]] returns
    * identical rows whether the superseded partitions are still
    * present or gone. `upToBatch` must not exceed the last COMMITTED
    * batch (the replayable head must stay out of the fold). */
  def compactClaims(spark: SparkSession, outDir: String, upToBatch: Long): Unit = {
    val all = spark.read.parquet(outDir)
    require(all.columns.contains("batch_id"),
      s"compactClaims expects a batch_id-partitioned claim ledger at $outDir")
    val Seq(bCol, iCol, kCol) = all.columns.filterNot(_ == "batch_id").toSeq
    val olds = all.filter(col("batch_id") <= upToBatch)
    // documented no-op when nothing is old enough to fold — min(batch_id)
    // over an empty frame is NULL and would NPE below (ADVICE r18)
    if (olds.isEmpty) return
    val minB = olds.agg(min(col("batch_id"))).head().getAs[Number](0).longValue()
    val tmpDir = s"$outDir.compact-tmp-$upToBatch"
    olds
      .groupBy(col(bCol), col(iCol))
      .agg(min(struct(col("batch_id"), col(kCol))).as("m"))
      .select(col(bCol), col(iCol), col(s"m.$kCol").as(kCol))
      .write.mode("overwrite").parquet(tmpDir)
    spark.read.parquet(tmpDir)
      .withColumn("batch_id", lit(minB))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch_id=")) {
        val id = name.stripPrefix("batch_id=").toLong
        if (id > minB && id <= upToBatch) fs.delete(st.getPath, true)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
  }

  /** foreachBatch idempotent sink — the production pattern when the
    * target is not streaming-native: Structured Streaming guarantees
    * batchId is monotonic and replayed verbatim after a crash, and
    * [[upsertBatch]] makes each DELIVERY idempotent. Cross-batch key
    * collapse is finished by [[keyedView]] (merge-on-read, latest batch
    * wins) and [[compact]] (periodic fold of old partitions); a keyed
    * TARGET (JDBC upsert / MERGE on event_id) gets the same result for
    * free at delivery time. */
  def idempotentSink(
      events: DataFrame, outDir: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => upsertBatch(batch, id, outDir))
      .option("checkpointLocation", checkpoint)
      .start()

  /** File-source entry: tail a directory of parquet events (schema from
    * the batch table) and stream the windowed aggregation to parquet. */
  def run(spark: SparkSession, inDir: String, outDir: String, checkpoint: String): Unit = {
    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema).parquet(inDir)
    windowedAgg(stream).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)
      .start()
      .awaitTermination()
  }

  /** Catch-up run: process everything currently in `inDir` with
    * `Trigger.AvailableNow` (rate-limited micro-batches, then stop).
    * The incremental-backfill mode for a 100 TB directory: repeated
    * invocations resume from the checkpoint and only read new files,
    * giving exactly-once batch-style runs on streaming semantics. */
  def runOnce(spark: SparkSession, inDir: String, outDir: String, checkpoint: String): Unit = {
    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema).parquet(inDir)
    windowedAgg(stream).writeStream
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)
      .start()
      .awaitTermination()
  }
}
