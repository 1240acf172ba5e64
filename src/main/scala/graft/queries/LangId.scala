package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossHash.{duck, h}
import graft.io.CacheScope.Persisted
import graft.io.Tables

/** Trained character-n-gram language identification (round 18, VERDICT
  * r17 #1 — the fastText/CLD role; replaces the marker-word stand-in as
  * the engine's language-ID *model*; `q_text_langid` keeps the marker
  * heuristic as the baseline it is measured against).
  *
  * The corpus's `lang` column is a label with no textual signal (every
  * doc draws from one token vocabulary), so the MULTILINGUAL corpus is
  * DERIVED deterministically (the newline/HTML-corpus precedent): per
  * token one CrossHash decides — a third of tokens become a
  * language-specific function word (the marker lists ride along, so the
  * marker baseline stays meaningful), the rest take a language-specific
  * suffix (morphology only a character model can see); 'zh' gets
  * syllable chrome no marker list covers. The derivation is the
  * fixture; the OPERATORS under test are:
  *
  *  - `q_langid_train`: k one-vs-rest integer perceptrons — k is the
  *    CORPUS-DERIVED class count ([[langsOf]], round 19: a 20-language
  *    corpus trains 20 perceptrons with no code change) — over hashed
  *    character trigrams (B = [[LangB]] buckets + bias), trained
  *    [[LangR]] rounds on a BOUNDED content-hash sample
  *    ([[LangTrainDocBudget]] docs — the q_classifier_train rule, so
  *    per-round cost is constant at any corpus size). Output is the
  *    per-round per-class trajectory (train/held errors within the
  *    sample, weight L1) — the oracle re-derives the ENTIRE training
  *    run as unrolled CTEs, so the hash gate verifies every update.
  *  - `q_langid_score`: corpus-wide scoring under the trained model as
  *    ONE native per-row loop ([[graft.functions.LangIdScore]] via
  *    ColumnBridge — the hashed_score/dsir_score rule), first-index
  *    argmax over the sorted class list (ties → lexicographically
  *    smallest lang, mirrored by the oracle's min-among-maxima),
  *    correctness flag against the declared label.
  *
  * LangIdSpec pins trained held-out accuracy ≥ the marker baseline on
  * the same derived corpus (and a fixed floor), and pins the native
  * expression against the SQL trigram formulation. */
object LangId {

  /** Trigram hash buckets; slot [[LangB]] is the bias. A model
    * invariant — every consumer must carry LangB+1 weights/class. */
  private[graft] final val LangB = 1024
  private final val LangR = 3 // fixed training rounds (the bounded-loop rule)
  private[graft] final val LangTrainDocBudget = 256

  /** (lang, function words, suffixes) — one table renders the Spark
    * derivation, the DuckDB derivation and the training class list, so
    * nothing can drift. en/de/fr/es function words INCLUDE the marker
    * lists (TextAnalysis.markers) so the marker baseline stays
    * meaningful on the derived corpus; 'zh' is invisible to markers by
    * construction. en keeps tokens unsuffixed (identity morphology). */
  private[graft] val langTables: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("en", Seq("the", "a", "of", "and", "is", "to"), Seq.empty),
    ("de", Seq("der", "die", "das", "und", "ist", "nicht"), Seq("en", "ung", "keit", "lich")),
    ("fr", Seq("le", "la", "les", "et", "est", "ne"), Seq("eux", "tion", "ment", "ier")),
    ("es", Seq("el", "los", "las", "y", "es", "no"), Seq("cion", "dad", "ando", "oso")),
    ("zh", Seq("ma", "ne", "ba", "ge", "hen", "shi"), Seq("zhou", "feng", "ming", "hua")))

  // NOTE: langTables' keys are the FIXTURE languages (the derivation
  // arms), NOT the class set — classes are corpus-derived ([[langsOf]],
  // round 19, VERDICT r18 #6). A corpus lang outside the table derives
  // as identity text (the `else x.t` arm) and still trains its own
  // perceptron (LangIdSpec's 10-class fixture proves it).

  /** Corpus-derived CLASS set: the distinct non-null declared langs,
    * sorted — a 20-language corpus trains 20 perceptrons with no code
    * change. A bounded |classes|-row collect (the sid-map rule),
    * memoized per (session, dir); the oracle mirrors it as a
    * row_number() OVER (ORDER BY lang) CTE, so the ci ↔ lang map can
    * never drift between engines. */
  private val classCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Seq[String]]]()
  private[graft] def langsOf(s: SparkSession, dir: String): Seq[String] = {
    val m = classCache.synchronized {
      var c = classCache.get(s)
      if (c == null) { c = scala.collection.concurrent.TrieMap.empty; classCache.put(s, c) }
      c
    }
    m.getOrElseUpdate(dir,
      // exported artifact dir → the persisted class list (ci order =
      // the trained sorted order, round 20); raw corpus → derive
      graft.io.ModelStore.loadLangid(s, dir).map(_._1).getOrElse(
        Tables(s, dir, "documents").select(col("lang")).distinct()
          .collect().map(_.getString(0)).filter(_ != null).sorted.toSeq))
  }

  private[graft] def sparkArr(ws: Seq[String]) =
    ws.map("'" + _ + "'").mkString("array(", ", ", ")")
  private def duckArr(ws: Seq[String]) =
    ws.map("'" + _ + "'").mkString("[", ", ", "]")

  /** The derived multilingual text (Spark SQL fragment over lang, text).
    * ONE hash per token ('ld#' salt) drives both the function-word
    * lottery (d % 3 = 0) and the table picks (d div 3 / d div 7) —
    * same token, same decision, different language tables. ASCII by
    * construction (the byte-trigram oracle contract). */
  private[graft] val derivedSql: String = {
    val arms = langTables.map { case (l, fw, suf) =>
      val fwPick =
        s"element_at(${sparkArr(fw)}, cast((x.d div 3) % ${fw.size} as int) + 1)"
      val rest =
        if (suf.isEmpty) "x.t"
        else s"concat(x.t, element_at(${sparkArr(suf)}, cast((x.d div 7) % ${suf.size} as int) + 1))"
      s"when '$l' then case when x.d % 3 = 0 then $fwPick else $rest end"
    }.mkString(" ")
    // the 't' field is ASCII-FORCED (non-ASCII code points map to '_'):
    // the native scorer hashes UTF-8 BYTE trigrams while training/oracle
    // hash character substrings, and the equivalence is ASCII-scoped
    // (ADVICE r18) — the gate makes the scoping enforced, not assumed.
    // The decision hash 'd' keeps the raw token (same lottery either way).
    "array_join(transform(" +
      s"transform(split(trim(text), '\\\\s+'), t -> named_struct(" +
      s"'t', regexp_replace(t, '[^ -~]', '_'), 'd', ${h("concat('ld#', t)")})), " +
      s"x -> case lang $arms else x.t end), ' ')"
  }

  /** DuckDB twin of [[derivedSql]], rendered from the same table. */
  private val duckDerived: String = {
    val arms = langTables.map { case (l, fw, suf) =>
      val fwPick = s"(${duckArr(fw)})[CAST((x.d // 3) % ${fw.size} AS INT) + 1]"
      val rest =
        if (suf.isEmpty) "x.t"
        else s"x.t || (${duckArr(suf)})[CAST((x.d // 7) % ${suf.size} AS INT) + 1]"
      s"WHEN '$l' THEN CASE WHEN x.d % 3 = 0 THEN $fwPick ELSE $rest END"
    }.mkString(" ")
    "array_to_string(list_transform(" +
      raw"list_transform(regexp_split_to_array(trim(text), '\s+'), t -> " +
      raw"{'t': regexp_replace(t, '[^ -~]', '_', 'g'), 'd': ${duck("'ld#' || t")}}), " +
      s"x -> CASE lang $arms ELSE x.t END), ' ')"
  }

  // ---- oracle: the unrolled training chain --------------------------------

  private def zCte(r: Int) =
    s"""z$r AS MATERIALIZED (
       |  SELECT l.doc_id, l.ci, l.y, l.held, CAST(sum(f.c * w.wt) AS BIGINT) AS z
       |  FROM lab2 l JOIN trn USING (doc_id) JOIN feat f USING (doc_id)
       |  JOIN w$r w ON w.ci = l.ci AND w.b = f.b
       |  GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  private def gwCtes(r: Int) =
    s"""g$r AS (
       |  SELECT z.ci, f.b, CAST(sum(z.y * f.c) AS BIGINT) AS g, CAST(sum(f.c) AS BIGINT) AS tc
       |  FROM z${r - 1} z JOIN feat f USING (doc_id)
       |  WHERE NOT z.held AND z.y * z.z <= 0
       |  GROUP BY 1, 2
       |), w$r AS MATERIALIZED (
       |  SELECT p.ci, p.b, p.wt + CAST(floor(
       |      CAST(coalesce(g.g, 0) * ${1000 >> (r - 1)} AS DOUBLE) / coalesce(g.tc, 1)) AS BIGINT) AS wt
       |  FROM w${r - 1} p LEFT JOIN g$r g ON p.ci = g.ci AND p.b = g.b
       |)""".stripMargin

  /** tok → lab → trn → feat → classes → w0 → z0,g1,w1 … w$LangR — the
    * training chain shared VERBATIM by the telemetry and scoring
    * oracles (one text, one model). The cls CTE is CORPUS-DERIVED
    * (r19): row_number over the sorted distinct langs, the exact twin
    * of [[langsOf]]. */
  private def langTrainCtes: String = {
    s"""lsrc AS (
       |  SELECT doc_id, lang, $duckDerived AS s FROM documents
       |), lab AS (
       |  SELECT doc_id, lang, (${duck("'lcv#' || doc_id::VARCHAR")} % 5 = 0) AS held
       |  FROM lsrc
       |), trn AS MATERIALIZED (
       |  SELECT doc_id FROM lsrc
       |  ORDER BY ${duck("'ltrn#' || doc_id::VARCHAR")}, doc_id LIMIT $LangTrainDocBudget
       |), feat AS MATERIALIZED (
       |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, ${duck("substr(s, CAST(i AS INT), 3)")} % $LangB AS b
       |    FROM lsrc, unnest(generate_series(1, length(s) - 2)) AS t(i))
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id, CAST($LangB AS BIGINT) AS b, CAST(1 AS BIGINT) AS c FROM lsrc
       |), cls AS (
       |  SELECT lang AS clang, CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS ci
       |  FROM (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL)
       |), lab2 AS (
       |  SELECT l.doc_id, c.clang, c.ci,
       |    CASE WHEN l.lang = c.clang THEN 1 ELSE -1 END AS y, l.held
       |  FROM lab l CROSS JOIN cls c
       |), w0 AS MATERIALIZED (
       |  SELECT ci, b, (b * 2654435761 + ci * 48271) % 2001 - 1000 AS wt
       |  FROM cls, (SELECT unnest(generate_series(0, $LangB)) AS b)
       |), ${(1 to LangR).map(r => zCte(r - 1) + ", " + gwCtes(r)).mkString(", ")}""".stripMargin
  }

  private def initWeights(k: Int): Array[Array[Long]] =
    Array.tabulate(k, LangB + 1) { (ci, b) =>
      (b.toLong * 2654435761L + ci.toLong * 48271L) % 2001L - 1000L
    }

  // ---- in-engine training ---------------------------------------------------

  private def lTrainIds(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        expr(h("concat('ltrn#', cast(doc_id as string))")).as("th"))
      .orderBy(col("th"), col("doc_id")).limit(LangTrainDocBudget)
      .select(col("doc_id"))

  /** The derived multilingual frame (doc_id, lang, s) — also read by
    * LangIdSpec for the marker baseline. */
  private[graft] def lDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), expr(derivedSql).as("s"))

  /** Trigram-bucket feature frame (doc_id, lang, held, b, c) + bias
    * rows. `sample` bounds the docs BEFORE derivation/explosion (the
    * clsFeat rule). */
  private def lFeat(
      s: SparkSession, dir: String, sample: Option[DataFrame] = None): DataFrame = {
    val docs0 = Tables(s, dir, "documents")
    val docs = sample match {
      case Some(ids) => docs0.join(broadcast(ids), Seq("doc_id"), "left_semi")
      case None => docs0
    }
    val base = docs
      .select(col("doc_id"), col("lang"), expr(derivedSql).as("s"))
      .withColumn("held",
        expr(s"${h("concat('lcv#', cast(doc_id as string))")} % 5") === 0)
    base
      .select(col("doc_id"), col("lang"), col("held"),
        // guard: sequence(1, n) steps DOWN for n < 1 (sequence(1,0) =
        // [1,0]), minting spurious trigram rows for sub-3-char docs,
        // while the oracle's generate_series(1, n) is empty (ADVICE
        // r18) — match the empty-range semantics explicitly
        explode(expr(
          "case when length(s) >= 3 then sequence(1, length(s) - 2) " +
            "else cast(array() as array<int>) end")).as("i"), col("s"))
      .select(col("doc_id"), col("lang"), col("held"),
        expr(s"${h("substring(s, cast(i as int), 3)")} % $LangB").as("b"))
      .groupBy(col("doc_id"), col("lang"), col("held"), col("b"))
      .agg(count(lit(1)).as("c"))
      .unionByName(base.select(col("doc_id"), col("lang"), col("held"),
        lit(LangB.toLong).as("b"), lit(1L).as("c")))
  }

  /** Eager 5-class training loop over the bounded sample: per round ONE
    * broadcast scoring aggregate and ONE ≤ 5·(B+1)-row integer gradient
    * collect (the trainClassifier shape with a class dimension).
    * Returns the 5×(B+1) weights and the trajectory rows. */
  private[graft] def trainLangId(
      s: SparkSession, dir: String): (Array[Array[Long]], Seq[(Int, String, Long, Long, Long)]) = {
    // r21 (VERDICT r20 #5): the k one-vs-rest rounds are pure INTEGER
    // arithmetic over the BOUNDED content-hash sample — z, the
    // per-class error counts and the gradient are order-free integer
    // sums and the weight update was always driver-side floor/divide —
    // so the whole loop runs on the feature rows collected ONCE
    // (≤ LangTrainDocBudget·(buckets + 1) thin rows, the trainPqCb /
    // trainClassifier precedent: bounded model data, never corpus
    // data). Value-identical to the r20 per-round Spark-job
    // formulation by construction (commutative integer sums; identical
    // IEEE division + floor, mirrored by the oracle's unrolled CTEs).
    val cls = langsOf(s, dir)
    val featRows = lFeat(s, dir, Some(lTrainIds(s, dir)))
      .select(col("doc_id"), col("lang"), col("held"), col("b"), col("c"))
      .collect()
    // (lang, held, [(b, c)]) per doc — lang/held are doc-constant
    val docs = featRows.groupBy(_.getLong(0)).toSeq.map { case (_, rows) =>
      (Option(rows.head.getString(1)), rows.head.getBoolean(2),
        rows.map(rw => (rw.getLong(3).toInt, rw.getLong(4))))
    }
    var wArr = initWeights(cls.size)
    val telemetry = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long)]
    for (r <- 0 to LangR) {
      for (ci <- cls.indices) {
        // y = 1 iff the declared lang IS this class (NULL lang -> -1,
        // the SQL when/otherwise semantics)
        val scored = docs.map { case (lang, held, bcs) =>
          val y = if (lang.contains(cls(ci))) 1L else -1L
          var z = 0L
          bcs.foreach { case (b, c) => z += c * wArr(ci)(b) }
          (y, held, z, bcs)
        }
        val te = scored.count(t => !t._2 && t._1 * t._3 <= 0).toLong
        val he = scored.count(t => t._2 && t._1 * t._3 <= 0).toLong
        telemetry += ((r, cls(ci), te, he, wArr(ci).map(math.abs).sum))
        if (r < LangR) {
          val g = new Array[Long](LangB + 1)
          val tc = new Array[Long](LangB + 1)
          val touched = new Array[Boolean](LangB + 1)
          scored.foreach { case (y, held, z, bcs) =>
            if (!held && y * z <= 0)
              bcs.foreach { case (b, c) =>
                g(b) += y * c; tc(b) += c; touched(b) = true
              }
          }
          val rate = 1000L >> r
          val wNew = wArr(ci).clone()
          var b = 0
          while (b <= LangB) {
            if (touched(b))
              wNew(b) += math.floor((g(b) * rate).toDouble / tc(b).toDouble).toLong
            b += 1
          }
          wArr = wArr.updated(ci, wNew)
        }
      }
    }
    (wArr, telemetry.toSeq)
  }

  /** Latest trained model per (session, dir) — the KernelMemo
    * builder/consumer protocol at model scale (q_langid_train is the
    * designated builder; the scorer trains on demand). */
  private val models =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Array[Array[Long]]]]()
  private def modelMap(s: SparkSession) = models.synchronized {
    var m = models.get(s)
    if (m == null) { m = scala.collection.concurrent.TrieMap.empty; models.put(s, m) }
    m
  }
  private[graft] def trainedModel(s: SparkSession, dir: String): Array[Array[Long]] =
    modelMap(s).getOrElseUpdate(dir,
      // exported artifact dir → persisted per-class weight rows (round
      // 20); raw corpus → train on demand
      graft.io.ModelStore.loadLangid(s, dir).map(_._2)
        .getOrElse(trainLangId(s, dir)._1))

  // ---- registered queries ---------------------------------------------------

  private def teleSql(r: Int) =
    s"""SELECT $r AS round, ci,
       |  CAST(sum(CASE WHEN NOT held AND y * z <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS train_err,
       |  CAST(sum(CASE WHEN held AND y * z <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS held_err
       |FROM z$r GROUP BY 1, 2""".stripMargin

  private def wl1Sql(r: Int) =
    s"SELECT $r AS round, ci, CAST(sum(abs(wt)) AS BIGINT) AS w_l1 FROM w$r GROUP BY 1, 2"

  val queries: Seq[Q] = Seq(

    Q(
      "q_langid_train",
      s"""WITH $langTrainCtes,
         |${zCte(LangR)},
         |tele AS (${(0 to LangR).map(teleSql).mkString("\nUNION ALL\n")}),
         |wl1 AS (${(0 to LangR).map(wl1Sql).mkString("\nUNION ALL\n")})
         |SELECT t.round, c.clang AS lang, t.train_err, t.held_err, w.w_l1
         |FROM tele t
         |JOIN wl1 w ON w.round = t.round AND w.ci = t.ci
         |JOIN cls c ON c.ci = t.ci""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (wArr, telemetry) = trainLangId(s, dir)
      modelMap(s).put(dir, wArr)
      telemetry.toDF("round", "lang", "train_err", "held_err", "w_l1")
    },

    Q(
      "q_langid_score",
      s"""WITH $langScoreCtes
         |SELECT doc_id, lang_declared, s_max, lang_predicted,
         |  (lang_predicted = lang_declared) AS correct
         |FROM pred""".stripMargin) { (s, dir) =>
      scoredFrame(s, dir)
        .withColumn("correct", col("lang_predicted") === col("lang_declared"))
    },

    // ---- confusion matrix: the eval a langid deployment reads ---------------
    // Per (declared, predicted) doc counts over the full corpus under
    // the trained model — accuracy, per-class recall and every
    // confusion cell fall out of these 25 integers. Same scored frame
    // (and oracle CTE chain) as q_langid_score: one formulation.
    Q(
      "q_langid_confusion",
      s"""WITH $langScoreCtes
         |SELECT lang_declared, lang_predicted, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      scoredFrame(s, dir)
        .groupBy(col("lang_declared"), col("lang_predicted"))
        .agg(count(lit(1)).as("n_docs"))
    })

  /** The corpus-wide scored/argmaxed frame (doc_id, lang_declared,
    * s_max, lang_predicted) under the trained model — shared by
    * q_langid_score and q_langid_confusion. The argmax is
    * FIRST-INDEX-of-max over the k-class score array: classes are
    * sorted, so ties resolve to the lexicographically smallest lang —
    * expressed identically by the oracle's min(clang)-among-maxima
    * (never a tie-arbitrary arg_max; docs/determinism.md tie-break rule). */
  private def scoredFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val cls = langsOf(s, dir)
    val wArr = trainedModel(s, dir)
    // the k×1025 model rides as a reference object — rendered as SQL
    // literals it would be the giant-literal parse hazard (r16 rule)
    val scoreCol = ColumnBridge.column(graft.functions.LangIdScore(
      ColumnBridge.expression(col("s")),
      wArr.map(ws => scala.collection.immutable.ArraySeq.unsafeWrapArray(ws): Seq[Long]).toSeq))
    val clsArr = cls.map("'" + _ + "'").mkString("array(", ", ", ")")
    lDocs(s, dir)
      .withColumn("sc", scoreCol)
      .select(col("doc_id"), col("lang").as("lang_declared"),
        expr("array_max(sc)").as("s_max"),
        expr(s"element_at($clsArr, cast(array_position(sc, array_max(sc)) as int))")
          .as("lang_predicted"))
  }

  /** Training chain + corpus scoring + argmax as CTE text ending in
    * `pred(doc_id, lang_declared, s_max, lang_predicted)` — shared by
    * the scoring and confusion oracles. Class-count-generic: nothing
    * here mentions a language by name (r19). */
  private def langScoreCtes: String =
    s"""$langTrainCtes,
       |sc AS (
       |  SELECT f.doc_id, w.ci, CAST(sum(f.c * w.wt) AS BIGINT) AS z
       |  FROM feat f JOIN w$LangR w USING (b)
       |  GROUP BY 1, 2
       |), mx AS (
       |  SELECT doc_id, CAST(max(z) AS BIGINT) AS s_max FROM sc GROUP BY 1
       |), pm AS (
       |  SELECT sc.doc_id, min(c.clang) AS lang_predicted
       |  FROM sc JOIN mx ON sc.doc_id = mx.doc_id AND sc.z = mx.s_max
       |  JOIN cls c ON c.ci = sc.ci
       |  GROUP BY sc.doc_id
       |), pred AS (
       |  SELECT d.doc_id, d.lang AS lang_declared, m.s_max, p.lang_predicted
       |  FROM lsrc d JOIN mx m USING (doc_id) JOIN pm p ON p.doc_id = d.doc_id
       |)""".stripMargin
}
