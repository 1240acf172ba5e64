package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.CrossHash.{duck, h}
import graft.io.CacheScope.Persisted
import graft.io.Tables

/** HTML / boilerplate extraction — the FIRST operator of any real crawl
  * pipeline (the RefinedWeb/trafilatura role; VERDICT r17 #2). The
  * corpus is clean text, so the HTML-wrapped corpus is DERIVED
  * deterministically (the newline-corpus precedent): every document is
  * wrapped in head/title chrome, a per-source nav bar, `<p>` paragraphs
  * broken after tokens ending 'e'/'p' (the q_dedup_lines_nl break
  * rule), and a per-source footer, with an `&amp;` entity in the title
  * exercising entity decode. Three operators over it:
  *
  *  - `q_html_extract`: tag-strip to text — block closers become line
  *    breaks, remaining tags strip to spaces, entities decode,
  *    whitespace normalizes. A pure codegen'd per-row regexp chain:
  *    ZERO exchanges, the shape that runs at crawl scale as a map
  *    stage (no HOF lambdas — the interpreted-lambda hazard).
  *  - `q_boilerplate_lines`: the boilerplate signal — a line appearing
  *    in ≥ [[BoilerMinDocs]] DISTINCT docs of the same source (nav and
  *    footer chrome by construction; shared content lines count too,
  *    which is exactly what line-level boilerplate detection is for).
  *    One line-df HashAggregate, O(total lines), never a pair join —
  *    the q_dedup_lines_nl machinery.
  *  - `q_html_pipeline`: the composed crawl front end — extract →
  *    remove boilerplate lines (flagged-ordinal cut, the
  *    q_dedup_line_removal_nl shape) → the ENGINE'S OWN quality gate
  *    (token floor + stopword ratio, TextAnalysis' shared rule) →
  *    per-language survivor counts.
  *
  * Reference scope note: the reference (PastorGL/datacooker-dist) has
  * no extraction operator — this is part of the LLM-pipeline extension
  * surface (SURVEY §2.2 scope). */
object Html {

  /** Boilerplate document-frequency threshold: a line is chrome when at
    * least this many DISTINCT docs of one source carry it. Mirrored as
    * a literal in every oracle. */
  private[graft] final val BoilerMinDocs = 3

  /** The derived HTML wrapper (Spark SQL fragment over doc_id, source,
    * text). Kept 1:1 with [[duckHtml]]. */
  private[graft] val htmlSql: String =
    """concat(
      |  '<html><head><title>doc &amp; ', cast(doc_id as string), '</title></head><body>',
      |  '<div class="nav">home about contact ', source, '</div>',
      |  '<p>', regexp_replace(text, '([a-z0-9]*[ep]) ', '$1</p><p>'), '</p>',
      |  '<div class="footer">copyright 2024 ', source, ' all rights reserved</div>',
      |  '</body></html>')""".stripMargin

  private[queries] val duckHtml: String =
    raw"""'<html><head><title>doc &amp; ' || CAST(doc_id AS VARCHAR) || '</title></head><body>'
      || '<div class="nav">home about contact ' || source || '</div>'
      || '<p>' || regexp_replace(text, '([a-z0-9]*[ep]) ', '\1</p><p>', 'g') || '</p>'
      || '<div class="footer">copyright 2024 ' || source || ' all rights reserved</div>'
      || '</body></html>'"""

  /** Extraction chain (Spark side): block closers → newline, tag strip
    * → space, entity decode AFTER stripping (decoding first could mint
    * fake tags from &lt;), whitespace normalization, edge trim. Every
    * step is a codegen'd string op. */
  private[graft] def extractSql(x: String): String =
    raw"""trim(both ' \n' from
      regexp_replace(regexp_replace(regexp_replace(
        replace(replace(replace(
          regexp_replace(regexp_replace($x, '</(p|div|title)>', chr(10)), '<[^>]*>', ' '),
          '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        ' *\n *', chr(10)), '\n+', chr(10)), ' +', ' '))"""

  private[queries] def duckExtract(x: String): String =
    raw"""trim(regexp_replace(regexp_replace(regexp_replace(
      replace(replace(replace(
        regexp_replace(regexp_replace($x, '</(p|div|title)>', chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
      ' *\n *', chr(10), 'g'), '\n+', chr(10), 'g'), ' +', ' ', 'g'), ' ' || chr(10))"""

  /** Shared oracle CTEs: derived html → extracted text → per-doc line
    * list → exploded numbered lines. Ends in `hlines`. */
  private def duckHtmlCtes: String =
    s"""hsrc AS (
       |  SELECT doc_id, lang, source, $duckHtml AS html FROM documents
       |), hext AS (
       |  SELECT doc_id, lang, source, html,
       |    ${duckExtract("html")} AS extracted
       |  FROM hsrc
       |), hseg AS (
       |  SELECT doc_id, lang, source, html, extracted,
       |    string_split(extracted, chr(10)) AS lines
       |  FROM hext
       |), hlines AS (
       |  SELECT doc_id, source, lines[i] AS line, CAST(i - 1 AS BIGINT) AS line_no,
       |    ${duck("lines[i]")} AS fp
       |  FROM hseg, unnest(generate_series(1, len(lines))) AS t(i)
       |)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- tag-strip extraction (map-only, zero exchanges) -------------------
    // Emits the extraction FINGERPRINT plus size stats (the
    // q_dedup_line_removal_nl rule: never hash-gate a raw multi-line
    // string); HtmlSpec asserts the actual reconstructed text.
    Q(
      "q_html_extract",
      s"""WITH $duckHtmlCtes
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(length(extracted) AS BIGINT) AS n_chars,
        |  ${duck("extracted")} AS extracted_fp
        |FROM hseg""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), expr(htmlSql).as("html"))
        .select(col("doc_id"), col("html"),
          expr(extractSql("html")).as("extracted"))
        .select(
          col("doc_id"),
          expr("cast(size(regexp_extract_all(html, '<[^>]*>', 0)) as bigint)").as("n_tags"),
          expr("cast(size(split(extracted, '\\n')) as bigint)").as("n_lines"),
          length(col("extracted")).cast("long").as("n_chars"),
          expr(h("extracted")).as("extracted_fp"))
    },

    // ---- boilerplate-line table (the per-source chrome signal) -------------
    Q(
      "q_boilerplate_lines",
      s"""WITH $duckHtmlCtes
        |SELECT source, fp, min(line) AS line,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM hlines
        |GROUP BY source, fp
        |HAVING count(DISTINCT doc_id) >= $BoilerMinDocs""".stripMargin) { (s, dir) =>
      // r20: count distinct docs first with scalar buffers only (a
      // `min(line)` STRING buffer demoted the whole chain to
      // SortAggregate — two corpus-wide sorts), min(line) via the
      // bounded join-back. r21 (VERDICT r20 #4): the line STRINGS never
      // explode at all — `line_fps(lines)` hashes inside the per-doc
      // row (the ngram_stats per-row rule; a post-explode h(line)
      // projection forces the generator to copy every line string into
      // the exploded stream), so the per-line stream is thin
      // (doc_id, source, line_no, fp) longs, and the few surviving
      // chrome strings re-attach by element_at(lines, line_no + 1)
      // against the cached per-doc array. min() semantics on the
      // subset are exact — every line of a surviving (source, fp)
      // group survives the join.
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr(s"split(${extractSql(htmlSql)}, '\\n')").as("lines"))
        .persistScoped() // regex chain + split once across both passes
      val fps = base.select(col("doc_id"), col("source"),
        posexplode(expr("line_fps(lines)")).as(Seq("line_no", "fp")))
      val boiler = fps
        .groupBy(col("source"), col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= BoilerMinDocs)
      fps.join(boiler, Seq("source", "fp"))
        .join(base, Seq("doc_id", "source"))
        .select(col("source"), col("fp"), col("n_docs"),
          element_at(col("lines"), col("line_no") + 1).as("line"))
        .groupBy(col("source"), col("fp"))
        .agg(min(col("line")).as("line"), max(col("n_docs")).as("n_docs"))
        .select(col("source"), col("fp"), col("line"), col("n_docs"))
    },

    // ---- composed crawl front end: extract → de-chrome → quality gate ------
    Q(
      "q_html_pipeline",
      s"""WITH $duckHtmlCtes,
        |boiler AS (
        |  SELECT source, fp FROM hlines
        |  GROUP BY source, fp
        |  HAVING count(DISTINCT doc_id) >= $BoilerMinDocs
        |), flagged AS (
        |  SELECT h.doc_id, h.line_no
        |  FROM hlines h JOIN boiler b ON h.source = b.source AND h.fp = b.fp
        |), perdoc AS (
        |  SELECT doc_id, list(line_no) AS cut FROM flagged GROUP BY doc_id
        |), cleaned AS (
        |  SELECT s.doc_id, s.lang,
        |    CASE WHEN p.cut IS NULL THEN s.lines
        |         ELSE list_filter(s.lines, (x, i) ->
        |           len(list_filter(p.cut, c -> c = i - 1)) = 0) END AS kept
        |  FROM hseg s LEFT JOIN perdoc p USING (doc_id)
        |), scored AS (
        |  SELECT doc_id, lang, kept,
        |    array_to_string(kept, chr(10)) AS qt,
        |    regexp_split_to_array(trim(array_to_string(kept, ' ')), '\\s+') AS w
        |  FROM cleaned
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN ${TextAnalysis.duckExtQuality("qt", "w")}
        |            THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |FROM scored
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          expr(s"split(${extractSql(htmlSql)}, '\\n')").as("lines"))
        .persistScoped() // feeds the line df AND the per-doc cut join
      // r21: the cut-list derivation needs only (line_no, fp) — hash
      // inside the per-doc row (line_fps) so the exploded stream is
      // thin longs, never line strings (the q_boilerplate_lines rule)
      val lines = base
        .select(col("doc_id"), col("source"),
          posexplode(expr("line_fps(lines)")).as(Seq("line_no", "fp")))
      val boiler = lines
        .groupBy(col("source"), col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= BoilerMinDocs)
        .select(col("source"), col("fp"))
      // the flagged subset is chrome lines only (~2/doc) — the bounded
      // list-collection exception (q_dedup_line_removal_nl rule)
      val perDoc = lines.join(boiler, Seq("source", "fp"))
        .groupBy(col("doc_id").as("p_doc"))
        .agg(collect_list(col("line_no")).as("cut"))
      base.join(perDoc, col("doc_id") === col("p_doc"), "left")
        .select(col("doc_id"), col("lang"),
          expr("""case when cut is null then lines
                 |else filter(lines, (x, idx) -> not exists(cut, c -> c = idx)) end"""
            .stripMargin).as("kept"))
        .select(col("doc_id"), col("lang"),
          // qt keeps the line structure (the \n-joined kept lines) for
          // the line-class rules; tokens are whitespace-split so the
          // word stream is unchanged (round 20, VERDICT r19 #4)
          expr("array_join(kept, '\\n')").as("qt"),
          expr("split(trim(array_join(kept, ' ')), '\\\\s+')").as("w"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(expr(TextAnalysis.extQualitySql("qt", "w")),
            1L).otherwise(0L)).as("kept"))
    })
}
