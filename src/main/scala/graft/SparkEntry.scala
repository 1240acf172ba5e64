package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from the per-category modules under
  * [[graft.queries]]; each entry pairs a Spark-first implementation with a
  * DuckDB oracle (in `oracleSql`) where the semantics are SQL-expressible.
  */
object SparkEntry {

  /** The query modules, labelled, in declaration order (the module
    * label is what `docs/queries.md` shows). */
  def modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.queries,
    "Breadth" -> Breadth.queries,
    "TpchShapes" -> TpchShapes.queries,
    "TextAnalysis" -> TextAnalysis.queries,
    "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries,
    "Events" -> Events.queries,
    "Multimodal" -> Multimodal.queries,
    "Sampling" -> Sampling.queries,
    "Bpe" -> Bpe.queries,
    "Curation" -> Curation.queries,
    "Html" -> Html.queries,
    "LangId" -> LangId.queries,
    "Url" -> Url.queries)

  /** All registered capability queries, in declaration order. */
  def allQueries: Seq[Q] = modules.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.functions.GraftRuntime.ensure(spark)
    allQueries.head.fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Every entry
    * self-installs the engine extensions so the queries run on any
    * session, not just ones built by [[graft.io.Sessions]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        graft.functions.GraftRuntime.ensure(s)
        q.fn(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
