package graft.adapters

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator library as a pipeline SOURCE: `graftQuery` runs any
  * registered query from `graft.SparkEntry.queries` against a harness
  * table directory and feeds its result to any sink (optionally through
  * the task's SQL `transform`). This is the bridge between the two
  * engine surfaces — the config-driven copy/ETL runner (the reference's
  * contract) and the analytic operator registry built on top of it — so
  * a pipeline config can materialize, say, the deduplicated survivor
  * corpus or a per-source data card straight to parquet/JDBC/S3 without
  * writing a line of Scala:
  *
  * {{{
  * {"export": [{
  *   "source": {"adapter": "graftQuery", "path": "file:/data/sf",
  *              "params": {"query_name": "q_dedup_survivors"}},
  *   "dest":   {"adapter": "hadoopParquet", "path": "file:/data/out"}}]}
  * }}}
  *
  * `path` is the table directory the query reads (the driver-contract
  * `sfDir`); `part_count` repartitions the RESULT (results are usually
  * small aggregates — leave it 0). The query name is validated against
  * the live registry so a typo fails with the known-name list, same as
  * an unknown adapter verb would.
  */
final class GraftQueryInput extends InputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "graftQuery",
    "Run a registered graft operator query as this task's source stream",
    Seq("file:/testdata/sf0.01", "hdfs:///corpora/current"),
    Seq(
      ParamDef("query_name",
        "Name of a registered query (see docs/queries.md)", required = true),
      HadoopFiles.partitioningParam))

  def load(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf): ListMap[String, DataFrame] = {
    val qn = conf.str("query_name").get
    // self-healing on host-handed sessions: the registry's queries use
    // the native function surface (dot_dec, shingles, dec_cast, ...)
    graft.functions.GraftRuntime.ensure(spark)
    val registry = graft.SparkEntry.queries
    val fn = registry.getOrElse(
      qn,
      throw new IllegalArgumentException(
        s"graftQuery: unknown query '$qn'; registered: " +
          registry.keys.toSeq.sorted.mkString(", ")))
    // strip any URI scheme: the query registry reads through
    // spark.read.parquet, which accepts both, but Tables memoizes per
    // literal dir string — normalize so config and code paths share one
    // cache entry
    val dir = path.stripPrefix("file:")
    ListMap(name -> HadoopFiles.partition(fn(spark, dir), partCount, conf))
  }
}
