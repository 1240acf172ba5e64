package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable capability: a Spark-first implementation plus, where the
  * semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle query
  * over the same parquet tables (driver hash-compares the two at sf0.01).
  *
  * Determinism rules that keep the hash-compare honest across engines:
  *  - never hash a float aggregate: sums/avgs go through DECIMAL casts;
  *    per-row IEEE double arithmetic is fine (bit-identical in both);
  *  - cross-engine hashing uses md5 (identical hex in Spark and DuckDB);
  *  - orderings always carry a unique tie-break column.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object Q {
  /** Query with a DuckDB oracle. */
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle.stripMargin.trim), fn)

  /** One dialect-shared SQL string executed verbatim by BOTH engines:
    * Spark runs it via `spark.sql` over the registered table views, the
    * oracle runs the identical text in DuckDB — exercising the SQL-text
    * entry path of the engine. */
  def sqlShared(name: String, sql: String): Q = {
    val text = sql.stripMargin.trim
    Q(name, Some(text), (s: SparkSession, dir: String) => {
      graft.io.Tables.registerAll(s, dir)
      s.sql(text)
    })
  }
}
